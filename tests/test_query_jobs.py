"""One Spark job per single query: reads take their schema from a parquet
footer (``catalog.footer_reader``) instead of a schema-inference job, the
collected ``query`` runs its top-k without the DISTINCT aggregate unless it
sees a duplicate, and the PQ codebooks a query reads on the driver are
read with pyarrow (the two-level fine centroids: ``tests/test_write_layout.py``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from modal_vector_db_spark import engine as engine_mod
from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.operators.pq import PQIndex
from modal_vector_db_spark.schema import ITEMS_SCHEMA
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat
from tests.conftest import executed_plans, jobs_in_group


def _rows(lo, hi):
    return [
        {"text": f"doc {i} about topic {i % 7}", "category": i % 5, "n": i}
        for i in range(lo, hi)
    ]


# -- job-free driver artifacts ---------------------------------------------


def test_pq_load_is_job_free_and_matches_spark_read(spark, tmp_path):
    rng = np.random.default_rng(5)
    books = rng.standard_normal((3, 4, 2))
    path = str(tmp_path / "codebooks")
    PQIndex(books).save(path, spark)

    loaded, jobs = jobs_in_group(spark, lambda: PQIndex.load(path, spark))
    assert jobs == []
    via_spark = np.empty_like(books)
    for r in spark.read.parquet(path).collect():
        via_spark[r["subspace"], r["code"]] = r["centroid"]
    assert np.array_equal(loaded.codebooks, via_spark)
    assert np.array_equal(loaded.codebooks, books)
    # the incomplete-grid ValueError: tests/test_pq.py


# -- jobs-per-call ceilings ---------------------------------------------------


def test_single_query_launches_one_job(spark, tmp_path):
    db = VectorDB(
        spark, "qj_p", embedding_dim=16, create_new_table=True, warehouse=str(tmp_path)
    )
    db.insert(_rows(0, 300), embed_field="text")
    db.create_index(num_clusters=4, calibrate=False)
    calls = {
        "exact": lambda: db.query("topic 3", k=5),
        "filtered": lambda: db.query("topic 3", k=5, filters={"category": 2}),
        "ivf": lambda: db.query("topic 3", k=5, use_index=True),
    }
    for fn in calls.values():
        fn()  # the first indexed read of a handle runs its consistency probe
    for name, fn in calls.items():
        res, jobs = jobs_in_group(spark, fn)
        assert len(res) == 5
        assert len(jobs) == 1, (name, jobs)


def test_versioned_stats_filtered_query_jobs_after_tombstone_delete(spark, tmp_path, monkeypatch):
    db = VectorDB(
        spark, "qj_v", embedding_dim=16, create_new_table=True, warehouse=str(tmp_path),
        versioned=True, stats_fields={"category": "double"},
    )
    db.insert(_rows(0, 300), embed_field="text")

    def ask():
        return db.query("topic 3", k=5, filters={"category": 2})

    _, jobs = jobs_in_group(spark, ask)
    assert len(jobs) == 1
    assert db.delete({"category": 2, "n": ("in", [2, 7, 12])}) == 3
    res, jobs = jobs_in_group(spark, ask)
    # the merge-on-read mask is read on the driver and applied as an IN
    # literal: the top-k is the only job
    assert len(jobs) == 1
    assert not {r.metadata["n"] for r in res} & {2, 7, 12}
    # a mask above the ceiling takes the broadcast anti-join, same rows
    monkeypatch.setattr(vcat, "IN_MASK_MAX_IDS", 2)
    masked, jobs = jobs_in_group(spark, ask)
    assert len(jobs) > 1
    assert _triples(masked) == _triples(res)


def test_small_update_job_budget(spark, tmp_path):
    """A 3-row update resolves on the driver: one matched scan, one id
    probe and the write — at most 6 Spark jobs on a versioned, indexed
    table with a pending mask, and no Python worker in any plan."""
    db = VectorDB(
        spark, "qj_upd", embedding_dim=16, create_new_table=True, warehouse=str(tmp_path),
        versioned=True, stats_fields={"category": "double"},
    )
    db.insert(_rows(0, 300), embed_field="text")
    db.create_index(num_clusters=4, calibrate=False)
    for i, (c, tag) in enumerate(((3, "x"), (4, "y"))):
        assert db.delete({"category": 2, "n": ("in", [2 + 15 * i, 7 + 15 * i, 12 + 15 * i])}) == 3
        head = vcat.current_version(db.name, db.warehouse)
        assert vcat._read_manifest(db.name, db.warehouse, head).get("tombstones")
        targets = [c + 10, c + 15, c + 20]
        call = {}

        def update():
            call["n"] = db.update({"category": c, "n": ("in", targets)}, {"tag": tag})

        plans, jobs = jobs_in_group(spark, lambda: executed_plans(spark, update))
        assert call["n"] == 3
        assert len(jobs) <= 6, jobs
        assert plans
        for p in plans:
            for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
                assert node not in p, p
        head = vcat.current_version(db.name, db.warehouse)
        assert not vcat._read_manifest(db.name, db.warehouse, head).get("tombstones")
        got = db.query("doc", k=300, filters={"tag": tag})
        assert sorted(r.metadata["n"] for r in got) == targets
    assert db.num_rows() == 294


@pytest.mark.parametrize("call", ["hybrid", "batch_ivf"])
def test_hybrid_and_batch_job_ceilings(spark, tmp_path, call):
    db = VectorDB(
        spark, f"qj_{call}", embedding_dim=16, create_new_table=True,
        warehouse=str(tmp_path),
    )
    db.insert(_rows(0, 300), embed_field="text")
    db.create_index(num_clusters=4, calibrate=False)
    qs = ["topic 3", "doc 12 about", "topic 5"]
    fn, ceiling, rows = {
        # BM25 from one projection: its aggregate's broadcast, the fused
        # top-k and the metadata join's broadcast, not a shuffle per step
        "hybrid": (lambda: db.query_hybrid("doc about topic 3", k=5), 4, 5),
        # the top-k carries the metadata: no second scan to resolve it
        "batch_ivf": (lambda: db.query_batch(qs, k=5, use_index=True).collect(), 3, 15),
    }[call]
    fn()  # the first indexed read of a handle runs its consistency probe
    res, jobs = jobs_in_group(spark, fn)
    assert len(res) == rows
    assert len(jobs) <= ceiling, jobs


# -- DISTINCT semantics --------------------------------------------------------


def _record_knn_distinct(monkeypatch):
    seen = []
    real = engine_mod.knn

    def spy(*args, **kwargs):
        seen.append(kwargs.get("distinct", False))
        return real(*args, **kwargs)

    monkeypatch.setattr(engine_mod, "knn", spy)
    return seen


def _load(spark, tmp_path, name, rows):
    src = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame(rows, ITEMS_SCHEMA).coalesce(1).write.parquet(src)
    db = VectorDB(
        spark, name, embedding_dim=4, create_new_table=True, warehouse=str(tmp_path)
    )
    db.load_from_parquet(src, build_index=False)
    return db


def _items(n):
    rng = np.random.default_rng(17)
    return [
        (f"id-{i:03d}", f'{{"n": {i}}}', [float(v) for v in rng.standard_normal(4)])
        for i in range(n)
    ]


def _triples(results):
    return [(r.id, r.metadata, r.distance) for r in results]


def _rows_of(rows):
    return [(r["id"], json.loads(r["metadata"]), r["distance"]) for r in rows]


def test_collected_query_reruns_distinct_plan_on_duplicates(spark, tmp_path, monkeypatch):
    items = _items(30)
    # bulk loads are not deduplicated: repeat the rows nearest the probe
    db = _load(spark, tmp_path, "qj_dup", items + items[:6] * 3)
    probe = items[0][2]
    assert db.num_rows() == 48

    seen = _record_knn_distinct(monkeypatch)
    got = db.query(probe, k=10)
    assert seen == [False, True]
    want = db.query(probe, k=10, as_dataframe=True).collect()
    assert _triples(got) == _rows_of(want)
    assert len({r.id for r in got}) == 10


def test_query_batch_on_repeated_rows_returns_k_rows(spark, tmp_path):
    items = _items(30)
    # bulk loads are not deduplicated: every row twice
    db = _load(spark, tmp_path, "qj_batch_dup", items + items)
    meta = {i: m for i, m, _ in items}
    probes = [items[0][2], items[5][2]]
    got = db.query_batch(probes, k=3).collect()
    for q_id, probe in enumerate(probes):
        rows = sorted((r for r in got if r["q_id"] == q_id), key=lambda r: (r["distance"], r["id"]))
        nearest = [r["id"] for r in db.query(probe, k=2, as_dataframe=True).collect()]
        # the nearest row's two copies, then the next row: k rows, not a
        # copy per stored duplicate
        assert [r["id"] for r in rows] == [nearest[0], nearest[0], nearest[1]], q_id
        assert all(r["metadata"] == meta[r["id"]] for r in rows)


def test_query_hybrid_on_repeated_rows_returns_k_distinct_rows(spark, tmp_path, monkeypatch):
    """A table holding every row twice gives query_hybrid k rows with
    distinct ids — the unique table's result; the dedup plan runs only
    when the collected rows repeat an id."""
    import modal_vector_db_spark.operators.hybrid as hybrid_mod

    rng = np.random.default_rng(5)
    items = [
        (f"id-{i:03d}", json.dumps({"n": i, "text": "alpha " * (1 + i % 3) + f"w{i}"}),
         [float(v) for v in rng.standard_normal(4)])
        for i in range(30)
    ]
    calls = []
    real = hybrid_mod.rrf_fuse
    monkeypatch.setattr(hybrid_mod, "rrf_fuse", lambda *a, **kw: calls.append(1) or real(*a, **kw))
    want = _load(spark, tmp_path, "qj_hyb_uniq", items).query_hybrid("alpha", k=3)
    assert len(calls) == 1  # no repeats: the one plan, as before
    got = _load(spark, tmp_path, "qj_hyb_dup", items + items).query_hybrid("alpha", k=3)
    assert len({r.id for r in got}) == len(got) == 3
    assert _triples(got) == _triples(want)
    assert len(calls) == 3


def test_collected_query_on_unique_rows_takes_no_fallback(spark, tmp_path, monkeypatch):
    items = _items(30)
    db = _load(spark, tmp_path, "qj_uniq", items)
    seen = _record_knn_distinct(monkeypatch)
    got = db.query(items[0][2], k=10)
    assert seen == [False]
    want = db.query(items[0][2], k=10, as_dataframe=True).collect()
    assert _triples(got) == _rows_of(want)


# -- footer schema ---------------------------------------------------------------


def _abs(name, wh, rels):
    return [os.path.join(catalog.db_path(name, wh), r) for r in rels]


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    wh = str(tmp_path)
    plain = VectorDB(spark, "fs_p", embedding_dim=8, create_new_table=True, warehouse=wh)
    plain.insert(_rows(0, 120), embed_field="text")
    plain.create_index(num_clusters=3, pq_m=2, calibrate=False)
    plain.create_text_index()
    plain.create_graph_index(calibrate=False)
    flat = VectorDB(spark, "fs_q", embedding_dim=8, create_new_table=True, warehouse=wh)
    flat.insert(_rows(0, 60), embed_field="text")
    flat.create_index(num_clusters=3, calibrate=False)

    stats = VectorDB(
        spark, "fs_v", embedding_dim=8, create_new_table=True, warehouse=wh,
        versioned=True, stats_fields={"category": "double"},
    )
    stats.insert(_rows(0, 120), embed_field="text")
    stats.create_index(num_clusters=3, pq_m=2, calibrate=False)
    stats.create_text_index()
    assert stats.delete({"n": ("in", [1, 2])}) == 2
    bare = VectorDB(
        spark, "fs_w", embedding_dim=8, create_new_table=True, warehouse=wh,
        versioned=True,
    )
    bare.insert(_rows(0, 60), embed_field="text")
    bare.create_index(num_clusters=3, calibrate=False)

    cases = {}
    for name in ("fs_p", "fs_p__text", "fs_p__hnsw", "fs_p__hnsw_nodes", "fs_q"):
        cases[name] = (
            lambda n=name: catalog.read_table(spark, n, wh),
            lambda n=name: spark.read.parquet(catalog.db_path(n, wh)),
        )
    for name in ("fs_v", "fs_v__text", "fs_w"):
        rels = vcat.resolve_files(name, wh)
        cases[name] = (
            lambda n=name, r=rels: vcat._read_files(spark, n, wh, r),
            lambda n=name, r=rels: spark.read.option(
                "basePath", vcat._ddir(n, wh)
            ).parquet(*_abs(n, wh, r)),
        )
    m = vcat._read_manifest("fs_v", wh, vcat.current_version("fs_v", wh))
    cases["tombstones"] = (
        lambda: vcat._tombstone_ids(spark, "fs_v", wh, m),
        lambda: spark.read.parquet(*_abs("fs_v", wh, m["tombstones"])),
    )

    for name, (footer, inferred) in cases.items():
        got, jobs = jobs_in_group(spark, footer)
        assert jobs == [], name
        want = inferred().schema
        assert got.schema == want, name
        assert got.schema.json() == want.json(), name
    # an indexed base carries its cluster_id (+ pq_code under PQ)
    assert {"cluster_id", "pq_code"} <= set(cases["fs_p"][0]().columns)
    assert "pq_code" not in cases["fs_q"][0]().columns
    assert {"cluster_id", "pq_code"} <= set(cases["fs_v"][0]().columns)
    assert "pq_code" not in cases["fs_w"][0]().columns
    assert any(c.startswith("_s_") for c in cases["fs_v"][0]().columns)


def test_footer_reader_falls_back_without_spark_key(spark, tmp_path):
    wh = str(tmp_path)
    os.makedirs(catalog.db_path("fs_arrow", wh))
    path = os.path.join(catalog.db_path("fs_arrow", wh), "part-0.parquet")
    pq.write_table(
        pa.table({"id": ["a", "b"], "x": pa.array([1.5, None], pa.float32())}), path
    )
    assert catalog.SPARK_SCHEMA_KEY not in (pq.read_metadata(path).metadata or {})
    got = catalog.read_table(spark, "fs_arrow", wh)
    assert got.schema == spark.read.parquet(catalog.db_path("fs_arrow", wh)).schema
    assert sorted(r["id"] for r in got.collect()) == ["a", "b"]
