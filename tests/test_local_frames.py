"""Driver rows reach Spark as Arrow local relations, and a write batch is
cached only when a derived store reads it besides the commit.

``catalog.local_frame`` is the one way the package builds a frame from
driver-side rows: Spark plans it as a ``LocalTableScan``, which needs no
Python worker, where ``createDataFrame(list)`` plans a ``Scan ExistingRDD``
over a Python RDD.  A ``Scan ExistingRDD`` fed by driver rows in a write or
batch-read plan is a regression.
"""

from __future__ import annotations

import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.schema import ITEMS_SCHEMA
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat
from tests.conftest import executed_plans

K = 4


def _rows(lo, hi):
    return [
        {"text": f"doc {i} about topic {i % 7}", "category": i % 5, "n": i}
        for i in range(lo, hi)
    ]


@pytest.mark.parametrize(
    "schema,rows",
    [
        (ITEMS_SCHEMA, [("a", '{"x": 1}', [0.1, 0.25, -3.5]), ("b", None, None),
                        ("c", "{}", [1e-7, 2.0, float(2**24 + 1)])]),
        ("q_id int, q_vec array<double>", [(0, [0.1, 0.2]), (1, [1e300, -0.0]), (2, None)]),
        ("q_id int, cluster_id int, q_vec array<double>", [(0, 3, [0.5]), (0, 7, [0.5])]),
        ("`id` int", [(1,), (None,), (-2**31,)]),
        ("`id` bigint", [(2**40,), (None,), (-1,)]),
        ("`id` string", [("u-1",), (None,), ("",)]),
        ("q_id int, term string", [(0, "spark"), (1, None)]),
        (ITEMS_SCHEMA, []),
        ("`id` bigint", []),
        ("q_id int, q_vec array<double>", []),
    ],
)
def test_local_frame_matches_create_dataframe(spark, schema, rows):
    got = catalog.local_frame(spark, iter(rows), schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_write_and_batch_plans_scan_no_python_rdd(spark, tmp_path):
    db = VectorDB(
        spark, "lf_plans", embedding_dim=8, create_new_table=True,
        warehouse=str(tmp_path), versioned=True,
        stats_fields={"category": "double"},
    )
    db.insert(_rows(0, 200), embed_field="text")
    db.create_index(num_clusters=K, calibrate=False)
    assert db.delete({"category": 2, "n": ("in", [2, 7, 12])}) == 3
    calls = {
        "insert": lambda: db.insert(_rows(180, 260), embed_field="text"),
        "query_batch": lambda: db.query_batch(
            ["topic 3", "doc 12 about"], k=5, use_index=True
        ).collect(),
        # the head carries a mask: the fold probes it as a driver-local frame
        "masked_update": lambda: db.update(
            {"category": 3, "n": ("in", [13, 18, 23])}, {"tag": "x"}
        ),
    }
    for name, fn in calls.items():
        plans = executed_plans(spark, fn)
        assert plans, name
        assert any("LocalTableScan" in p for p in plans), name
        assert not any("ExistingRDD" in p for p in plans), (name, plans)
    assert db.num_rows() == 257


def _persisted_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _spy_persist(spark, monkeypatch):
    """Record every ``persist`` call (on the session's concrete DataFrame
    class, which overrides the abstract one)."""
    seen = []
    cls = type(spark.range(0))
    real = cls.persist

    def spy(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", spy)
    return seen


def test_indexed_versioned_writes_without_derived_stores_cache_nothing(
    spark, tmp_path, monkeypatch
):
    wh = str(tmp_path)
    db = VectorDB(
        spark, "lf_nocache", embedding_dim=8, create_new_table=True,
        warehouse=wh, versioned=True, stats_fields={"category": "double"},
    )
    db.insert(_rows(0, 200), embed_field="text")
    db.create_index(num_clusters=K, calibrate=False)
    assert not db._batch_cached()

    before = _persisted_ids(spark)
    at_commit = []
    for attr in ("append", "replace_where"):
        real = getattr(vcat, attr)

        def commit(*args, _real=real, **kwargs):
            at_commit.append(_persisted_ids(spark) - before)
            return _real(*args, **kwargs)

        monkeypatch.setattr(vcat, attr, commit)
    persisted = _spy_persist(spark, monkeypatch)

    base0 = set(vcat.resolve_files("lf_nocache", wh))
    db.insert(_rows(180, 380), embed_field="text")
    base1 = set(vcat.resolve_files("lf_nocache", wh))
    assert db.update({"category": 3, "n": ("in", [13, 18, 23])}, {"tag": "x"}) == 3
    base2 = set(vcat.resolve_files("lf_nocache", wh))

    assert persisted == []
    assert at_commit == [set(), set()]
    # an un-persisted batch ends in a shuffle AQE coalesces: one file each
    assert len(base1 - base0) == 1
    assert len(base2 - base1) == 1
    assert db.num_rows() == 380
    assert sorted(
        r.metadata["n"] for r in db.query("doc", k=400, filters={"tag": "x"})
    ) == [13, 18, 23]


def test_text_index_keeps_the_batch_cached_and_syncs_once(spark, tmp_path, monkeypatch):
    wh = str(tmp_path)
    db = VectorDB(
        spark, "lf_text", embedding_dim=8, create_new_table=True,
        warehouse=wh, versioned=True,
    )
    db.insert(_rows(0, 60), embed_field="text")
    db.create_index(num_clusters=K, calibrate=False)
    db.create_text_index()
    assert db._batch_cached()
    n0 = db._read_text_meta()["n"]

    synced = []
    real = VectorDB._sync_text_index_for_append

    def sync(self, batch, *args, **kwargs):
        level = batch.storageLevel
        synced.append(level.useMemory or level.useDisk)
        return real(self, batch, *args, **kwargs)

    monkeypatch.setattr(VectorDB, "_sync_text_index_for_append", sync)
    persisted = _spy_persist(spark, monkeypatch)
    # 30 new rows and 10 re-sent ones
    db.insert(_rows(50, 90), embed_field="text")

    assert persisted, "the batch a text index reads must be cached"
    assert synced == [True]
    assert db.num_rows() == 90
    assert db._read_text_meta()["n"] == n0 + 30
    postings = vcat.read_table(spark, "lf_text__text", wh)
    assert postings.select("id").distinct().count() == 90
    assert postings.groupBy("id", "term").count().filter("count > 1").count() == 0
    assert [r.id for r in db.query_hybrid("topic 3", k=5, use_text_index=True)] == [
        r.id for r in db.query_hybrid("topic 3", k=5)
    ]
