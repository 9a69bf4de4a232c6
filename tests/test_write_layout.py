"""Write layout: commits that carry rows are sized by bytes
(``catalog.sized_by_bytes``), not by the input's shuffle partitions — a
small insert or update adds ONE file per partition directory of the base
table, which on an indexed table is the IVF layout — plus the two driver-side query-path
pins that ride with it (a vector literal whose py4j cost does not grow with
dim, job-free centroid load).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import functions as F

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.functions.distance import vector_lit
from modal_vector_db_spark.operators.ann import IVFIndex, IVFIndex2L
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat
from tests.conftest import jobs_in_group

K = 4


def _rows(lo, hi):
    return [
        {"text": f"doc {i} about topic {i % 7}", "category": i % 5, "n": i}
        for i in range(lo, hi)
    ]


def test_versioned_insert_and_update_add_one_base_file(spark, tmp_path):
    wh = str(tmp_path)
    db = VectorDB(
        spark, "wl_v", embedding_dim=8, create_new_table=True, warehouse=wh,
        versioned=True, stats_fields={"category": "double"},
    )
    db.insert(_rows(0, 200), embed_field="text")
    db.create_index(num_clusters=K, calibrate=False)

    base0 = set(vcat.resolve_files("wl_v", wh))
    # 180 new rows + 20 re-sent ones, like a replayed batch
    db.insert(_rows(180, 380), embed_field="text")
    base1 = set(vcat.resolve_files("wl_v", wh))
    assert db.num_rows() == 380
    # one file for the whole batch: cluster_id is an in-file column
    assert len(base1 - base0) == 1
    assert not vcat.table_exists("wl_v__ivf", wh)

    assert db.update({"category": 3, "n": ("in", [13, 18, 23])}, {"tag": "x"}) == 3
    base2 = set(vcat.resolve_files("wl_v", wh))
    assert len(base2 - base1) <= 1
    assert db.num_rows() == 380


def test_plain_insert_adds_one_file(spark, tmp_path):
    wh = str(tmp_path)
    db = VectorDB(spark, "wl_p", embedding_dim=8, create_new_table=True, warehouse=wh)
    db.insert(_rows(0, 100), embed_field="text")
    db.create_index(num_clusters=K, calibrate=False)

    base0, _ = catalog._leaf_files("wl_p", wh)
    # the indexed base is the IVF layout, a partitionBy append that
    # multiplies the batch's partitions by the cluster directories without
    # the byte-sized write.  The one copy of the batch adds one file per
    # touched cluster directory, and nothing else is written
    db.insert(_rows(100, 200), embed_field="text")
    base1, pcols = catalog._leaf_files("wl_p", wh)
    assert pcols == ["cluster_id"]
    assert 1 <= len(set(base1) - set(base0)) <= K
    assert not catalog.table_exists("wl_p__ivf", wh)
    assert db.num_rows() == 200


def test_ivf_load_is_job_free_and_matches_spark_read(spark, tmp_path):
    rng = np.random.default_rng(7)
    cents = rng.standard_normal((6, 16))
    path = str(tmp_path / "centroids")
    IVFIndex(cents).save(path, spark)

    loaded, jobs = jobs_in_group(spark, lambda: IVFIndex.load(path, spark))
    assert jobs == []
    rows, spark_jobs = jobs_in_group(
        spark, lambda: spark.read.parquet(path).orderBy("cluster_id").collect()
    )
    assert spark_jobs  # the probe does see jobs when there are some
    via_spark = np.array([r["centroid"] for r in rows])
    assert loaded.centroids.dtype == np.float64
    assert np.array_equal(loaded.centroids, via_spark)
    assert np.array_equal(loaded.centroids, cents)


def test_ivf2l_load_reads_coarse_table_job_free(spark, tmp_path):
    # the two-level loader reads its coarse table through IVFIndex.load;
    # the fine table is read lazily on the driver, per probed shard or
    # whole for assign
    rng = np.random.default_rng(11)
    coarse = rng.standard_normal((3, 8))
    fine = [
        (c * 2 + j, c, rng.standard_normal(8).tolist())
        for c in range(3)
        for j in range(2)
    ]
    path = str(tmp_path / "centroids2l")
    IVFIndex2L(coarse, 2, fine_rows=fine).save(path, spark)
    rows = spark.read.parquet(path + "__fine").orderBy("cluster_id").collect()

    loaded, jobs = jobs_in_group(spark, lambda: IVFIndex2L.load(path, spark))
    assert jobs == []
    assert np.array_equal(loaded.coarse, coarse)
    assert loaded.fine_path == path + "__fine"

    shard, jobs = jobs_in_group(spark, lambda: loaded._fine_of_coarse(1))
    assert jobs == []
    assert shard == [
        (r["cluster_id"], list(r["centroid"])) for r in rows if r["coarse_id"] == 1
    ]

    (ids, co, mat), jobs = jobs_in_group(spark, loaded._fine_matrix)
    assert jobs == []
    assert ids.tolist() == [r["cluster_id"] for r in rows]
    assert co.tolist() == [r["coarse_id"] for r in rows]
    assert np.array_equal(mat, np.array([r["centroid"] for r in rows]))


def _bits(xs):
    return [struct.pack("<d", x) for x in xs]


def test_vector_lit_matches_per_element_literals(spark, monkeypatch):
    rng = np.random.default_rng(3)
    for vec in (
        rng.standard_normal(64),
        rng.standard_normal(5).astype(np.float32),
        [1, 2.5, -3e-300, 1e300],
        [float("nan"), float("inf"), -float("inf"), -0.0, 0.0, 5e-324],
    ):
        per_elem = F.array(*[F.lit(float(v)) for v in vec])
        got = spark.range(1).select(
            vector_lit(vec).alias("a"), per_elem.alias("b")
        ).first()
        want = [float(v) for v in vec]
        assert _bits(got["a"]) == _bits(got["b"]) == _bits(want)
    mat = rng.standard_normal((3, 4))
    got = spark.range(1).select(vector_lit(mat).alias("m")).first()["m"]
    assert [_bits(r) for r in got] == [_bits(r) for r in mat.tolist()]

    # a fixed number of py4j calls at any dim, folded into one literal
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    real = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    counts = []
    for dim in (8, 1024):
        vec = rng.standard_normal(dim)
        calls.clear()
        col = vector_lit(vec)
        counts.append(len(calls))
    monkeypatch.undo()
    assert counts[0] == counts[1], counts
    plan = spark.range(1).select(col.alias("v"))._jdf.queryExecution().optimizedPlan()
    assert "from_json" not in plan.toString()
