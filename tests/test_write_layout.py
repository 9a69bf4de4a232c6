"""Write layout: commits that carry rows are sized by bytes
(``catalog.sized_by_bytes``), not by the input's shuffle partitions — a
small insert or update adds ONE file per partition directory, on the base
table and on the ``__ivf`` layout — plus the two driver-side query-path
pins that ride with it (one-call vector literal, job-free centroid load).
"""

from __future__ import annotations

import uuid

import numpy as np
from pyspark.sql import functions as F

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.functions.distance import vector_lit
from modal_vector_db_spark.operators.ann import IVFIndex, IVFIndex2L
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat

K = 4


def _rows(lo, hi):
    return [
        {"text": f"doc {i} about topic {i % 7}", "category": i % 5, "n": i}
        for i in range(lo, hi)
    ]


def _jobs_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, its job ids)."""
    sc = spark.sparkContext
    gid = f"layout-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(gid))


def test_versioned_insert_and_update_add_one_base_file(spark, tmp_path):
    wh = str(tmp_path)
    db = VectorDB(
        spark, "wl_v", embedding_dim=8, create_new_table=True, warehouse=wh,
        versioned=True, stats_fields={"category": "double"},
    )
    db.insert(_rows(0, 200), embed_field="text")
    db.create_index(num_clusters=K, calibrate=False)

    base0 = set(vcat.resolve_files("wl_v", wh))
    ivf0 = set(vcat.resolve_files("wl_v__ivf", wh))
    # 180 new rows + 20 re-sent ones, like a replayed batch
    db.insert(_rows(180, 380), embed_field="text")
    base1 = set(vcat.resolve_files("wl_v", wh))
    ivf1 = set(vcat.resolve_files("wl_v__ivf", wh))
    assert db.num_rows() == 380
    assert len(base1 - base0) == 1
    assert 1 <= len(ivf1 - ivf0) <= K

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
    ivf0, _ = catalog._leaf_files("wl_p__ivf", wh)
    # the batch is persisted here (an index exists): the path whose cached
    # plan keeps shuffle.partitions without the byte-sized write
    db.insert(_rows(100, 200), embed_field="text")
    base1, _ = catalog._leaf_files("wl_p", wh)
    ivf1, _ = catalog._leaf_files("wl_p__ivf", wh)
    assert len(set(base1) - set(base0)) == 1
    assert 1 <= len(set(ivf1) - set(ivf0)) <= K
    assert db.num_rows() == 200


def test_ivf_load_is_job_free_and_matches_spark_read(spark, tmp_path):
    rng = np.random.default_rng(7)
    cents = rng.standard_normal((6, 16))
    path = str(tmp_path / "centroids")
    IVFIndex(cents).save(path, spark)

    loaded, jobs = _jobs_in_group(spark, lambda: IVFIndex.load(path, spark))
    assert jobs == []
    rows, spark_jobs = _jobs_in_group(
        spark, lambda: spark.read.parquet(path).orderBy("cluster_id").collect()
    )
    assert spark_jobs  # the probe does see jobs when there are some
    via_spark = np.array([r["centroid"] for r in rows])
    assert loaded.centroids.dtype == np.float64
    assert np.array_equal(loaded.centroids, via_spark)
    assert np.array_equal(loaded.centroids, cents)


def test_ivf2l_load_reads_coarse_table_job_free(spark, tmp_path):
    # the two-level loader reads its coarse table through IVFIndex.load;
    # the fine table is read lazily, per probed shard
    rng = np.random.default_rng(11)
    coarse = rng.standard_normal((3, 8))
    fine = [
        (c * 2 + j, c, rng.standard_normal(8).tolist())
        for c in range(3)
        for j in range(2)
    ]
    path = str(tmp_path / "centroids2l")
    IVFIndex2L(coarse, 2, fine_rows=fine).save(path, spark)

    loaded, jobs = _jobs_in_group(spark, lambda: IVFIndex2L.load(path, spark))
    assert jobs == []
    assert np.array_equal(loaded.coarse, coarse)
    assert loaded.fine_path == path + "__fine"


def test_vector_lit_matches_per_element_literals(spark):
    rng = np.random.default_rng(3)
    for vec in (
        rng.standard_normal(64),
        rng.standard_normal(5).astype(np.float32),
        [1, 2.5, -3e-300, 1e300],
    ):
        per_elem = F.array(*[F.lit(float(v)) for v in vec])
        got = spark.range(1).select(
            vector_lit(vec).alias("a"), per_elem.alias("b")
        ).first()
        assert got["a"] == got["b"] == [float(v) for v in vec]
