"""ANN quality gates: IVF approximate top-k must hit recall@10 ≥ 0.9
against exact brute force on the embeddings fixture (SURVEY §5.2 item 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load
from modal_vector_db_spark.operators.ann import IVFIndex, brute_force_topk
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    df = load(spark, SF_DIR, "embeddings").cache()
    yield df
    # Unpersist so the cached relation doesn't substitute into later tests'
    # plans (the cache manager would replace the parquet scan with an
    # all-column InMemoryRelation, breaking column-pruning assertions).
    df.unpersist()


@pytest.fixture(scope="module")
def query_vecs(emb):
    rows = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    return {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}


def _recall(approx_ids, exact_ids):
    return len(set(approx_ids) & set(exact_ids)) / len(exact_ids)


def test_ivf_recall(emb, query_vecs):
    ivf = IVFIndex.build(emb, k=8)
    clustered = ivf.assign(emb).cache()
    recalls = []
    try:
        for qid, qv in query_vecs.items():
            exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
            # nprobe=6/8: the fixture vectors are uniform random (no cluster
            # structure — IVF's worst case), so recall needs a wide probe here;
            # real embedding corpora cluster and probe far fewer.
            approx = [r["vec_id"] for r in ivf.query(clustered, qv, k=10, nprobe=6).collect()]
            recalls.append(_recall(approx, exact))
        assert sum(recalls) / len(recalls) >= 0.9, recalls
    finally:
        clustered.unpersist()


def test_ivf_full_probe_is_exact(emb, query_vecs):
    """nprobe == num_clusters degenerates to exact search."""
    ivf = IVFIndex.build(emb, k=4)
    clustered = ivf.assign(emb)
    qv = next(iter(query_vecs.values()))
    exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
    approx = [r["vec_id"] for r in ivf.query(clustered, qv, k=10, nprobe=4).collect()]
    assert approx == exact


def test_ivf_save_load_roundtrip(emb, spark, tmp_path):
    ivf = IVFIndex.build(emb, k=4)
    path = str(tmp_path / "centroids")
    ivf.save(path, spark)
    loaded = IVFIndex.load(path, spark)
    import numpy as np

    assert np.allclose(ivf.centroids, loaded.centroids)


# ---------------------------------------------------------------------------
# Deterministic SRP-LSH pairs (the oracle-able embedding-dedup scale path)
# ---------------------------------------------------------------------------


def test_srp_hyperplanes_deterministic_and_bounded():
    from modal_vector_db_spark.operators.ann import srp_hyperplanes

    a = srp_hyperplanes(8, 16)
    b = srp_hyperplanes(8, 16)
    assert a == b  # md5-derived: same everywhere, no RNG library dependence
    assert len(a) == 8 and all(len(p) == 16 for p in a)
    assert all(-1000 <= w <= 1000 for p in a for w in p)


def test_srp_pairs_find_planted_exact_duplicates(emb, spark):
    """Identical vectors agree on every projection, so exact copies are
    guaranteed candidates in EVERY band — recall 1.0 by construction."""
    from modal_vector_db_spark.operators.ann import cosine_srp_pairs

    base = emb.select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    n_planted = planted.count()
    pairs = cosine_srp_pairs(base.union(planted), 0.999, 64).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for r in emb.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect():
        assert (r["vec_id"], r["vec_id"] + 100000) in found
    # at >= 0.999 nothing else in the fixture qualifies (verified vs
    # exhaustive DuckDB count in queries/dedup_queries.py's oracle)
    assert len(found) == n_planted
    assert all(r["cos_sim"] >= 0.999 for r in pairs)


def test_srp_pairs_carry_and_joinback_paths_agree(emb, spark, monkeypatch):
    """The carry path (one shuffle, vectors inline) and the high-dim
    join-back path (reached here by lowering the dim threshold) must
    produce the same pair set."""
    from modal_vector_db_spark.operators import ann
    from modal_vector_db_spark.operators.ann import cosine_srp_pairs

    base = emb.select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = base.union(planted)
    carry = {(r["id_a"], r["id_b"]) for r in cosine_srp_pairs(aug, 0.999, 64).collect()}
    monkeypatch.setattr(ann, "_CARRY_VECTORS_MAX_DIM", 63)
    joinback = {(r["id_a"], r["id_b"]) for r in cosine_srp_pairs(aug, 0.999, 64).collect()}
    assert carry == joinback


def test_srp_pairs_plan_has_no_cartesian_or_python(emb, spark):
    """The SRP pipeline must stay a banded equi-join: no nested-loop /
    cartesian pair generation, no Python in the loop, and exactly one
    repartition barrier feeding a reused exchange."""
    from modal_vector_db_spark.operators.ann import cosine_srp_pairs
    from modal_vector_db_spark.plans.inspect import nested_loop_join_count

    pairs = cosine_srp_pairs(emb.select("vec_id", "embedding"), 0.95, 64)
    assert nested_loop_join_count(pairs) == 0
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_srp_pandas_keys_match_expr(emb, spark):
    """The Arrow/numpy matmul path must produce BIT-IDENTICAL band keys to
    the native expression path (both are exact integer arithmetic packaged
    as float64 below 2^53 — any mismatch means a quantization or packing
    bug, not float noise)."""
    from modal_vector_db_spark.operators.ann import (
        srp_band_keys,
        srp_band_keys_pandas,
        srp_hyperplanes,
    )

    planes = srp_hyperplanes(24, 64)
    base = emb.select("vec_id", "embedding")
    expr_keys = {
        (r["vec_id"], r["bk"]["band"], r["bk"]["key"])
        for r in base.select(
            "vec_id", F.explode(srp_band_keys("embedding", planes, 4)).alias("bk")
        ).collect()
    }
    udf = srp_band_keys_pandas(planes, 4)
    pandas_keys = {
        (r["vec_id"], r["band"], r["key"])
        for r in base.select(
            "vec_id", F.posexplode(udf(F.col("embedding"))).alias("band", "key")
        ).collect()
    }
    assert expr_keys == pandas_keys


def _bits(v):
    import struct

    return None if v is None else "nan" if v != v else struct.pack("<d", v)


def test_driver_query_norm_is_bit_identical(spark):
    """The query norm folded once (on the driver for one query, on the
    query side of a batch's join) gives the distance the per-row fold
    gives, bit for bit — degenerate rows and queries included."""
    import numpy as np

    from modal_vector_db_spark.functions.distance import (
        cosine_distance,
        cosine_distance_to,
        vector_lit,
    )
    from modal_vector_db_spark.operators.ann import brute_force_topk_multi

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    rows += [
        (100, [0.0] * 8),  # zero-norm row
        (101, None),  # NULL embedding
        (102, [1.0, None] + [0.5] * 6),  # NULL element
        (103, [1.0] * 5),  # wrong length
        (104, [float("nan")] + [1.0] * 7),
    ]
    df = spark.createDataFrame(rows, "id int, embedding array<double>")
    queries = [
        [float(x) for x in rng.standard_normal(8)],
        [float(x) for x in rng.standard_normal(8).astype(np.float32)],
        [0.0] * 8,  # zero query vector
        [float("nan")] + [1.0] * 7,
    ]
    emb = F.col("embedding")
    for qv in queries:
        got = df.select(
            "id",
            cosine_distance(emb, vector_lit(qv)).alias("plan"),
            cosine_distance_to(emb, qv).alias("driver"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            assert _bits(r["plan"]) == _bits(r["driver"]), (qv, r["id"])

    # a batch projects each query's norm on the query side once
    from modal_vector_db_spark.operators.ann import ivf_topk_multi

    qdf = spark.createDataFrame(list(enumerate(queries)), "q_id int, q_vec array<double>")
    k = len(rows)
    key = lambda r: (r["q_id"], r["id"])  # noqa: E731
    plain = df.crossJoin(qdf).select(
        "q_id", "id", cosine_distance(emb, F.col("q_vec")).alias("distance")
    )
    want = [(key(r), _bits(r["distance"])) for r in sorted(plain.collect(), key=key)]
    one = F.lit(0).alias("cluster_id")
    for top in (
        brute_force_topk_multi(df, qdf, k=k, id_col="id"),
        ivf_topk_multi(df.select("*", one), qdf.select("*", one), k=k),
    ):
        got = top.collect()
        assert [(key(r), _bits(r["distance"])) for r in sorted(got, key=key)] == want


def test_pandas_cosine_close_to_expr(emb, spark):
    """The Arrow verify path must agree with the native expression to float
    noise (<1e-9 relative) — and the SRP pair SET at the 0.999 threshold
    must be identical (planted dups sit at cos=1.0, far from any ulp
    boundary)."""
    from modal_vector_db_spark.functions.distance import (
        cosine_similarity,
        cosine_similarity_pandas_udf,
    )
    from modal_vector_db_spark.operators.ann import cosine_srp_pairs

    base = emb.select("vec_id", "embedding")
    a = base.limit(50).select(F.col("vec_id").alias("ida"), F.col("embedding").alias("va"))
    b = base.limit(50).select(F.col("vec_id").alias("idb"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("ida") < F.col("idb"))
    pcos = cosine_similarity_pandas_udf()
    both = pairs.select(
        cosine_similarity(F.col("va"), F.col("vb")).alias("e"),
        pcos(F.col("va"), F.col("vb")).alias("p"),
    ).collect()
    assert both
    for r in both:
        assert abs(r["e"] - r["p"]) <= 1e-9 * max(1.0, abs(r["e"]))

    planted = base.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    aug = base.union(planted)
    expr_set = {(r["id_a"], r["id_b"]) for r in cosine_srp_pairs(aug, 0.999, 64).collect()}
    pand_set = {
        (r["id_a"], r["id_b"])
        for r in cosine_srp_pairs(aug, 0.999, 64, verify_impl="pandas").collect()
    }
    assert expr_set == pand_set


def test_ivf_sampled_fit_recall(emb, query_vecs):
    """Centroids fit on a 50% sample must still deliver the recall gate —
    the corpus-scale build recipe (fit on a sample, assign everything)."""
    ivf = IVFIndex.build(emb, k=8, sample_fraction=0.5)
    clustered = ivf.assign(emb).cache()
    try:
        for qid, qv in query_vecs.items():
            exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
            approx = [
                r["vec_id"]
                for r in ivf.query(clustered, qv, k=10, nprobe=8).collect()
            ]
            # nprobe == k (full probe) ⇒ exact regardless of centroid quality
            assert approx == exact, qid
        probed = [
            r["vec_id"] for r in ivf.query(clustered, query_vecs[0], k=10, nprobe=3).collect()
        ]
        exact0 = [r["vec_id"] for r in brute_force_topk(emb, query_vecs[0], k=10).collect()]
        assert _recall(probed, exact0) >= 0.5
    finally:
        clustered.unpersist()


def test_ivf_recall_default_nprobe_clustered(spark):
    """Recall gate at the DEFAULT nprobe (4, the engine's query default):
    on a corpus with real cluster structure — 16 well-separated Gaussian
    blobs, the shape actual embedding corpora have — IVF at nprobe=4 must
    hold recall@10 ≥ 0.9.  (The uniform embeddings.parquet fixture is the
    adversarial no-structure case and gets its own wider-probe gate above;
    this one pins the realistic operating point so a centroid/probe change
    can't silently degrade it.)"""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 32)) * 10.0
    pts = []
    for i in range(2000):
        c = i % 16
        pts.append((i, [float(x) for x in centers[c] + rng.normal(size=32)]))
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>").cache()
    try:
        ivf = IVFIndex.build(df, k=16)
        clustered = ivf.assign(df).cache()
        recalls = []
        for qid in range(0, 80, 16):
            qv = pts[qid][1]
            exact = [r["vec_id"] for r in brute_force_topk(df, qv, k=10).collect()]
            approx = [
                r["vec_id"] for r in ivf.query(clustered, qv, k=10, nprobe=4).collect()
            ]
            recalls.append(_recall(approx, exact))
        assert sum(recalls) / len(recalls) >= 0.9, recalls
        clustered.unpersist()
    finally:
        df.unpersist()


def test_pq_refine_sweep_recall(emb, query_vecs):
    """PQ/ADC refine sweep pinned: recall@10 grows with refine_factor (ADC
    candidates → exact rerank) and clears a floor at refine 8 — a codebook
    or ADC change that silently degrades the compressed path fails here."""
    import numpy as np

    from modal_vector_db_spark.operators.pq import PQIndex

    normed = emb.selectExpr(
        "vec_id",
        "transform(cast(embedding as array<double>), "
        "x -> x / greatest(aggregate(cast(embedding as array<double>), 0.0d, "
        "(a, v) -> a + v * v, a -> sqrt(a)), 1e-12)) AS embedding",
    )
    pq = PQIndex.train(normed, m=8)
    codes = pq.encode(normed).cache()
    try:
        by_rf = {}
        for rf in (1, 2, 8):
            recalls = []
            for qid, qv in query_vecs.items():
                qn = list(np.asarray(qv) / (np.linalg.norm(qv) or 1.0))
                exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
                got = [
                    r["vec_id"]
                    for r in pq.topk(
                        codes, qn, k=10, refine_df=normed, refine_factor=rf
                    ).collect()
                ]
                recalls.append(_recall(got, exact))
            by_rf[rf] = sum(recalls) / len(recalls)
        # monotone up to noise, and the refined end must be strong
        assert by_rf[2] >= by_rf[1] - 0.05, by_rf
        assert by_rf[8] >= by_rf[2] - 0.05, by_rf
        assert by_rf[8] >= 0.7, by_rf
    finally:
        codes.unpersist()


def test_ivf_cluster_count_guard(emb):
    """Flat-IVF k is bounded (MAX_IVF_CLUSTERS): centroids are a
    driver-side artifact (load collects, assign inlines plan literals), so
    an oversized k must fail loudly at build time, not degrade at load."""
    from modal_vector_db_spark.operators.ann import MAX_IVF_CLUSTERS

    with pytest.raises(ValueError, match="hierarchical"):
        IVFIndex.build(emb, k=MAX_IVF_CLUSTERS + 1)
    with pytest.raises(ValueError, match="out of range"):
        IVFIndex.build(emb, k=0)


# ---------------------------------------------------------------------------
# Two-level (hierarchical) IVF — the documented path past MAX_IVF_CLUSTERS
# ---------------------------------------------------------------------------
def test_ivf2l_full_probe_is_exact(emb, query_vecs, spark, tmp_path):
    """nprobe == total fine clusters degenerates to exact search, and the
    save/load round-trip serves queries WITHOUT ever loading the full fine
    table (load holds coarse only; probes read shard dirs)."""
    from modal_vector_db_spark.operators.ann import IVFIndex2L, load_ivf_index

    ivf = IVFIndex2L.build(emb, k1=2, k2=3)
    clustered = ivf.assign(emb).cache()
    try:
        qv = next(iter(query_vecs.values()))
        exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
        probes = ivf.nearest_centroids(qv, nprobe=6)
        pruned = clustered.filter(F.col("cluster_id").isin(probes))
        got = [r["vec_id"] for r in brute_force_topk(pruned, qv, k=10).collect()]
        assert got == exact

        path = str(tmp_path / "cent2l")
        ivf.save(path, spark)
        loaded = load_ivf_index(path, spark)
        assert type(loaded).__name__ == "IVFIndex2L"
        assert loaded._fine_rows is None  # NOT loaded — queries stay lazy
        probes2 = loaded.nearest_centroids(qv, nprobe=6)
        assert sorted(probes2) == sorted(probes)
        # assign through the loaded index reproduces the assignment
        re_assigned = loaded.assign(emb)
        diff = (
            clustered.select("vec_id", "cluster_id")
            .join(
                re_assigned.select("vec_id", F.col("cluster_id").alias("c2")),
                "vec_id",
            )
            .filter(F.col("cluster_id") != F.col("c2"))
            .count()
        )
        assert diff == 0
    finally:
        clustered.unpersist()


def test_ivf2l_recall_clustered(spark):
    """Partial-probe recall on the realistic clustered shape: 16 blobs,
    2-level 4x4 index, nprobe=4 fine clusters -> recall@10 >= 0.9."""
    import numpy as np

    from modal_vector_db_spark.operators.ann import IVFIndex2L

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(16, 24)) * 10.0
    pts = [
        (i, [float(x) for x in centers[i % 16] + rng.normal(size=24)])
        for i in range(1600)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>").cache()
    try:
        ivf = IVFIndex2L.build(df, k1=4, k2=4)
        clustered = ivf.assign(df).cache()
        recalls = []
        for qid in range(0, 64, 16):
            qv = pts[qid][1]
            exact = [r["vec_id"] for r in brute_force_topk(df, qv, k=10).collect()]
            probes = ivf.nearest_centroids(qv, nprobe=4)
            pruned = clustered.filter(F.col("cluster_id").isin(probes))
            got = [r["vec_id"] for r in brute_force_topk(pruned, qv, k=10).collect()]
            recalls.append(_recall(got, exact))
        assert sum(recalls) / len(recalls) >= 0.9, recalls
        clustered.unpersist()
    finally:
        df.unpersist()


@pytest.mark.slow
def test_engine_two_level_index_end_to_end(spark, tmp_path):
    """Facade path: create_index(two_level=True) -> indexed query matches
    exact; insert syncs new rows through the 2L assign; index_stats reports
    the fine cluster count; flat build past the cap points here."""
    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.operators.ann import MAX_IVF_CLUSTERS

    db = VectorDB(
        spark, "v2l", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    with pytest.raises(ValueError, match="two_level=True"):
        db.create_index(num_clusters=MAX_IVF_CLUSTERS + 1)
    db.create_index(num_clusters=9, two_level=True)  # k1=3, k2=3
    st = db.index_stats()
    assert st["clusters_total"] == 9
    exact = db.query("7", k=5)
    idx = db.query("7", k=5, use_index=True, nprobe=9)
    assert [r.id for r in idx] == [r.id for r in exact]
    # insert syncs through IVFIndex2L.assign (duck-typed with the flat path)
    db.insert([{"n": 200}], embed_field="n")
    exact = db.query("200", k=3)
    idx = db.query("200", k=3, use_index=True, nprobe=9)
    assert [r.id for r in idx] == [r.id for r in exact]
    # update() rewrites the 2L layout too (same mutation machinery)
    assert db.update({"n": 7}, {"tag": "x"}) == 1
    exact = db.query("7", k=5)
    idx = db.query("7", k=5, use_index=True, nprobe=9)
    assert [r.id for r in idx] == [r.id for r in exact]


@pytest.mark.slow
def test_flat_rebuild_clears_two_level_marker(spark, tmp_path):
    """create_index() flat over a previously two-level index must remove
    the 2L marker — a stale marker would pair the new flat centroids with
    the old fine table (silently wrong probes); maintain_index() on a 2L
    layout must rebuild TWO-LEVEL (a flat rebuild at the fine count could
    re-enter the driver-artifact regime the hierarchy avoids)."""
    import os

    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.sources.catalog import db_path

    db = VectorDB(
        spark, "v2lflip", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    db.insert([{"n": i} for i in range(40)], embed_field="n")
    db.create_index(num_clusters=6, two_level=True)
    marker = db_path("v2lflip__ivf_centroids", str(tmp_path)) + "__2l.json"
    assert os.path.exists(marker)
    # maintain_index rebuild keeps the hierarchy
    assert db.maintain_index(max_cluster_frac=0.0)  # force a rebuild
    assert os.path.exists(marker)
    st = db.index_stats()
    assert st["clusters_total"] == 6
    # explicit flat rebuild clears it
    db.create_index(num_clusters=4)
    assert not os.path.exists(marker)
    exact = db.query("7", k=5)
    idx = db.query("7", k=5, use_index=True, nprobe=4)
    assert [r.id for r in idx] == [r.id for r in exact]


def test_two_level_every_coarse_shard_seeded_and_assign_never_keyerrors(spark, emb):
    """ADVICE r6 (medium): the fine fit runs on a pre-SAMPLED input, so a
    coarse cluster can be empty at fit time yet still win argmin for a
    full-corpus row at assign/insert time — an unseeded shard KeyError'd
    the write path.  Build must seed every coarse id with at least one
    fine centroid, and assign must survive a layout that predates the
    seeding (global-nearest fallback)."""
    import numpy as np

    from modal_vector_db_spark.operators.ann import IVFIndex2L

    ivf = IVFIndex2L.build(emb, k1=4, k2=2)
    present = {co for _, co, _ in ivf._fine_rows}
    assert present == set(range(4))  # every coarse shard owns fine rows

    # legacy layout: drop one coarse shard's fine rows entirely, then
    # assign rows that coarse-route there — must fall back, not KeyError
    victim = 0
    legacy = IVFIndex2L(
        ivf.coarse, ivf.k2,
        fine_rows=[r for r in ivf._fine_rows if r[1] != victim],
    )
    assigned = legacy.assign(emb).select("vec_id", "cluster_id").collect()
    assert len(assigned) == emb.count()
    valid = {cid for cid, _, _ in legacy._fine_rows}
    fallback_ok = {cid for cid, _, _ in ivf._fine_rows}
    assert all(r["cluster_id"] in (valid | fallback_ok) for r in assigned)


def test_two_level_marker_records_actual_cluster_count(spark, tmp_path):
    """ADVICE r6 (low): duplicate-heavy shards emit fewer than k2 fine
    clusters; the saved marker must record the ACTUAL count (index_stats /
    rebuild sizing read it), not k1*k2."""
    import json

    from modal_vector_db_spark.operators.ann import IVFIndex2L

    # two tight clumps of IDENTICAL vectors: per-shard unique count is 1,
    # so each shard emits 1 fine cluster no matter how large k2 is
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(20)] + [
        (100 + i, [0.0, 1.0, 0.0, 0.0]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = IVFIndex2L.build(df, k1=2, k2=4)
    path = str(tmp_path / "idx2l")
    ivf.save(path, spark)
    with open(path + "__2l.json") as f:
        mk = json.load(f)
    assert mk["clusters_total"] == len(ivf._fine_rows)
    assert mk["clusters_total"] < mk["k1"] * mk["k2"]


@pytest.mark.slow
def test_two_level_shard_cache_second_query_zero_reads(spark, tmp_path, monkeypatch):
    """Round-6 verdict #3: nearest_centroids read one parquet shard dir per
    probed coarse id PER QUERY from the driver.  The engine now caches the
    loaded 2L handle per VectorDB instance (keyed on the marker's stat) and
    the handle memoizes fine-centroid shards — so a SECOND query must issue
    zero fine-shard reads and zero re-loads, with identical results.  A
    rebuild rewrites the marker and must invalidate the cache."""
    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.operators import ann as ann_mod

    db = VectorDB(
        spark, "v2lcache", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=9, two_level=True)

    # fine shards are read on the driver with pyarrow: count those reads
    import pyarrow.parquet as pq

    real_read_table = pq.read_table
    shard_reads = []

    def counting_read_table(source, *a, **k):
        if "__fine" in str(source):
            shard_reads.append(source)
        return real_read_table(source, *a, **k)

    monkeypatch.setattr(pq, "read_table", counting_read_table)
    first = [(r.id, r.distance) for r in db.query("7", k=5, use_index=True, nprobe=9)]
    cached = db._ivf2l_cache
    assert cached is not None and isinstance(cached[1], ann_mod.IVFIndex2L)
    assert shard_reads  # the first query does read its probed shards
    n_first = len(shard_reads)

    # a fresh load now blows up loudly; any fine-shard read is counted
    def no_load(cls, *a, **k):
        raise AssertionError("second query re-loaded the 2L index")

    with monkeypatch.context() as m:
        m.setattr(ann_mod.IVFIndex2L, "load", classmethod(no_load))
        second = [
            (r.id, r.distance) for r in db.query("7", k=5, use_index=True, nprobe=9)
        ]
    assert len(shard_reads) == n_first, "second query re-read a fine shard dir"
    assert second == first

    # a rebuild must MISS the stat key (fresh marker) and serve new state
    db.create_index(num_clusters=9, two_level=True)
    third = [(r.id, r.distance) for r in db.query("7", k=5, use_index=True, nprobe=9)]
    assert db._ivf2l_cache is not None and db._ivf2l_cache[1] is not cached[1]
    assert [t[0] for t in third] == [t[0] for t in first]  # same exact top-k


@pytest.mark.slow
def test_two_level_with_hybrid_and_time_travel(spark, tmp_path):
    """Intersection coverage: a TWO-LEVEL index behind query_hybrid
    (use_index=True, with and without use_text_index) must equal the
    scan-path fusion at full probe, and indexed time travel must serve
    verified pairs through the 2L loader too."""
    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.sources import versioned as vcat

    db = VectorDB(
        spark, "v2lhyb", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert(
        [{"text": f"alpha bravo doc{i} tok{i % 4}", "n": i} for i in range(30)],
        embed_field="text",
    )
    db.create_index(num_clusters=9, two_level=True)
    db.create_text_index(text_field="text")

    scan = [(r.id, r.distance) for r in db.query_hybrid("alpha doc3", k=6)]
    idx = [
        (r.id, r.distance)
        for r in db.query_hybrid("alpha doc3", k=6, use_index=True, nprobe=9)
    ]
    both = [
        (r.id, r.distance)
        for r in db.query_hybrid(
            "alpha doc3", k=6, use_index=True, use_text_index=True, nprobe=9
        )
    ]
    assert idx == scan
    assert both == scan

    # a later insert + indexed time travel through the ledger, 2L loader
    v0 = vcat.current_version(db.name, db.warehouse)
    db.insert([{"text": "alpha charlie late", "n": 99}], embed_field="text")
    old_scan = [(r.id, r.distance) for r in db.query_hybrid("alpha", k=6, version=v0)]
    old_idx = [
        (r.id, r.distance)
        for r in db.query_hybrid(
            "alpha", k=6, version=v0, use_index=True, use_text_index=True, nprobe=9
        )
    ]
    assert old_idx == old_scan


@pytest.mark.slow
def test_two_level_cache_keys_on_build_id_not_stat(spark, tmp_path):
    """Round-7 ADVICE: the engine's 2L handle cache keyed on the marker's
    (mtime_ns, size) — a same-size rebuild landing in one coarse-mtime
    tick would serve stale fine-centroid shards.  save() now stamps a
    unique build_id into the marker and the cache keys on it, so even a
    FORCED stat collision (utime back to the old mtime, same byte size)
    must miss and load the fresh handle."""
    import json
    import os

    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.sources.catalog import db_path

    db = VectorDB(
        spark, "v2lbid", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=9, two_level=True)
    db.query("7", k=5, use_index=True, nprobe=9)

    marker = db_path("v2lbid__ivf_centroids", str(tmp_path)) + "__2l.json"
    st0 = os.stat(marker)
    key0, handle0 = db._ivf2l_cache
    with open(marker) as f:
        mk0 = json.load(f)
    assert mk0["build_id"] == key0  # cache keys on the marker's build_id

    db.create_index(num_clusters=9, two_level=True)  # rebuild, same params
    # force the stat-collision the old key could not distinguish
    os.utime(marker, ns=(st0.st_atime_ns, st0.st_mtime_ns))
    st1 = os.stat(marker)
    assert (st1.st_mtime_ns, st1.st_size) == (st0.st_mtime_ns, st0.st_size)

    db.query("7", k=5, use_index=True, nprobe=9)
    key1, handle1 = db._ivf2l_cache
    assert key1 != key0 and handle1 is not handle0


@pytest.mark.slow
def test_2l_tolerates_null_and_zero_vectors(spark, tmp_path):
    """Review finding: one zero-norm/NULL embedding crashed the whole 2L
    build (int(NaN) in the NULL fit group) and every assign batch."""
    import numpy as np

    from modal_vector_db_spark.operators.ann import IVFIndex2L

    rows = [(i, [float(i % 7 + 1), float((3 * i) % 5 + 1)]) for i in range(40)]
    rows += [(100, [0.0, 0.0]), (101, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFIndex2L.build(df, vec_col="embedding", k1=2, k2=2, seed=1)
    out = {r["vec_id"]: r["cluster_id"] for r in idx.assign(df, "embedding").collect()}
    assert out[100] is None and out[101] is None  # NULL, never a crash
    assert all(out[i] is not None for i in range(40))

    # save/load round-trip from a LOADED handle (was order-dependent
    # TypeError: _fine_rows=None until assign lazily populated it)
    p1, p2 = str(tmp_path / "ix"), str(tmp_path / "ix2")
    idx.save(p1, spark)
    loaded = IVFIndex2L.load(p1, spark)
    loaded.save(p2, spark)  # must not require a prior assign()
    again = IVFIndex2L.load(p2, spark)
    out2 = {r["vec_id"]: r["cluster_id"] for r in again.assign(df, "embedding").collect()}
    assert out2 == out


def test_srp_plane_band_validation(spark):
    import pytest as _pytest

    from modal_vector_db_spark.operators.ann import cosine_srp_pairs

    df = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<double>")
    for planes, bands in ((25, 4), (8, 0), (3, 4)):
        with _pytest.raises(ValueError, match="num_planes"):
            cosine_srp_pairs(df, 0.9, 2, num_planes=planes, bands=bands)
