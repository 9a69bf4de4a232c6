"""Product-quantization tests: determinism, compression shape, ADC quality,
and the two-stage refine recall gate (vs exact L2 brute force)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.distance import sq_l2_distance, vector_lit
from modal_vector_db_spark.harness import load
from modal_vector_db_spark.operators.pq import PQIndex
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def pq(emb):
    return PQIndex.train(emb, m=8)


@pytest.fixture(scope="module")
def codes(pq, emb):
    return pq.encode(emb).select("vec_id", "pq_code").cache()


def _exact_topk_ids(emb, qv, k):
    return [
        r["vec_id"]
        for r in emb.select(
            "vec_id", sq_l2_distance(F.col("embedding"), vector_lit(qv)).alias("d")
        )
        .orderBy(F.col("d").asc_nulls_last(), F.col("vec_id").asc())
        .limit(k)
        .collect()
    ]


def test_train_is_deterministic(emb):
    a = PQIndex.train(emb, m=8)
    b = PQIndex.train(emb, m=8)
    assert np.array_equal(a.codebooks, b.codebooks)
    assert a.codebooks.shape == (8, 16, 8)  # 64-dim fixture / m=8


def test_encode_shape_and_range(codes):
    rows = codes.limit(50).collect()
    for r in rows:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])


def test_adc_reconstruction_orders_near_before_far(pq, emb, codes):
    """ADC distance of a vector to ITS OWN query must be far smaller than to
    a random distant query — the coarse ordering PQ must preserve."""
    some = emb.limit(1).collect()[0]
    own = pq.adc_scores(codes.filter(F.col("vec_id") == some["vec_id"]), some["embedding"])
    d_own = own.head()["adc_distance"]
    far_q = [10.0] * pq.dim
    d_far = pq.adc_scores(
        codes.filter(F.col("vec_id") == some["vec_id"]), far_q
    ).head()["adc_distance"]
    assert d_own < d_far


def test_refined_recall_at_10(pq, emb, codes):
    """Recall@10 of ADC + exact refine (factor 8) vs exact L2, averaged
    over 5 held-out queries, must clear 0.8 — the two-stage contract.
    (Plain ADC recall is looser — also sanity-checked at >= 0.3.)"""
    queries = [r["embedding"] for r in emb.orderBy("vec_id").limit(5).collect()]
    ref_recalls, adc_recalls = [], []
    for qv in queries:
        exact = set(_exact_topk_ids(emb, qv, 10))
        refined = {
            r["vec_id"]
            for r in pq.topk(codes, qv, k=10, refine_df=emb, refine_factor=8).collect()
        }
        plain = {r["vec_id"] for r in pq.topk(codes, qv, k=10).collect()}
        ref_recalls.append(len(refined & exact) / 10)
        adc_recalls.append(len(plain & exact) / 10)
    assert sum(ref_recalls) / len(ref_recalls) >= 0.8, ref_recalls
    assert sum(adc_recalls) / len(adc_recalls) >= 0.3, adc_recalls


def test_adc_scan_reads_only_code_column(pq, emb, spark, tmp_path):
    """The compressed scan is the point: once codes are STORED (the encode
    is a one-time build, like the IVF layout), query-time ADC reads ONLY
    (id, code) from parquet — the 32x I/O win.  Asserted on the FileScan's
    ReadSchema."""
    path = str(tmp_path / "pq_codes")
    pq.encode(emb).select("vec_id", "pq_code").write.parquet(path)
    stored = spark.read.parquet(path)
    scored = pq.adc_scores(stored, [0.0] * pq.dim)
    scored.collect()
    from modal_vector_db_spark.plans.inspect import executed_plan

    plan = executed_plan(scored).split("== Initial Plan ==")[0]
    assert "pq_code" in plan and "embedding" not in plan


def test_save_load_roundtrip(pq, spark, tmp_path):
    path = str(tmp_path / "pqidx")
    pq.save(path, spark)
    back = PQIndex.load(path, spark)
    assert np.allclose(back.codebooks, pq.codebooks)


def test_pq_null_embedding_and_code_rows(spark):
    """Review finding: NULL embeddings/codes crashed encode/adc batches;
    they must flow as NULL codes / NULL (last-ranked) distances."""
    from modal_vector_db_spark.operators.pq import PQIndex

    rows = [(i, [float(i % 5), float(i % 3), float(i % 7), float(i % 2)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = PQIndex.train(df, m=2)
    with_null = df.union(
        spark.createDataFrame([(99, None)], "vec_id long, embedding array<double>")
    )
    enc = {r["vec_id"]: r["pq_code"] for r in idx.encode(with_null).collect()}
    assert enc[99] is None and enc[0] is not None
    codes_df = idx.encode(with_null).select("vec_id", "pq_code")
    scored = {r["vec_id"]: r["adc_distance"] for r in
              idx.adc_scores(codes_df, [0.0, 0.0, 0.0, 0.0]).collect()}
    assert scored[99] is None or scored[99] != scored[99]  # NULL/NaN
    assert scored[0] == scored[0]


def test_pq_train_layout_independent(spark, monkeypatch):
    """Review finding: sample().limit() made codebooks depend on the
    partition layout; the content-hash sample must not."""
    import numpy as np

    from modal_vector_db_spark.operators import pq
    from modal_vector_db_spark.operators.pq import PQIndex

    monkeypatch.setattr(pq, "_TRAIN_SAMPLE_ROWS", 100)  # sample 100 of 400 rows
    rows = [(i, [float((i * 13) % 17), float((i * 7) % 11),
                 float((i * 5) % 13), float((i * 3) % 7)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = PQIndex.train(df.repartition(2), m=2)
    b = PQIndex.train(df.repartition(17, "vec_id"), m=2)
    assert np.array_equal(a.codebooks, b.codebooks)


def test_pq_load_rejects_incomplete_codebook(spark, tmp_path):
    import pytest as _pytest

    from modal_vector_db_spark.operators.pq import PQIndex

    rows = [(i, [float(i % 5), float(i % 3)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = PQIndex.train(df, m=2)
    p = str(tmp_path / "books")
    idx.save(p, spark)
    torn = spark.read.parquet(p).filter("NOT (subspace = 1 AND code = 2)")
    p2 = str(tmp_path / "torn")
    torn.write.parquet(p2)
    with _pytest.raises(ValueError, match="incomplete"):
        PQIndex.load(p2, spark)


def test_pq_train_all_null_vectors_clear_error(spark):
    """Review finding: an empty admission sample surfaced as an opaque
    'dim () not divisible' error (and the old 1e-6-granularity threshold
    could floor to zero admitted rows on huge tables).  All-NULL vectors
    must now raise the explicit empty-sample message."""
    from modal_vector_db_spark.operators.pq import PQIndex

    df = spark.createDataFrame(
        [(i, None) for i in range(5)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="sample came back empty"):
        PQIndex.train(df, m=2)
