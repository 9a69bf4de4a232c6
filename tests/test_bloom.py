"""Distributed Bloom-filter anti join (operators/bloom.py) — the
cross-corpus membership primitive for the both-sides-huge regime.

Contracts pinned here:
- EXACTNESS: bloom_anti_join is byte-identical to the plain left_anti
  join, including under a deliberately tiny
  filter (false positives everywhere — the verify join must kill them all)
  and under NULL keys (SQL join semantics: NULL never matches).
- NO FALSE NEGATIVES: every true match is flagged by bloom_might_contain.
- PLAN SHAPE: the probe side is never shuffled before the verify — the
  membership test is broadcast hash joins only; the build aggregation is
  the single hash-partitioned exchange in the candidate plan.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.bloom import (
    bloom_anti_join,
    bloom_build,
    bloom_might_contain,
    bloom_params,
)


def _corpora(spark, seed=7, n_build=400, n_probe=300, overlap=60):
    rng = random.Random(seed)
    build_keys = [f"doc-{seed}-{i}" for i in range(n_build)]
    probe_keys = rng.sample(build_keys, overlap) + [
        f"new-{seed}-{i}" for i in range(n_probe - overlap)
    ]
    rng.shuffle(probe_keys)
    build = spark.createDataFrame([(k,) for k in build_keys], "text string")
    probe = spark.createDataFrame(
        [(i, k) for i, k in enumerate(probe_keys)], "doc_id long, text string"
    )
    return probe, build


def test_bloom_params_sizing():
    m, k = bloom_params(1000, 0.01)
    assert m % 64 == 0 and 9 * 1000 <= m <= 11 * 1000  # ~9.6 bits/key
    assert 6 <= k <= 8
    m2, _ = bloom_params(1000, 0.001)
    assert m2 > m  # lower fpp → more bits
    with pytest.raises(ValueError, match="fpp"):
        bloom_params(100, 1.5)


def test_no_false_negatives_and_fp_rate(spark):
    probe, build = _corpora(spark, n_build=500, n_probe=400, overlap=80)
    m, k = bloom_params(500, 0.01)
    words = bloom_build(build, ["text"], m, k)
    assert words.count() <= m // 64
    flagged = bloom_might_contain(probe, words, ["text"], m, k).collect()
    truth = {r["text"] for r in build.collect()}
    hits = {r["doc_id"] for r in flagged if r["_bloom_hit"]}
    true_ids = {r["doc_id"] for r in flagged if r["text"] in truth}
    assert true_ids <= hits  # NO false negatives, ever
    # FP rate sized at 1% — allow generous slack on 320 negatives
    fps = len(hits - true_ids)
    assert fps <= 20


@pytest.mark.parametrize("tiny_filter", [False, True])
def test_anti_join_matches_plain_join_exactly(spark, tiny_filter):
    """Exactness incl. the adversarial tiny filter (64 bits for 500 keys —
    nearly every probe row becomes a false-positive candidate, so the
    verify join carries the whole contract)."""
    probe, build = _corpora(spark, seed=13)
    m, k = (64, 2) if tiny_filter else bloom_params(400, 0.01)
    want = {
        r["doc_id"] for r in probe.join(build, ["text"], "left_anti").collect()
    }
    got = {
        r["doc_id"]
        for r in bloom_anti_join(probe, build, ["text"], num_bits=m, num_hashes=k).collect()
    }
    assert got == want


def test_null_keys_follow_sql_join_semantics(spark):
    probe = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "zzz")], "doc_id long, text string"
    )
    build = spark.createDataFrame([("a",), (None,)], "text string")
    anti = {r["doc_id"] for r in bloom_anti_join(
        probe, build, ["text"], num_bits=1024, num_hashes=3).collect()}
    assert anti == {2, 3}  # NULL never equals NULL in a join


def test_multi_column_keys(spark):
    probe = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 11), (3, "b", 10)], "doc_id long, s string, n int"
    )
    build = spark.createDataFrame([("a", 10), ("b", 99)], "s string, n int")
    got = {r["doc_id"] for r in bloom_anti_join(
        probe, build, ["s", "n"], num_bits=4096, num_hashes=4).collect()}
    assert got == {2, 3}


def test_reserved_column_clash_raises(spark):
    probe = spark.createDataFrame([(1, True)], "doc_id long, _bloom_hit boolean")
    build = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="reserved"):
        bloom_might_contain(probe, build, ["doc_id"], 64, 1)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(build, ["doc_id"], 100, 2)


def test_probe_side_never_shuffles_before_verify(spark):
    """The whole point at 100 TB: membership is k BROADCAST hash joins —
    the probe corpus reaches the candidate filter with zero exchanges, and
    the only hash-partitioned exchange in the candidate plan is the build
    side's bit_or aggregation (partial-agg combined map-side)."""
    probe, build = _corpora(spark)
    m, k = bloom_params(400, 0.01)
    words = bloom_build(build, ["text"], m, k)
    flagged = bloom_might_contain(probe, words, ["text"], m, k)
    flagged.collect()  # AQE: reuse is visible only in the FINAL plan
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final
    assert final.count("BroadcastHashJoin") == k
    # the k broadcast branches share ONE physical build aggregation: every
    # branch past the first is a ReusedExchange, and the only
    # hash-partitioned exchange keys on word_idx (the build agg) — the
    # probe side reaches the flag filter with zero shuffles
    assert final.count("ReusedExchange") >= k - 1
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning\((\w+)", final)
    assert all(c.startswith("word_idx") for c in hash_exchanges)
    assert len(hash_exchanges) <= 1
    # build agg is partial: map-side combine before its one shuffle
    words.collect()
    wplan = words._jdf.queryExecution().executedPlan().toString()
    wfinal = wplan.split("== Initial Plan ==")[0]
    assert wfinal.count("Exchange hashpartitioning") == 1
    assert "partial_bit_or" in wplan or wplan.count("HashAggregate") >= 2


def test_bloom_merge_equals_build_over_union(spark):
    """Incremental maintenance: merge(build(A), build(B)) must be
    row-identical to build(A UNION B) — the append-delta path never
    rescans the accepted corpus."""
    from modal_vector_db_spark.operators.bloom import bloom_merge

    a = spark.createDataFrame([(f"a{i}",) for i in range(200)], "text string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(150)], "text string")
    m, k = bloom_params(350, 0.01)
    merged = {
        (r["word_idx"], r["word"])
        for r in bloom_merge(
            bloom_build(a, ["text"], m, k), bloom_build(b, ["text"], m, k)
        ).collect()
    }
    direct = {
        (r["word_idx"], r["word"])
        for r in bloom_build(a.union(b), ["text"], m, k).collect()
    }
    assert merged == direct
    # and the merged filter still anti-joins exactly
    probe = spark.createDataFrame(
        [(1, "a5"), (2, "b7"), (3, "zz")], "doc_id long, text string"
    )
    words = bloom_merge(
        bloom_build(a, ["text"], m, k), bloom_build(b, ["text"], m, k)
    )
    flagged = bloom_might_contain(probe, words, ["text"], m, k)
    hits = {r["doc_id"] for r in flagged.collect() if r["_bloom_hit"]}
    assert {1, 2} <= hits
    import pytest as _pt

    with _pt.raises(ValueError, match="at least one"):
        bloom_merge()


def test_sizing_and_flagcol_guards(spark):
    probe = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    build = spark.createDataFrame([("a",)], "text string")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_anti_join(probe, build, ["text"], num_bits=1000, num_hashes=2)
    with pytest.raises(ValueError, match="reserved"):
        bloom_might_contain(probe.withColumn("_bf_x", probe.doc_id), build, ["text"], 64, 1)


def test_bloom_params_small_n_k_capped():
    """Review finding: word-floored m made tiny builds absurdly hashy
    (n=1 -> k=44 = 44 broadcast joins).  k is now bounded by the
    requested fpp's own hash count (ceil(-log2 fpp) = 7 at 1%)."""
    for n in (1, 3, 10):
        _, k = bloom_params(n, 0.01)
        assert 1 <= k <= 7, (n, k)
    _, k = bloom_params(1, 0.001)
    assert k <= 10


def test_num_hashes_validated():
    """k=0 would flag every probe row a candidate (exact but the full
    shuffle the operator exists to avoid) — rejected loudly."""
    import pytest as _pytest

    from modal_vector_db_spark.operators.bloom import bloom_build, bloom_might_contain

    for fn in (bloom_build, bloom_might_contain):
        with _pytest.raises(ValueError, match="num_hashes"):
            if fn is bloom_build:
                fn(None, ["x"], 64, 0)
            else:
                fn(None, None, ["x"], 64, 0)
