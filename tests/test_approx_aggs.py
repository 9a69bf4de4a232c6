"""Approximate aggregates — the 100 TB path for distinct counts and
quantiles (exact variants are oracle-checked in relational queries; the
approximate ones are bounded-error, so they get tolerance tests vs exact)."""

from __future__ import annotations

from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load
from tests.conftest import SF_DIR


def test_hll_distinct_within_5pct(spark):
    li = load(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).head()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_approx_percentile_close_to_exact(spark):
    o = load(spark, SF_DIR, "orders")
    row = o.agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("exact_med"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("approx_med"),
    ).head()
    # percentile_approx error is bounded by rank accuracy; at 10k it lands
    # within a fraction of a percent of the exact interpolated median here
    assert abs(row["approx_med"] - row["exact_med"]) / row["exact_med"] < 0.01


# ---------------------------------------------------------------------------
# operators/sketches.py — packaged one-pass estimators
# ---------------------------------------------------------------------------
from modal_vector_db_spark.operators.sketches import column_profile, dup_rate_estimate  # noqa: E402
from modal_vector_db_spark.plans.inspect import executed_plan, shuffle_count  # noqa: E402


def test_dup_rate_estimate_matches_planted_rate(spark):
    """Plant a known duplication structure (every doc + an exact copy of
    each 10th + a DISTINCT near-copy of each 10th) and require the HLL
    estimate to land on the true rate: dup fraction = 0.1n / 1.2n = 1/12."""
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    tenth = docs.filter(F.col("doc_id") % 10 == 0)
    aug = docs.unionAll(tenth).unionAll(
        tenth.select("doc_id", F.concat("text", F.lit(" zz")).alias("text"))
    )
    row = dup_rate_estimate(aug, ["text"], rsd=0.01).head()
    n = docs.count()
    assert row["total_rows"] == aug.count()
    true_rate = (n // 10 + (0 if n % 10 else 0)) / row["total_rows"]
    assert abs(row["est_dup_rate"] - true_rate) < 0.02


def test_dup_rate_estimate_is_single_pass(spark):
    """The sizing pass must not shuffle data rows: one partial-agg exchange
    of sketches only, and no Python in the loop."""
    est = dup_rate_estimate(load(spark, SF_DIR, "documents"), ["text"])
    est.collect()
    # AQE's executed-plan string repeats the plan ("Final" + "Initial"
    # sections); count exchanges in the final section only.
    plan = executed_plan(est).split("== Initial Plan ==")[0]
    assert plan.count("Exchange SinglePartition") <= 1
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_column_profile_one_row_per_column_exact_counts(spark):
    o = load(spark, SF_DIR, "orders")
    prof = column_profile(o, ["o_orderkey", "o_orderstatus"]).collect()
    assert {r["column"] for r in prof} == {"o_orderkey", "o_orderstatus"}
    n = o.count()
    by_col = {r["column"]: r for r in prof}
    for r in prof:
        assert r["n_rows"] == n
        assert r["n_nulls"] == 0
    exact_status = o.select("o_orderstatus").distinct().count()
    assert abs(by_col["o_orderstatus"]["approx_ndv"] - exact_status) <= max(
        1, 0.05 * exact_status
    )
    key_ndv = by_col["o_orderkey"]["approx_ndv"]
    assert abs(key_ndv - n) / n < 0.05  # unique key: ndv ~= rows
