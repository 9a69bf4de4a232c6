"""Unit tests for the as-of join operator: boundary semantics that the
events-fixture e2e oracle check can't isolate."""

from __future__ import annotations

import pytest

import datetime as dt

from modal_vector_db_spark.operators.asof import asof_join


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_basic_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, _ts(10)), (1, _ts(30)), (2, _ts(10))], "user long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 100.0), (1, _ts(20), 200.0), (2, _ts(50), 999.0)],
        "user long, ts timestamp, v double",
    )
    got = {
        (r["user"], r["ts"].minute): r["v_r"]
        for r in asof_join(left, right, on="ts", by="user").collect()
    }
    assert got[(1, 10)] == 100.0   # only the :05 row precedes :10
    assert got[(1, 30)] == 200.0   # :20 is the latest prior
    assert got[(2, 10)] is None    # right row at :50 is in the future


def test_asof_simultaneous_right_visible(spark):
    """A right row at exactly left.ts matches (<=, DuckDB ASOF parity)."""
    left = spark.createDataFrame([(1, _ts(10))], "user long, ts timestamp")
    right = spark.createDataFrame([(1, _ts(10), 7.0)], "user long, ts timestamp, v double")
    [r] = asof_join(left, right, on="ts", by="user").collect()
    assert r["v_r"] == 7.0


def test_asof_keeps_all_left_rows(spark):
    left = spark.createDataFrame(
        [(i, _ts(i)) for i in range(1, 6)], "user long, ts timestamp"
    )
    right = spark.createDataFrame([], "user long, ts timestamp, v double")
    assert asof_join(left, right, on="ts", by="user").count() == 5


# ---------------------------------------------------------------------------
# Property-based: random (user, ts) sets must match pandas merge_asof — an
# independent third implementation of the semantics (the registered query
# already cross-checks DuckDB's ASOF JOIN).
# ---------------------------------------------------------------------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _pairs = st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 59)), min_size=0, max_size=12
    )

    @pytest.mark.slow
    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(lpairs=_pairs, rpairs=_pairs)
    def test_asof_matches_pandas_merge_asof(spark, lpairs, rpairs):
        import pandas as pd

        # unique (user, ts) on the right: equal-timestamp right rows are an
        # ambiguous tie in ANY asof implementation (value undefined)
        rpairs = sorted({(u, m) for (u, m) in rpairs})
        left = spark.createDataFrame(
            [(u, _ts(m)) for (u, m) in lpairs] or [(99, _ts(0))],
            "user long, ts timestamp",
        )
        right = spark.createDataFrame(
            [(u, _ts(m), float(u * 100 + m)) for (u, m) in rpairs] or [(98, _ts(0), 0.0)],
            "user long, ts timestamp, v double",
        )
        got = {
            (r["user"], r["ts"]): r["v_r"]
            for r in asof_join(left, right, on="ts", by="user").collect()
        }
        lp = pd.DataFrame(
            [(u, _ts(m)) for (u, m) in lpairs] or [(99, _ts(0))], columns=["user", "ts"]
        ).sort_values(["ts", "user"], kind="stable")
        rp = pd.DataFrame(
            [(u, _ts(m), float(u * 100 + m)) for (u, m) in rpairs] or [(98, _ts(0), 0.0)],
            columns=["user", "ts", "v"],
        ).sort_values(["ts", "user"], kind="stable")
        want_df = pd.merge_asof(
            lp, rp, on="ts", by="user", direction="backward", allow_exact_matches=True
        )
        for row in want_df.itertuples(index=False):
            want_v = None if pd.isna(row.v) else row.v
            assert got[(row.user, row.ts.to_pydatetime())] == want_v, (row, got)

except ImportError:  # pragma: no cover
    pass


def test_asof_bucketed_plan_matches_default(spark, monkeypatch):
    """The ts-bucketed (hot-key skew-spread) plan is value-identical to the
    single-window default across bucket widths — including gap buckets (a
    right-populated bucket with no left rows must still carry forward) and
    the strictly-preceding boundary (a right row in the SAME bucket is
    local, one in the row's bucket-boundary past is carry)."""
    import random

    from modal_vector_db_spark.operators import asof
    from modal_vector_db_spark.operators.asof import asof_join

    def _sec(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    rng = random.Random(17)
    left_rows = [
        (u, _sec(rng.randrange(0, 3000)))
        for u in range(6)
        for _ in range(40)
    ]
    # ~1/4 null right values: the default plan's last(ignorenulls) skips
    # them — the bucket summary must too (a null-latest bucket still
    # carries its earlier non-null forward)
    right_rows = [
        (u, _sec(rng.randrange(0, 3000)), None if i % 4 == 0 else float(u * 1000 + i))
        for u in range(6)
        for i in range(12)
    ]
    left = spark.createDataFrame(left_rows, "user long, ts timestamp")
    right = spark.createDataFrame(right_rows, "user long, ts timestamp, v double")
    base = asof_join(left, right, on="ts", by="user").orderBy("user", "ts")
    expect = [tuple(r) for r in base.collect()]
    for width in (1.0, 7.0, 100.0, 10_000.0):
        monkeypatch.setattr(asof, "_TS_BUCKET_SECONDS", width)
        got = asof_join(left, right, on="ts", by="user").orderBy("user", "ts").collect()
        assert [tuple(r) for r in got] == expect, width


def test_asof_hot_key_spreads_across_partitions(spark, monkeypatch):
    """One key at ~100x the median (the real events-table shape): the
    default plan funnels it through ONE window partition; the bucketed plan
    partitions the window by (key, time bucket), so the hot key's rows
    spread.  Assert correctness on the skewed fixture AND that the physical
    window spec actually includes the bucket column (the skew-spread is in
    the plan, not just intended)."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.operators import asof
    from modal_vector_db_spark.operators.asof import asof_join

    # hot user 0: 20k rows; 50 normal users: 200 rows each
    left = spark.range(30_000).select(
        F.when(F.col("id") < 20_000, 0)
        .otherwise(1 + F.col("id") % 50)
        .alias("user"),
        F.timestamp_seconds(F.col("id") % 5000).alias("ts"),
    )
    right = spark.range(2_500).select(
        (F.col("id") % 25).alias("user"),
        F.timestamp_seconds((F.col("id") * 7) % 5000).alias("ts"),
        (F.col("id") * 1.0).alias("v"),
    )
    monkeypatch.setattr(asof, "_TS_BUCKET_SECONDS", 250.0)
    out = asof_join(left, right, on="ts", by="user")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_tsb" in plan  # the heavy window runs per (user, bucket)
    # spot-check correctness against the default plan on the hot key alone
    monkeypatch.setattr(asof, "_TS_BUCKET_SECONDS", None)
    hot_expect = (
        asof_join(left.filter("user = 0"), right.filter("user = 0"), on="ts", by="user")
        .agg(F.round(F.sum("v_r"), 3).alias("s"), F.count("*").alias("c"))
        .first()
    )
    hot_got = (
        out.filter("user = 0")
        .agg(F.round(F.sum("v_r"), 3).alias("s"), F.count("*").alias("c"))
        .first()
    )
    assert tuple(hot_got) == tuple(hot_expect)


def test_asof_carries_whole_row_not_composite(spark):
    """Review finding: per-column last(ignorenulls) stitched a composite
    of DIFFERENT right rows when the latest row held a NULL field; ASOF
    must return the one row, NULLs included."""
    from modal_vector_db_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 1, 1.0, None), (1, 2, None, 2.0)],
        "user_id long, ts long, a double, b double",
    )
    left = spark.createDataFrame([(1, 3)], "user_id long, ts long")
    (r,) = asof_join(left, right, on="ts", by="user_id").collect()
    assert r["a_r"] is None and r["b_r"] == 2.0  # the ts=2 ROW, not a mix


def test_asof_null_right_ts_matches_nothing(spark):
    from modal_vector_db_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, None, 99.0), (1, 5, 7.0)], "user_id long, ts long, v double"
    )
    left = spark.createDataFrame([(1, 2), (1, 6)], "user_id long, ts long")
    got = {r["ts"]: r["v_r"] for r in asof_join(left, right, "ts", "user_id").collect()}
    assert got[2] is None  # the NULL-ts phantom must NOT fill
    assert got[6] == 7.0


def test_asof_bucketed_null_by_key_agrees_with_default(spark, monkeypatch):
    """Review finding: the bucketed plan's null-unsafe carry join dropped
    NULL by-groups that the default plan's window filled."""
    from modal_vector_db_spark.operators import asof
    from modal_vector_db_spark.operators.asof import asof_join

    right = spark.createDataFrame([(None, 10, 1.5)], "user_id long, ts long, v double")
    left = spark.createDataFrame([(None, 5000)], "user_id long, ts long")
    base = asof_join(left, right, "ts", "user_id").collect()
    monkeypatch.setattr(asof, "_TS_BUCKET_SECONDS", 100.0)
    buck = asof_join(left, right, "ts", "user_id").collect()
    assert [r["v_r"] for r in base] == [r["v_r"] for r in buck] == [1.5]


def test_asof_suffix_collision_rejected(spark):
    import pytest as _pytest

    from modal_vector_db_spark.operators.asof import asof_join

    right = spark.createDataFrame([(1, 1, 1.0)], "user_id long, ts long, v double")
    left = spark.createDataFrame([(1, 2, 0.0)], "user_id long, ts long, v_r double")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, "ts", "user_id")
