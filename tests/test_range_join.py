"""Unit tests for the binned range join (operators/ranges.py)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.ranges import range_join


def _ts(m, s=0):
    return datetime(2024, 1, 1, 0, m, s)


@pytest.fixture(scope="module")
def frames(spark):
    events = spark.createDataFrame(
        [
            (1, _ts(0)),       # in A only
            (2, _ts(7, 30)),   # in A and B (overlap region)
            (3, _ts(12)),      # in B only
            (4, _ts(40)),      # in no interval
            (5, _ts(10)),      # boundary: == B.start (inclusive), == A.end (exclusive)
        ],
        "event_id long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            ("A", _ts(0), _ts(10)),
            ("B", _ts(5), _ts(15)),
        ],
        "name string, w_start timestamp, w_end timestamp",
    )
    return events, intervals


def test_inner_containment_and_overlap(frames, spark):
    events, intervals = frames
    out = range_join(events, intervals, "ts", "w_start", "w_end", bin_width_s=120)
    got = sorted((r["event_id"], r["name"]) for r in out.collect())
    assert got == [(1, "A"), (2, "A"), (2, "B"), (3, "B"), (5, "B")], got


def test_half_open_bounds(frames, spark):
    """start inclusive, end exclusive — event 5 at minute 10 matches B
    (start) but not A (end)."""
    events, intervals = frames
    out = range_join(events, intervals, "ts", "w_start", "w_end", bin_width_s=60)
    pairs = {(r["event_id"], r["name"]) for r in out.collect()}
    assert (5, "B") in pairs and (5, "A") not in pairs


def test_bin_width_invariance(frames, spark):
    """The bin width is a physical knob only — results identical across
    widths that do and do not align with interval bounds."""
    events, intervals = frames
    ref = None
    for w in (37, 60, 300, 3600):
        out = range_join(events, intervals, "ts", "w_start", "w_end", bin_width_s=w)
        got = sorted((r["event_id"], r["name"]) for r in out.collect())
        if ref is None:
            ref = got
        assert got == ref, f"bin_width_s={w}: {got} != {ref}"


# ---------------------------------------------------------------------------
# Property-based: the binned formulation must equal the naive theta join on
# every draw — intervals of any alignment/length (incl. empty), any bin width
# ---------------------------------------------------------------------------
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _sec = st.integers(min_value=0, max_value=7200)

    _events = st.lists(_sec, min_size=1, max_size=8)
    _intervals = st.lists(
        st.tuples(_sec, st.integers(min_value=0, max_value=3600)),
        min_size=1,
        max_size=4,
    )

    @pytest.mark.slow
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(events=_events, intervals=_intervals, width=st.sampled_from([1, 7, 60, 900]))
    def test_binned_equals_theta_join(spark, events, intervals, width):
        ev = spark.createDataFrame(
            [(i, datetime(2024, 1, 1) + __import__("datetime").timedelta(seconds=s))
             for i, s in enumerate(events)],
            "event_id long, ts timestamp",
        )
        iv = spark.createDataFrame(
            [(j, datetime(2024, 1, 1) + __import__("datetime").timedelta(seconds=s),
              datetime(2024, 1, 1) + __import__("datetime").timedelta(seconds=s + d))
             for j, (s, d) in enumerate(intervals)],
            "iv_id long, w_start timestamp, w_end timestamp",
        )
        got = sorted(
            (r["event_id"], r["iv_id"])
            for r in range_join(ev, iv, "ts", "w_start", "w_end", bin_width_s=width).collect()
        )
        naive = (
            ev.crossJoin(iv)
            .filter((F.col("w_start") <= F.col("ts")) & (F.col("ts") < F.col("w_end")))
        )
        want = sorted((r["event_id"], r["iv_id"]) for r in naive.collect())
        assert got == want, (events, intervals, width)

except ImportError:  # pragma: no cover
    pass
