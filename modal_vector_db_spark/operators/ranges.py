"""Range (interval-containment) join — ``left.ts ∈ [right.start, right.end)``
with NO equi-join key.

The reference has no temporal operators (its surface is KNN + metadata
filters, duckvdb.py:63-124); this is extension surface for the events
fixture.

Spark has no native range join (Databricks' range-join hint is not in OSS
Spark), and the naive formulation — a theta join — plans as
BroadcastNestedLoopJoin or CartesianProduct: every (row, interval) pair is
evaluated, O(|L|·|R|) at 100 TB.  The scalable formulation is **binning**
(the standard interval-join layout, same as Flink's interval join and
`GridMat`-style spatial joins collapsed to 1-D):

1. pick a bin width ``w``;
2. each interval explodes to the bins it overlaps
   (``sequence(floor(start/w), floor(end/w))`` — ×(len/w) rows, bounded);
3. each left row maps to exactly ONE bin (``floor(ts/w)``);
4. equi-join on ``bin`` — a plain hash join
   Catalyst can shuffle OR broadcast from size stats;
5. residual filter ``start <= ts < end``.

Each left row carries one bin, so no post-join dedup is needed.  Shuffle
volume is |L| + |R|·avg_bins, never |L|·|R|; hot bins fall under AQE skew
splitting.  Choose ``bin_width_s`` ≈ median interval length: narrower bins
duplicate intervals, wider bins inflate the residual-filter fan-in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    *,
    bin_width_s: int = 300,
) -> DataFrame:
    """Inner-join each ``left`` row to every ``right`` interval containing
    its timestamp: ``right.start <= left.ts < right.end`` (half-open,
    DuckDB ``>= AND <`` parity)."""
    w = F.lit(int(bin_width_s))
    l_bin = (F.unix_timestamp(F.col(ts_col)) / w).cast("long").alias("_bin")
    # End is exclusive, but floor(end/w) may still hold rows with ts < end,
    # so the end bin is included; the residual filter discards the rest.
    r_bins = F.sequence(
        (F.unix_timestamp(F.col(start_col)) / w).cast("long"),
        (F.unix_timestamp(F.col(end_col)) / w).cast("long"),
    )

    lt = left.withColumn("_bin", l_bin)
    rt = right.withColumn("_bin", F.explode(r_bins))
    contained = (rt[start_col] <= lt[ts_col]) & (lt[ts_col] < rt[end_col])
    out = lt.join(rt, [lt["_bin"] == rt["_bin"], contained], "inner")
    return out.drop(rt["_bin"]).drop(lt["_bin"])
