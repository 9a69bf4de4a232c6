"""Sketch-based estimators — the "measure before you shuffle" toolkit.

At 100 TB you cannot afford an exact COUNT(DISTINCT) or a full sort to make
layout decisions (how many shuffle partitions? is this key skewed? what
fraction of the corpus is duplicated?).  Spark ships mergeable one-pass
sketches for exactly this; these wrappers pin the idioms and their error
contracts so pipelines use the cheap path by default:

- HyperLogLog++ (``approx_count_distinct``) for cardinality / duplication
  rate: one scan, map-side partial sketches merged at the driver, relative
  standard deviation configurable.

Everything here is JVM-native (no Python in the loop) and single-pass.

Reference parity note: the reference engine (modal-vector-db) has no sketch
surface — its DuckDB backend computes exact aggregates over a single-node
table (duckvdb.py:106-114 ``num_rows`` is the only statistic it exposes).
These operators are part of the large-scale extension surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dup_rate_estimate(
    df: DataFrame, cols: Sequence[str], rsd: float = 0.01
) -> DataFrame:
    """Estimate the exact-duplicate rate of ``cols`` in ONE scan, no shuffle
    of data rows (only sketch merge): ``1 - approx_ndv / count``.

    This is the sizing pass a dedup pipeline runs FIRST: if the estimated
    dup rate is ~0 there is nothing to win and the full hash-groupBy dedup
    (a shuffle of every row) can be skipped; if it is high, the estimate
    also predicts the post-dedup corpus size for capacity planning.

    Returns a 1-row DataFrame: total_rows, approx_distinct, est_dup_rate.
    ``rsd`` is the HLL++ target relative standard deviation (1% default →
    ~2.5 KB sketch per partition — constant memory at any scale).
    """
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.approx_count_distinct(key, rsd).alias("approx_distinct"),
    ).select(
        "total_rows",
        "approx_distinct",
        F.round(
            1 - F.col("approx_distinct") / F.col("total_rows"), 6
        ).alias("est_dup_rate"),
    )


def column_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column profile — rows, nulls, approx NDV, min/max — in ONE
    aggregation pass over the table (no per-column jobs, no sort).  The
    input to layout decisions: NDV → bucket count, null rate → filter
    strategy, min/max → partition-pruning ranges.

    Returns one row per column: (column, n_rows, n_nulls, approx_ndv,
    min_value, max_value) with min/max rendered as strings so mixed column
    types fit one schema.
    """
    cols = list(cols or df.columns)
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(c, 0.02).alias(f"{c}__ndv"),
            F.min(F.col(c).cast("string")).alias(f"{c}__min"),
            F.max(F.col(c).cast("string")).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__ndv").alias("approx_ndv"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("p")).select("p.*")
