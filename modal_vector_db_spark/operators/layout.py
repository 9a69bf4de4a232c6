"""Physical-layout operators: training shards, Z-order clustering and
time partitioning.

The reference delegates all physical strategy to DuckDB's single-node
executor; at cluster scale the layout decides which files a scan can skip.

- **Z-order clustering**: ``write_zordered`` sorts along a Morton curve so
  parquet footer stats prune scans filtering ANY clustered column, not just
  a linear sort's leading one.
- **Time partitioning**: ``write_time_partitioned`` writes one directory
  per time bucket, and ``time_range_scan`` prunes them at listing time.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_training_shards(
    df: DataFrame,
    path: str,
    tokens_per_shard: int = 2048,
    buckets: int = 32,
) -> None:
    """Export stage of the training-data pipeline: pack (doc_id, text)
    documents into fixed token-budget shards (same streaming-pack rule as
    ``queries/pipeline_queries.py:text_pack_sequences`` — a doc whose
    tokens straddle the budget boundary opens the next shard) and write a
    ``shard=<bucket>_<pack>``-partitioned parquet dataset, one directory
    per training shard.

    Scale shape: packing is sequential, so it runs within ``buckets`` hash
    buckets — ONE shuffle for the running-sum window, one for the
    partitioned write, bounded per-task state; ``buckets`` is the
    parallelism knob (shard count grows with data, bucket count does not).
    Downstream trainers list shard directories and stream each
    independently."""
    from pyspark.sql.window import Window

    from modal_vector_db_spark.functions.text import token_count

    t = df.withColumn("_bucket", F.col("doc_id") % buckets).withColumn(
        "_tokens", token_count("text")
    )
    w = Window.partitionBy("_bucket").orderBy("doc_id")
    prior = F.sum("_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1))
    packed = t.withColumn(
        "shard",
        F.concat_ws(
            "_",
            F.col("_bucket").cast("string"),
            (F.coalesce(prior, F.lit(0)) / tokens_per_shard).cast("long").cast("string"),
        ),
    ).drop("_bucket")
    packed.repartition("shard").write.mode("overwrite").partitionBy("shard").parquet(path)


def zorder_key(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton (Z-order) interleave of ``len(cols)`` bucket ids, each already
    scaled to ``[0, 2**bits)``.  Pure Catalyst bit ops — ``bits × n_cols``
    shift/or expressions, all whole-stage-codegen'd; no UDF."""
    if bits * len(cols) > 63:
        raise ValueError(f"zorder_key overflows a long: {bits} bits × {len(cols)} cols")
    key = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for c in cols:
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            key = F.shiftleft(key, 1).bitwiseOR(bit)
    return key


def zorder_frame(
    df: DataFrame,
    cols: Sequence[str],
    num_files: int = 16,
    lead_cols: Sequence[str] = (),
) -> DataFrame:
    """The clustering transform behind :func:`write_zordered`, writer-free:
    rows range-partitioned into ``num_files`` contiguous Morton-curve
    segments and sorted within each, key dropped — compose with any sink
    (plain parquet here, a versioned replace commit in
    ``sources/versioned.py:optimize_zorder``).

    Column values are min-max scaled to 12-bit buckets driver-side
    from ONE tiny agg row; ``repartitionByRange`` on the key gives
    contiguous curve segments per file (the property pruning relies on).

    ``lead_cols``: range-partition by these columns FIRST, the Morton key
    within them — the Hive-partitioned-table case, where a global z-key
    range split would scatter every output task across every partition
    directory (num_files × partitions fragments after ``partitionBy``);
    leading with the partition columns keeps each task's rows in one-ish
    partition, so the downstream partitioned write stays ~one file per
    (task, partition)."""
    from pyspark.errors import AnalysisException

    try:
        stats = df.agg(
            *[F.min(F.col(c).cast("double")).alias(f"min_{c}") for c in cols],
            *[F.max(F.col(c).cast("double")).alias(f"max_{c}") for c in cols],
        ).head()
    except AnalysisException as e:  # e.g. DATE refuses a double cast outright
        raise ValueError(
            f"zorder columns {list(cols)} must be numeric/timestamp — derive a "
            "numeric key first (unix_date/unix_timestamp, a dictionary code, "
            "or a hash bucket)"
        ) from e
    scaled = []
    bits = 12
    top = (1 << bits) - 1
    for c in cols:
        if stats[f"min_{c}"] is None or stats[f"max_{c}"] is None:
            raise ValueError(
                f"zorder column {c!r} has no numeric range (string or "
                "all-NULL values cast to NULL) — cluster on numeric/timestamp "
                "columns, or derive a numeric key first (e.g. unix_date/"
                "unix_timestamp, a dictionary code, or a hash bucket)"
            )
        lo, hi = float(stats[f"min_{c}"]), float(stats[f"max_{c}"])
        span = (hi - lo) or 1.0
        scaled.append(
            F.least(
                F.lit(top),
                F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(top + 1)),
            ).cast("long")
        )
    keyed = df.withColumn("_zkey", zorder_key(scaled, bits))
    keys = [*lead_cols, "_zkey"]
    return (
        keyed.repartitionByRange(num_files, *keys)
        .sortWithinPartitions(*keys)
        .drop("_zkey")
    )


def write_zordered(df: DataFrame, path: str, cols: Sequence[str]) -> None:
    """Z-order-clustered parquet layout: rows sorted along a Morton curve
    over ``cols`` so parquet min/max footer stats stay tight on EVERY
    clustered column at once.

    A linear sort prunes scans that filter the leading sort column and
    nothing else; the space-filling curve keeps each file's bounding box
    small in all ``cols`` dimensions, so a selective filter on ANY of them
    skips most files at footer time.  This is the layout Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` applies; here it is two scans (min/max agg, then
    range-partitioned sorted write) of plain parquet."""
    zorder_frame(df, cols).write.mode("overwrite").parquet(path)


_GRANULARITY_FMT = {"hour": "yyyy-MM-dd-HH", "day": "yyyy-MM-dd", "month": "yyyy-MM"}


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "day",
) -> None:
    """Hypertable-style layout for event/time-series tables: one directory
    per time bucket (``p_bucket=yyyy-MM-dd``), so a time-range query prunes
    whole partitions at FILE-LISTING time — at 100 TB the difference between
    scanning a day and scanning three years.

    The ``repartition("p_bucket")`` before the write gives one task per
    bucket (no thousand-small-files-per-bucket fragmentation from every
    input task writing to every bucket); at larger per-bucket volumes add a
    second repartition key to re-widen within buckets."""
    if granularity not in _GRANULARITY_FMT:
        raise ValueError(f"granularity must be one of {sorted(_GRANULARITY_FMT)}")
    part = F.date_format(F.col(ts_col), _GRANULARITY_FMT[granularity])
    (
        df.withColumn("p_bucket", part)
        .repartition("p_bucket")
        .write.mode("overwrite")
        .partitionBy("p_bucket")
        .parquet(path)
    )


def time_range_scan(
    spark: SparkSession,
    path: str,
    ts_col: str,
    start: str,
    end: str,
    granularity: str = "day",
) -> DataFrame:
    """Read a time-partitioned dataset restricted to ``[start, end)``.

    Applies BOTH predicates the layout needs: the derived ``p_bucket``
    range (string-ordered because the formats are zero-padded
    big-endian — this is what prunes directories) and the exact ``ts_col``
    bounds (which trim the partial buckets at each edge and push down to
    parquet row groups).  Callers filtering only on ``ts_col`` would scan
    every partition; this helper makes the pruned path the easy path."""
    fmt = _GRANULARITY_FMT[granularity]
    lo = F.date_format(F.lit(start).cast("timestamp"), fmt)
    hi = F.date_format(F.lit(end).cast("timestamp"), fmt)
    return (
        spark.read.parquet(path)
        .filter(F.col("p_bucket").between(lo, hi))
        .filter(
            (F.col(ts_col) >= F.lit(start).cast("timestamp"))
            & (F.col(ts_col) < F.lit(end).cast("timestamp"))
        )
    )
