"""Streaming ingest & analytics over the ``events`` shape.

The reference has no streaming (everything is batch request/response);
this module is the scale-out extension: the same event transformations as
``queries/events_queries.py`` re-expressed over ``readStream`` so the batch
queries and the streams share semantics (tests assert stream == batch).

Operators:
- watermarked tumbling/sliding window aggregates
- streaming dedup with ``dropDuplicatesWithinWatermark`` — the streaming
  analog of the reference's idempotent insert (``duckvdb.py:57-61``): the
  same event key arriving again within the watermark horizon is dropped;
- ``foreachBatch`` appends into a versioned, day-partitioned table.

Determinism for tests: file source + ``Trigger.AvailableNow`` + memory sink.

Scale notes: state store size is bounded by the watermark horizon; window
state is per (window, keys) — partitioned by key shuffle, same layout as
the batch groupBy.  ``maxFilesPerTrigger`` paces backfills.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of event parquet files (schema must be explicit
    for streaming reads)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def windowed_counts(events: DataFrame) -> DataFrame:
    """Watermarked (10 minutes) 5-minute tumbling-window count+sum — late
    rows beyond the watermark are dropped; state for closed windows is
    evicted."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sessionized(events: DataFrame) -> DataFrame:
    """Watermarked (1 hour) session windows (30-min inactivity gap)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "sum_value")
    )


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Streaming idempotent ingest: drop replayed event_ids arriving within
    the 1-hour watermark horizon (streaming S5)."""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])


def start_to_memory(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "append"
):
    """Start (without awaiting) an AvailableNow drain into a memory sink —
    lets callers run several independent drains CONCURRENTLY and await them
    together (wall-clock = max, not sum; each stream has its own checkpoint
    and state store, so there is no shared state to race on)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_versioned_hypertable(
    stream_df: DataFrame,
    name: str,
    checkpoint_dir: str,
    warehouse: str | None = None,
) -> None:
    """Streaming ingest into a VERSIONED, time-partitioned (hypertable)
    table: each micro-batch derives its day bucket from ``ts`` and
    lands as ONE atomic manifest-log append — partition subdirectories
    under ``data/`` plus per-file stats (row counts + the path-encoded
    partition value), so downstream ``scan(between=('p_bucket', lo, hi))``
    prunes whole days from the MANIFEST alone while every micro-batch
    remains an auditable time-travel/rollback target.

    100 TB shape: the commit is O(metadata) per batch regardless of batch
    size; the ``repartition('p_bucket')`` keeps it to one file per touched
    bucket per batch (no every-task-writes-every-bucket fragmentation);
    accumulated small files compact later via ``replace_table``/
    ``optimize_zorder`` without breaking time travel.  Micro-batch
    RETRIES re-append rows (the blind append is what makes concurrent
    ingest conflict-free) — compose with ``dedup_within_watermark``
    upstream when content idempotency matters."""
    from modal_vector_db_spark.operators.layout import _GRANULARITY_FMT
    from modal_vector_db_spark.sources import versioned as vcat

    fmt = _GRANULARITY_FMT["day"]

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.withColumn(
            "p_bucket", F.date_format(F.col("ts"), fmt)
        ).repartition("p_bucket")
        vcat.append(out, name, warehouse, partition_by=["p_bucket"], stats_cols=[])

    q = (
        stream_df.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
