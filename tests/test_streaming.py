"""Structured Streaming tests: stream results must equal the equivalent
batch query (file source + AvailableNow trigger for determinism)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load
from modal_vector_db_spark.streaming import events as SE
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    """Re-write the events fixture as a 4-file parquet directory so the file
    source has multiple files to discover (and ts is µs, stream-readable)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def _batch_events(spark, path):
    return spark.read.parquet(path)


def test_stream_windowed_counts_equals_batch(spark, event_files, tmp_path):
    stream = SE.windowed_counts(SE.read_event_stream(spark, event_files))
    SE.start_to_memory(stream, "win_counts", str(tmp_path / "cp1")).awaitTermination()
    got = spark.table("win_counts").toPandas()

    ev = _batch_events(spark, event_files)
    # append mode emits only windows CLOSED by the final watermark
    # (max event ts - 10 min); the still-open tail windows are withheld.
    cutoff = ev.agg(F.max("ts")).head()[0] - __import__("datetime").timedelta(minutes=10)
    batch = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .filter(F.col("w.end") <= F.lit(cutoff))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .toPandas()
    )
    key = ["window_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    batch_s = batch.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(batch_s)
    assert got_s.equals(batch_s[got_s.columns])


def test_stream_sessionize_equals_batch(spark, event_files, tmp_path):
    stream = SE.sessionized(SE.read_event_stream(spark, event_files))
    SE.start_to_memory(stream, "sessions", str(tmp_path / "cp2")).awaitTermination()
    got = spark.table("sessions").toPandas()

    ev = _batch_events(spark, event_files)
    cutoff = ev.agg(F.max("ts")).head()[0] - __import__("datetime").timedelta(hours=1)
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .filter(F.col("w.end") <= F.lit(cutoff))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "sum_value")
        .toPandas()
    )
    key = ["user_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    batch_s = batch.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(batch_s)
    assert got_s.equals(batch_s[got_s.columns])


def test_stream_dedup_within_watermark(spark, event_files, tmp_path):
    """Replayed events (same event_id) within the watermark are dropped —
    streaming S5."""
    deduped = SE.dedup_within_watermark(SE.read_event_stream(spark, event_files))
    SE.start_to_memory(deduped, "dedup", str(tmp_path / "cp3")).awaitTermination()
    got = spark.table("dedup")
    n_unique = _batch_events(spark, event_files).select("event_id").distinct().count()
    assert got.count() == n_unique
    assert got.select("event_id").distinct().count() == n_unique


def test_stream_to_versioned_hypertable_prunes_and_time_travels(spark, event_files, tmp_path):
    """Streaming -> versioned day-partitioned hypertable: the drained
    stream equals the batch table, day scans prune from the manifest
    alone, each micro-batch is a commit, and num_rows is O(manifest)."""
    from modal_vector_db_spark.sources import versioned as vcat

    wh, name = str(tmp_path / "wh_ht"), "ht_events"
    stream = SE.read_event_stream(spark, event_files)
    SE.stream_to_versioned_hypertable(stream, name, str(tmp_path / "cp_ht"), wh)

    batch = _batch_events(spark, event_files)
    n = batch.count()
    assert vcat.read_table(spark, name, wh).count() == n
    assert vcat.manifest_row_count(name, wh) == n
    assert all(h["op"] == "append" for h in vcat.history(name, wh))
    # each micro-batch commit adds at most ONE file per bucket it touches
    prev: set = set()
    for h in vcat.history(name, wh):
        cur = set(vcat.resolve_files(name, wh, version=h["version"]))
        buckets = [os.path.dirname(f) for f in cur - prev]
        assert buckets and len(buckets) == len(set(buckets)), h
        prev = cur

    # pick a real day and verify manifest-alone pruning + exact rows
    day = str(
        batch.select(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .groupBy("d").count().orderBy("d").collect()[0]["d"]
    )
    files = vcat.resolve_files(name, wh)
    pruned = vcat.resolve_files(name, wh, between=("p_bucket", day, day))
    assert pruned and set(pruned) < set(files)
    assert all(f"p_bucket={day}" in f for f in pruned)
    got = vcat.scan(spark, name, wh, between=("p_bucket", day, day)).filter(
        F.date_format("ts", "yyyy-MM-dd") == day
    )
    want = batch.filter(F.date_format("ts", "yyyy-MM-dd") == day)
    assert got.count() == want.count() > 0

    # replaying the stream from a FRESH checkpoint re-appends (blind
    # append contract) — and history shows it as new auditable commits
    v_before = vcat.current_version(name, wh)
    SE.stream_to_versioned_hypertable(
        SE.read_event_stream(spark, event_files), name, str(tmp_path / "cp_ht2"), wh
    )
    assert vcat.read_table(spark, name, wh).count() == 2 * n
    # time travel back to the pre-replay ingest
    assert vcat.read_table(spark, name, wh, version=v_before).count() == n
