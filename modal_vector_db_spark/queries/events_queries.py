"""Event-stream analytics over ``events`` — the batch twins of the
Structured Streaming surface (SURVEY §2.10).  Each query here runs as a
plain DataFrame job; ``streaming/events.py`` re-expresses the same
transformations over ``readStream`` and ``tests/test_streaming.py`` asserts
stream == batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.harness import load, register, scale_out
from modal_vector_db_spark.scratch import scratch_root
from modal_vector_db_spark.operators.filters import compile_filters, filters_to_duckdb_sql

DEC = "decimal(18,4)"


@register(
    "events_windows",
    oracle="""
    WITH offsets AS (SELECT unnest([0, 5]) AS off),
    b AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts - to_minutes(off)) + to_minutes(off) AS window_start,
             value
      FROM events, offsets
      WHERE time_bucket(INTERVAL '10 minutes', ts - to_minutes(off)) + to_minutes(off) <= ts
        AND ts < time_bucket(INTERVAL '10 minutes', ts - to_minutes(off)) + to_minutes(off) + INTERVAL '10 minutes'
    )
    SELECT 'tumbling' AS kind, time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           event_type, count(*) AS n,
           round(sum(value::DECIMAL(18,4))::DOUBLE, 4) AS sum_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding', window_start, NULL, count(*),
           round(sum(value::DECIMAL(18,4))::DOUBLE, 4)
    FROM b GROUP BY window_start
    UNION ALL
    SELECT 'gapfill', h, event_type, n,
           round(locf::DOUBLE, 4)
    FROM (
      SELECT t.event_type, s.h, coalesce(hr.n, 0) AS n,
             last_value(hr.av IGNORE NULLS) OVER
               (PARTITION BY t.event_type ORDER BY s.h) AS locf
      FROM (SELECT unnest(generate_series(
                     date_trunc('hour', (SELECT min(ts) FROM events)),
                     date_trunc('hour', (SELECT max(ts) FROM events)),
                     INTERVAL '1 hour')) AS h) s
      CROSS JOIN (SELECT DISTINCT event_type FROM events) t
      LEFT JOIN (
        SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n,
               sum(value::DECIMAL(18,4)) / count(*) AS av
        FROM events GROUP BY 1, 2) hr
      ON hr.h = s.h AND hr.event_type = t.event_type) gf
    """,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window aggregation surface, tagged: tumbling 5-minute windows
    per event_type; sliding windows (10 min length / 5 min slide — each
    event explodes into 2 overlapping assignments, natively via
    ``window()``); and the hypertable resample shape — ``gapfill``: a
    COMPLETE hourly spine per event_type (sequence-explode of the global
    hour range against the distinct keys), hourly count (0 where no events)
    and the mean value forward-filled across empty hours (LOCF via
    ``last(ignorenulls)`` over an ordered per-key window; the decimal sum
    is divided in DOUBLE as DuckDB divides ``DECIMAL / BIGINT``, and
    rounded to 4dp as ``round(x * 10000) / 10000``).  At scale
    the spine generation is a per-key explode after the key shuffle — no
    driver loop, no cross-join blowup beyond keys × hours.  Streaming
    twins: the same windowed ops under a watermark in
    ``streaming/events.py``; tests/test_streaming.py asserts
    stream==batch."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.lit("tumbling").alias("kind"),
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    sliding = (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.lit("sliding").alias("kind"),
            F.col("w.start").alias("window_start"),
            F.lit(None).cast("string").alias("event_type"),
            "n",
            "sum_value",
        )
    )
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.col("value").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("av"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))  # 1-row bounds: broadcast, no shuffle
        .select(
            "event_type",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
        )
    )
    locf_w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    gapfill = (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            F.lit("gapfill").alias("kind"),
            F.col("h").alias("window_start"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            (
                F.round(F.last("av", ignorenulls=True).over(locf_w) * 10000, 0) / 10000
            ).alias("sum_value"),
        )
    )
    return tumbling.union(sliding).union(gapfill)


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             round(sum(value::DECIMAL(18,4))::DOUBLE, 4) AS sum_value
      FROM numbered GROUP BY user_id, sid
    )
    SELECT user_id, count(*) AS n_sessions, sum(n_events)::BIGINT AS n_events,
           round(sum(sum_value), 4) AS sum_value,
           sum(epoch_ms(session_start))::BIGINT AS start_ms_sum
    FROM sessions GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap via
    ``session_window`` (streaming-capable operator running in batch),
    rolled up per user.  Oracle is the classic gaps-and-islands rewrite —
    a strong semantic cross-check that Spark's merge rule (join iff gap <
    30min) matches: any mis-merged session changes ``n_sessions`` AND
    ``start_ms_sum`` (the sum of session-start epoch-millis — every
    boundary placement contributes to the checksum, so per-session detail
    is verified without shipping one row per session to the driver).

    ``scale_out``: the single-row-group fixture otherwise feeds the
    session-merge shuffle from ONE scan task (r2 bench regression)."""
    ev = scale_out(load(spark, sf_dir, "events"))
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .select(F.col("user_id"), F.col("w.start").alias("session_start"), "n_events", "sum_value")
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.sum("sum_value"), 4).alias("sum_value"),
        # fixture ts is TIMESTAMP_NTZ; session timezone is pinned UTC so the
        # cast is identity and epoch-millis agree with DuckDB's epoch_ms
        F.sum(F.unix_millis(F.col("session_start").cast("timestamp")))
        .cast("long")
        .alias("start_ms_sum"),
    )


_PROPS_FILTER = {"k": (">", 50)}


@register(
    "events_payload_dedup",
    oracle=f"""
    SELECT 'json_filter' AS kind, event_type AS key, count(*) AS n,
           round(sum(value::DECIMAL(18,4))::DOUBLE, 4) AS sum_value
    FROM events
    WHERE {filters_to_duckdb_sql(_PROPS_FILTER, "props")}
    GROUP BY event_type
    UNION ALL
    SELECT 'variant', (json_extract(props, 'k')::INT // 10)::VARCHAR, count(*),
           round(sum(value::DECIMAL(18,4))::DOUBLE, 4)
    FROM events
    GROUP BY 2
    UNION ALL
    SELECT 'timelayout', 'range', count(*),
           round(sum(value::DECIMAL(18,4))::DOUBLE, 4)
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-13 00:00:00'
    UNION ALL
    SELECT 'dedup', 'event_id', count(*),
           sum(cnt - 1)::DOUBLE FROM (
      SELECT event_id, count(*) AS cnt FROM (
        SELECT event_id FROM events UNION ALL
        SELECT event_id FROM events WHERE event_id % 3 = 0
      ) GROUP BY event_id) t
    """,
)
def events_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload + key-dedup surface, tagged: (1) the metadata filter
    compiler applied to a second JSON column (``props``) — proves the DSL is
    column-agnostic; (2) the Spark 4 VariantType path — ``parse_json`` once
    into a binary-encoded Variant, typed ``variant_get`` extraction (the
    right choice over per-access ``get_json_object`` string re-parsing when
    many fields of one JSON column are probed at 100 TB); (3) exact dedup on
    the event key over a replay-polluted input; (4) the hypertable layout
    round-trip — events rewritten ``write_time_partitioned`` (day buckets,
    once per process) and read back through ``time_range_scan``'s pruned
    path for a 3-day range, checksummed against the fixture (directory
    pruning itself is plan-asserted in tests/test_layout.py)."""
    ev = load(spark, sf_dir, "events")
    jf = (
        ev.filter(compile_filters(_PROPS_FILTER, metadata="props"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.lit("json_filter").alias("kind"),
            F.col("event_type").alias("key"),
            "n",
            "sum_value",
        )
    )
    v = ev.withColumn("pv", F.parse_json("props"))
    variant = (
        v.select(
            (F.variant_get("pv", "$.k", "int") / F.lit(10)).cast("int").alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.lit("variant").alias("kind"),
            F.col("k_bucket").cast("string").alias("key"),
            "n",
            "sum_value",
        )
    )
    # Exact dedup on the event key (streaming twin:
    # dropDuplicatesWithinWatermark — the reference's idempotent-insert S5 in
    # stream form).  Input is events ∪ a 1/3 replay to force duplicates;
    # reported as one (n_unique, n_dropped) summary row in the tagged shape.
    ids = ev.select("event_id")
    both = ids.union(ids.filter(F.col("event_id") % 3 == 0))
    dedup = (
        both.groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cnt") - 1).cast("double").alias("sum_value"),
        )
        .select(
            F.lit("dedup").alias("kind"),
            F.lit("event_id").alias("key"),
            "n",
            "sum_value",
        )
    )
    from modal_vector_db_spark.operators.layout import time_range_scan

    timelayout = (
        time_range_scan(
            spark,
            _time_layout_dir(spark, sf_dir),
            "ts",
            "2024-01-10 00:00:00",
            "2024-01-13 00:00:00",
            granularity="day",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
        )
        .select(
            F.lit("timelayout").alias("kind"),
            F.lit("range").alias("key"),
            "n",
            "sum_value",
        )
    )
    return jf.union(variant).union(timelayout).union(dedup)


_TIME_LAYOUT_CACHE: dict[str, str] = {}


def _time_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """Day-partitioned rewrite of events (fixture setup, once per process
    per sf_dir) — the hypertable layout ``time_range_scan`` prunes."""
    import os

    hit = _TIME_LAYOUT_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    from modal_vector_db_spark.operators.layout import write_time_partitioned

    out = os.path.join(
        scratch_root(), "sparkvdb_timelayout", sf_dir.strip("/").replace("/", "_")
    )
    write_time_partitioned(
        load(spark, sf_dir, "events").select("event_id", "ts", "value"),
        out,
        ts_col="ts",
        granularity="day",
    )
    _TIME_LAYOUT_CACHE[sf_dir] = out
    return out


@register(
    "events_asof_join",
    oracle="""
    SELECT l.event_id, l.user_id, round(r.value, 4) AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each click picks up the latest prior
    purchase value for the same user (operators/asof.py — union + window,
    one shuffle on user_id, no row multiplication; DuckDB expresses the same
    thing as ASOF LEFT JOIN)."""
    from modal_vector_db_spark.operators.asof import asof_join

    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    joined = asof_join(clicks, purchases, on="ts", by="user_id", value_cols=["value"])
    return joined.select(
        "event_id", "user_id", F.round(F.col("value_r"), 4).alias("last_purchase_value")
    )




@register(
    "events_range_join",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS bs, count(*) AS n
      FROM events GROUP BY 1
    ),
    top3 AS (SELECT bs FROM b ORDER BY n DESC, bs ASC LIMIT 3),
    win AS (
      SELECT bs - INTERVAL '5 minutes' AS w_start,
             bs + INTERVAL '15 minutes' AS w_end
      FROM top3
    )
    SELECT w.w_start, e.event_type, count(*) AS n_events,
           round(sum(e.value::DECIMAL(18,4))::DOUBLE, 4) AS sum_value
    FROM events e JOIN win w ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1, 2
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi key (operators/ranges.py): the 3 busiest
    10-minute buckets become 20-minute "incident windows" [peak−5min,
    peak+15min), and every event is matched to the windows containing its
    timestamp — overlapping windows multiply matches, exactly like the
    DuckDB theta join.  The binned formulation keeps the plan a hash join
    (shuffle O(|events| + windows×bins)) instead of the
    BroadcastNestedLoopJoin a raw theta join would plan."""
    from modal_vector_db_spark.operators.ranges import range_join

    ev = load(spark, sf_dir, "events")
    top = (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w.start").asc())
        .limit(3)
    )
    wins = top.select(
        (F.col("w.start") - F.expr("INTERVAL 5 MINUTES")).alias("w_start"),
        (F.col("w.start") + F.expr("INTERVAL 15 MINUTES")).alias("w_end"),
    )
    joined = range_join(ev, wins, "ts", "w_start", "w_end", bin_width_s=300)
    return joined.groupBy("w_start", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast(DEC)).cast("double"), 4).alias("sum_value"),
    )
