"""As-of (point-in-time) join — a temporal operator Spark lacks natively.

``asof_join(left, right, on, by)`` matches each left row to the single most
recent right row with ``right.on <= left.on`` within the same ``by`` group —
the canonical market-data / event-enrichment join (DuckDB ships it as
``ASOF JOIN``; the reference has no time semantics at all, so this is pure
extension surface for the events fixture).

Spark-first implementation: **union + window**, not a join.  Tag both inputs,
union them (schema-aligned), and run ``last(value, ignorenulls) OVER
(PARTITION BY by ORDER BY ts, is_left)`` — each left row picks up the latest
preceding right value in one pass.  The carried value is the right row AS A
STRUCT, not per-column fills: per-column ``last(ignorenulls)`` would stitch
together a composite of DIFFERENT right rows whenever the latest right row
holds a NULL in one value column (round-9 review finding) — DuckDB's ASOF
returns the one row, NULLs included, and so does this.

Scale shape: ONE shuffle on the ``by`` key (the window partition), linear
state, no row multiplication — strictly better at 100 TB than the naive
range-join (left × right within group, then rank) whose intermediate is
quadratic in group size.  Skewed ``by`` keys fall under AQE skew handling
like any window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: :func:`asof_join`'s hot-key bucket width in seconds; ``None`` (the
#: production setting) runs the single-window plan
_TS_BUCKET_SECONDS: float | None = None


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | str,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Point-in-time join: latest right row with ``right.on <= left.on`` per
    ``by`` group; right value columns arrive suffixed ``_r`` (null when no
    prior right row exists — left rows are always kept, like a LEFT ASOF
    JOIN).
    Right rows with a NULL ``on`` timestamp match NOTHING (``NULL <= ts``
    is not true — the DuckDB semantics; they are dropped up front).

    ``_TS_BUCKET_SECONDS``: the HOT-KEY escape hatch.  The default plan is
    one window partitioned by ``by`` — and window exchanges are NOT
    covered by AQE skew-join splitting (that mechanism rewrites joins
    only), so a key holding 100× the median rows (the real events-table
    shape: one pathological user/device) serializes on one task.  With a
    bucket width set, the window partitions by ``(by, floor(ts/width))``
    instead — the hot key spreads across its time buckets — and a second,
    per-bucket-sized pass carries the last right row across bucket
    boundaries (the classic block prefix-scan decomposition):

      1. local pass: running ``last(right_row, ignorenulls)`` within each
         (key, bucket) window;
      2. bucket summary: last right row per (key, bucket) — one row per
         bucket, so the cross-bucket carry window is tiny by construction;
      3. stitch: rows whose local fill is null take the carry from the
         latest PRECEDING bucket that saw a right row (the carry join is
         NULL-SAFE on the keys, so NULL ``by`` groups agree with the
         default plan).

    Same results as the default plan (equality is test-pinned); choose a
    width that yields ≥ tens of buckets over the hot key's time span."""
    suffix, ts_bucket_seconds = "_r", _TS_BUCKET_SECONDS
    by = [by] if isinstance(by, str) else list(by)
    value_cols = list(value_cols) if value_cols is not None else [
        c for c in right.columns if c != on and c not in by
    ]
    out_cols = [f"{c}{suffix}" for c in value_cols]
    reserved = {"_is_left", "_tsb", "_rv", "_loc", "_carry", "_sum", "_tag"}
    clash = [c for c in out_cols if c in left.columns] + [
        c for c in reserved if c in left.columns or c in right.columns
    ]
    if clash:
        # silently overwriting a caller's column with the fill corrupted
        # data with no error (review finding)
        raise ValueError(
            f"asof_join: output/reserved column names collide with input "
            f"columns: {sorted(set(clash))} — rename them first"
        )

    # the right row travels as ONE struct (see module docstring)
    rv = F.struct(*[F.col(c).alias(c) for c in value_cols])
    rv_type = right.select(rv.alias("_rv")).schema[0].dataType.simpleString()
    lt = left.withColumn("_is_left", F.lit(1)).withColumn(
        "_rv", F.lit(None).cast(rv_type)
    )
    rt = (
        right.filter(F.col(on).isNotNull())  # NULL ts matches nothing
        .select(*by, F.col(on), F.lit(0).alias("_is_left"), rv.alias("_rv"))
    )
    extra_left = [c for c in lt.columns if c not in rt.columns]
    for c in extra_left:
        rt = rt.withColumn(c, F.lit(None).cast(dict(lt.dtypes)[c]))
    merged = lt.select(*sorted(lt.columns)).unionByName(rt.select(*sorted(rt.columns)))

    def _expand(df: DataFrame, rv_col: str) -> DataFrame:
        out = df.filter(F.col("_is_left") == 1)
        for c in value_cols:
            out = out.withColumn(f"{c}{suffix}", F.col(rv_col).getField(c))
        return out.select(*sorted([*left.columns, *out_cols]))

    # Right rows sort before left rows at the same timestamp, so an exactly
    # simultaneous right row IS visible to the left row (<=, matching DuckDB
    # ASOF semantics).
    if ts_bucket_seconds is None:
        w = (
            Window.partitionBy(*by)
            .orderBy(F.col(on).asc(), F.col("_is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = merged.withColumn("_rvf", F.last("_rv", ignorenulls=True).over(w))
        return _expand(filled, "_rvf")

    # -- bucketed (skew-spread) plan ---------------------------------------
    ts_secs = (
        F.unix_micros(F.col(on)) / F.lit(1_000_000.0)
        if dict(merged.dtypes)[on] == "timestamp"
        else F.col(on).cast("double")
    )
    merged = merged.withColumn(
        "_tsb", F.floor(ts_secs / F.lit(float(ts_bucket_seconds))).cast("long")
    )
    # 1. local running fill within (by, bucket) — the skew-spread window
    w_local = (
        Window.partitionBy(*by, "_tsb")
        .orderBy(F.col(on).asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.withColumn("_loc", F.last("_rv", ignorenulls=True).over(w_local))
    # 2. last right ROW per (by, bucket): max_by keyed on (ts, 1) beats
    #    earlier rows; one output row per populated bucket, map-side
    #    partial aggregation.
    rb = merged.filter(F.col("_is_left") == 0)
    summary = rb.groupBy(*by, "_tsb").agg(F.max_by("_rv", F.col(on)).alias("_sum"))
    # 3. carry per FACT bucket = latest summary from a STRICTLY earlier
    #    bucket (same-bucket right rows were seen by pass 1).  Bucket-level
    #    prefix scan: union the fact side's distinct buckets with the
    #    summary buckets and run the running-last window over THAT — one
    #    row per (key, bucket) on both sides, skew-free by construction.
    #    (A plain equijoin against `summary` would miss right-populated
    #    buckets containing no fact rows — the scan sees every bucket.)
    fact_buckets = (
        filled.filter(F.col("_is_left") == 1).select(*by, "_tsb").distinct()
        .withColumn("_tag", F.lit(0))
        .withColumn("_sum", F.lit(None).cast(rv_type))
    )
    sum_buckets = summary.withColumn("_tag", F.lit(1))
    scan = fact_buckets.select(*sum_buckets.columns).unionByName(sum_buckets)
    # fact buckets sort BEFORE the same bucket's summary (tag 0 < 1): an
    # equal-bucket summary is invisible — strictly-preceding semantics
    w_carry = (
        Window.partitionBy(*by)
        .orderBy(F.col("_tsb").asc(), F.col("_tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carry = (
        scan.select(
            *by,
            "_tsb",
            "_tag",
            F.last("_sum", ignorenulls=True).over(w_carry).alias("_carry"),
        )
        .filter(F.col("_tag") == 0)
        .drop("_tag")
    )
    # join key includes the bucket, so even the hot key's rows spread across
    # its buckets here too; `carry` is bucket-cardinality — AQE broadcasts
    # it when small, and the join stays skew-eligible when it isn't.
    # NULL-SAFE equality: window partitioning groups NULL keys (and the
    # NULL-ts bucket) together, so the carry join must too — a null-unsafe
    # join silently diverged from the default plan (review finding)
    fl = filled.filter(F.col("_is_left") == 1).alias("f")
    ca = carry.alias("c")
    cond = None
    for k in [*by, "_tsb"]:
        term = F.col(f"f.{k}").eqNullSafe(F.col(f"c.{k}"))
        cond = term if cond is None else cond & term
    out = fl.join(ca, cond, "left").select(
        "f.*", F.coalesce(F.col("f._loc"), F.col("c._carry")).alias("_rvf")
    )
    return _expand(out, "_rvf")
