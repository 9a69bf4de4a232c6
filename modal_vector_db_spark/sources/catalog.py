"""Warehouse layout + DDL-equivalents.

Reference storage: one DuckDB file per logical DB at ``/db/{name}.duckdb``
(``vdb.py:15-16,38``); existence = file check (``vdb.py:43-46``);
``create_new_table=True`` drops & recreates (``duckvdb.py:26-28,34-35``).

Spark mapping: one Parquet directory per named DB under a warehouse root.
At 100 TB the directory is partitioned (optionally by an IVF ``cluster_id``
for partition-pruned ANN — see ``operators/ann.py``) and appended
atomically per batch via Spark's committer.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

DEFAULT_WAREHOUSE = os.environ.get("SPARKVDB_WAREHOUSE", "/tmp/sparkvdb_warehouse")


def db_path(name: str, warehouse: str | None = None) -> str:
    return os.path.join(warehouse or DEFAULT_WAREHOUSE, name)


def _recover_swap(p: str) -> None:
    """Crash recovery for :func:`_swap_in`: a writer that died between the
    two renames leaves the table at ``<p>__old`` and nothing at ``p`` —
    roll the aside copy back in so the table is never lost.  (If ``p``
    exists, any lingering ``__old`` is a completed swap's leftover and is
    left for the next writer to clear.)

    Reader-safe: this is also invoked from READ paths (``table_exists``,
    ``read_table``), whose ``p``-is-absent observation can race a LIVE
    writer inside ``_swap_in``'s microsecond aside window — the rename here
    would then resurrect the old directory under the writer's feet.  The
    rename is therefore best-effort (a concurrent writer completing
    ``rename(tmp, p)`` first makes it fail with ENOTEMPTY/EEXIST — the
    table is live again, nothing to recover), and ``_swap_in`` re-asides a
    resurrected directory and retries (see there)."""
    old = p + "__old"
    if not os.path.isdir(p) and os.path.isdir(old):
        try:
            os.rename(old, p)
        except OSError:
            pass  # a live writer won the race: p is (or is becoming) live


def _swap_in(p: str, tmp: str) -> None:
    """Atomically-recoverable directory swap: rename the live table aside,
    the staged one in, then drop the aside copy.  Unlike ``rmtree + rename``
    there is NO window where the data exists nowhere: a crash before the
    second rename leaves the old table recoverable (``_recover_swap``),
    after it the new table is live.  Single-WRITER, but concurrent READERS
    exist: a reader's ``_recover_swap`` can observe the aside window
    (``p`` absent, ``__old`` present) and roll the old directory back in,
    making ``rename(tmp, p)`` fail — so that rename re-asides the
    resurrected directory and retries, bounded (each retry shrinks the
    reader's observation window to the instant between the two renames;
    8 consecutive losses means something other than a reader holds ``p``)."""
    old = p + "__old"
    if os.path.isdir(old):  # completed-swap leftover from a prior crash
        shutil.rmtree(old)
    os.rename(p, old)
    for attempt in range(8):
        try:
            os.rename(tmp, p)
            break
        except OSError:
            # Distinguish a reader's _recover_swap resurrecting old → p
            # (p exists again: re-aside it and retry) from a genuine rename
            # failure (p still absent: re-raise — the aside copy stays on
            # disk for _recover_swap, the original crash-recovery contract).
            if not os.path.isdir(p):
                raise
            os.rename(p, old)
    else:
        os.rename(old, p)  # restore the live table before giving up
        raise OSError(
            f"directory swap for {p!r} lost 8 races to concurrent readers"
        )
    shutil.rmtree(old)


def table_exists(name: str, warehouse: str | None = None) -> bool:
    """Existence = directory existence with at least one parquet footer
    (the reference's ``os.path.exists`` check, ``vdb.py:43-46``).  Walks into
    subdirectories because partitioned tables (e.g. the IVF layout's
    ``cluster_id=N/``) keep their files one level down."""
    p = db_path(name, warehouse)
    _recover_swap(p)
    if not os.path.isdir(p):
        return False
    for _, _, files in os.walk(p):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def drop_table(name: str, warehouse: str | None = None) -> None:
    """``DROP TABLE IF EXISTS`` analog (``duckvdb.py:34-35``)."""
    p = db_path(name, warehouse)
    if os.path.isdir(p):
        shutil.rmtree(p)


#: footer key under which Spark's parquet writer records the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_reader(spark: SparkSession, sample: str | None) -> DataFrameReader:
    """``spark.read`` pinned to the schema Spark wrote into ``sample``'s
    parquet footer, read on the driver with pyarrow — so the read starts no
    schema-inference job.  Same schema as inference: without
    ``mergeSchema`` Spark also takes it from one data file's footer, from
    this same key, and partition columns (``cluster_id=N/``) still come
    from path discovery.  A file without the key (not written by Spark),
    an unreadable one, or no file at all falls back to plain inference."""
    reader = spark.read
    if sample is None:
        return reader
    import pyarrow.parquet as pq

    try:
        raw = (pq.read_metadata(sample).metadata or {}).get(SPARK_SCHEMA_KEY)
    except (OSError, ValueError):
        return reader
    if raw is None:
        return reader
    return reader.schema(StructType.fromJson(json.loads(raw)))


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """THE way the package turns driver-side rows into a DataFrame.
    ``rows`` (tuples in ``schema``'s field order, any iterable) become one
    pyarrow table, which Spark plans as a ``LocalTableScan``: scanning it
    runs no Python worker.  ``spark.createDataFrame(list, schema)`` plans a
    ``Scan ExistingRDD`` over a Python RDD instead, and every scan of it
    starts Python workers (a 200-row insert batch counted in 543 ms as a
    list and 142 ms through Arrow on 4 cores).  ``schema`` is a
    ``StructType`` or a DDL string; values follow Arrow's conversion rules
    (Python floats into ``float``/``double``, ints into any integer type,
    ``None`` as NULL)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def in_list(col: str, values) -> Column:
    """``col IN (values…)`` from one SQL text: a fixed number of py4j calls
    whatever the list's length, where ``Column.isin`` makes about four per
    value (1,276 calls, 163 ms, for 300 ids on 4 cores).  The optimizer keeps it an ``In`` (an ``InSet``
    past ten values).  A string holding a quote or a backslash goes in as a
    hex binary literal cast to string, so no escape rule of the SQL parser
    (which a session conf changes) applies to it.  Values other than
    strings and ints take ``Column.isin``."""
    values = list(values)
    if not all(type(v) in (str, int) for v in values):
        return F.col(col).isin(values)
    if not values:
        return F.lit(False)

    def sql(v) -> str:
        if isinstance(v, int):
            return str(v)
        if "'" in v or "\\" in v:
            return f"CAST(X'{v.encode().hex()}' AS STRING)"
        return f"'{v}'"

    name = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{name} IN ({', '.join(map(sql, values))})")


def read_table(spark: SparkSession, name: str, warehouse: str | None = None) -> DataFrame:
    p = db_path(name, warehouse)
    _recover_swap(p)
    return footer_reader(spark, next(_walk_leaf_files(p), None)).parquet(p)


def sized_by_bytes(df: DataFrame, partition_by=None) -> DataFrame:
    """The write-layout rule for commits that carry rows: file size comes
    from AQE, not from the upstream partitioning.  ``rebalance`` adds one
    shuffle that AQE coalesces (and splits) to
    ``advisoryPartitionSizeInBytes``, so a small commit lands as ONE file
    per partition directory.  Taken by appends whose input partitioning is
    fixed (:func:`sized_for_append`), by update-shaped copy-on-write
    replacements (``replace_where``, both backends — they union the kept
    rows with the patch batch) and by ``create_index``'s plain-table
    rewrite (its input's partitioning is the base table's file split).
    Deletes (``rewrite_where``) write their scan of the touched files as
    is: one file per scan split, and Spark packs small files into one split
    and cuts only files larger than a split, so the shuffle would buy
    nothing.  Writes that DEFINE a layout (overwrite, replace_table,
    z-order, compact) keep the caller's partitioning.  Without AQE the
    hint would fan out to ``shuffle.partitions`` files, so it is applied
    only under AQE."""
    if df.sparkSession.conf.get("spark.sql.adaptive.enabled").lower() != "true":
        return df
    return df.hint("rebalance", *(partition_by or ()))


def sized_for_append(df: DataFrame, partition_by=None) -> DataFrame:
    """The append side of :func:`sized_by_bytes`: rebalance only when the
    input's partitioning is fixed.  A persisted frame keeps its cached
    plan's ``shuffle.partitions`` (Spark does not let AQE coalesce a cached
    plan), and ``partitionBy`` multiplies the input's partition count by
    the partition-value count — both would commit many tiny files.  Any
    other append input ends in a shuffle AQE already coalesces (the insert
    batch's dedup, the bloom words' group-by), and a rebalance there would
    only shuffle the whole batch a second time.

    The write paths persist a batch only when a bloom filter, text index
    or graph index reads it besides the commit (``VectorDB._batch_cached``),
    so an insert into a table without those stores reaches this as an
    un-persisted frame and commits without the extra rebalance."""
    level = df.storageLevel
    if partition_by or level.useMemory or level.useDisk or level.useOffHeap:
        return sized_by_bytes(df, partition_by)
    return df


def append(df: DataFrame, name: str, warehouse: str | None = None, partition_by: list[str] | None = None) -> None:
    w = sized_for_append(df, partition_by).write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(db_path(name, warehouse))


def overwrite(df: DataFrame, name: str, warehouse: str | None = None, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(db_path(name, warehouse))


def table_file_stats(name: str, warehouse: str | None = None) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) for a table directory — the fragmentation
    signal that drives :func:`compact`."""
    p = db_path(name, warehouse)
    n, total = 0, 0
    for root, _, files in os.walk(p):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact(
    spark: SparkSession,
    name: str,
    warehouse: str | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite the table into
    ``ceil(total_bytes / target_file_bytes)`` files.  Returns the new file
    count.

    Every idempotent-append batch adds files (Spark's committer never
    rewrites existing data), so a hot ingest table fragments toward
    one-file-per-batch — and scan task count (+ scheduler pressure +
    parquet footer reads) grows with file count, not data size.  The same
    maintenance op every table format ships (Delta OPTIMIZE, Iceberg
    rewrite_data_files), expressed directly over the parquet layout.
    Single-writer, like the write path: run it from the maintenance job,
    not concurrently with inserts."""
    import math

    p = db_path(name, warehouse)
    _recover_swap(p)  # size AFTER recovery, or a half-swapped table reads 0
    _, total = table_file_stats(name, warehouse)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = read_table(spark, name, warehouse)
    # Stage into a sibling dir then swap: the source must be fully read
    # before its directory is replaced.
    tmp = p + "__compacting"
    rels, pcols = _leaf_files(name, warehouse)
    if pcols:
        # Partitioned layout: compact WITHIN partitions — a flat
        # repartition would destroy the pruning layout.  One task per
        # partition, split by maxRecordsPerFile so a partition bigger than
        # target_file_bytes still honors the target (avg row size comes
        # from footers: no scan).
        rows = sum(_footer_rows(os.path.join(p, r)) for r in rels)
        avg_row = max(1.0, total / max(rows, 1))
        per_file = max(1, int(target_file_bytes / avg_row))
        (
            df.repartition(*pcols)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", per_file)
            .partitionBy(*pcols)
            .parquet(tmp)
        )
        n_files = sum(
            f.endswith(".parquet")
            for _, _, fs in os.walk(tmp)
            for f in fs
        )
    else:
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    _swap_in(p, tmp)
    return n_files


def _footer_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def footer_row_count(name: str, warehouse: str | None = None) -> int:
    """Table row count from parquet FOOTERS alone — O(files) driver-side
    metadata, zero Spark jobs.  The plain-catalog analog of the versioned
    backend's ``manifest_row_count`` (which is even cheaper: one JSON
    read).  A missing table counts 0."""
    p = db_path(name, warehouse)
    rels, _ = _leaf_files(name, warehouse)
    return sum(_footer_rows(os.path.join(p, f)) for f in rels)


def _walk_leaf_files(p: str):
    """The leaf parquet files under directory ``p``, lazily, in walk order.
    Skips Spark/metadata dirs exactly like Spark's own file listing
    (_temporary staging, _SUCCESS, hidden files): a crashed append's
    uncommitted task files must never enter a rewrite's file list —
    explicit-path reads bypass Spark's underscore filter."""
    for root, dirs, fs in os.walk(p):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in fs:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(root, f)


def _leaf_files(name: str, warehouse: str | None) -> tuple[list[str], list[str]]:
    """``(relative leaf parquet paths, partition column names)`` for a
    table directory.  Flat tables return ``(files, [])``; Hive-partitioned
    layouts (the IVF ``cluster_id=N/`` dirs, time buckets) return their
    leaf files plus the partition columns inferred from the path segments —
    what lets file-level rewrites work on partitioned tables too (reads go
    through ``basePath`` so the partition column is recovered; restages
    write ``partitionBy`` the same columns)."""
    p = db_path(name, warehouse)
    rels = [os.path.relpath(f, p) for f in _walk_leaf_files(p)]
    pcols = []
    for r in rels:
        segs = [s for s in os.path.dirname(r).split(os.sep) if "=" in s]
        if segs:
            pcols = [s.partition("=")[0] for s in segs]
            break
    return sorted(rels), pcols


def _read_subset(spark: SparkSession, base_path: str, paths: list[str]) -> DataFrame:
    """``basePath``-pinned read of an explicit leaf-file subset, so
    path-encoded partition columns survive subset reads.  SHARED by the
    plain catalog and the versioned manifest log (which passes its
    ``data/`` dir as the base).  The schema comes from the first path's
    footer (:func:`footer_reader`)."""
    sample = paths[0] if paths else None
    return footer_reader(spark, sample).option("basePath", base_path).parquet(*paths)


def _files_with_matches(
    spark: SparkSession,
    base_path: str,
    rel_to_abs: dict[str, str],
    pred,
    semi: tuple[DataFrame, str] | None = None,
) -> list[str]:
    """Shared touched-file discovery: which rel files hold at least one row
    matching ``pred`` — ONE column-pruned scan tagging rows with
    ``input_file_name()``.  Matching is on the FULL path (one partitioned
    write reuses part filenames across partition dirs); the collected
    distinct list is bounded by the FILE count, not the row count (the
    same driver-side footprint Delta's touched-file discovery carries).

    ``semi=(keys_df, col)``: match via a broadcast LEFT SEMI join on
    ``col`` instead of ``pred`` — the shape for large driver-side key sets
    (a 100k-literal ``isin`` compiles to a 100k-node expression tree;
    a broadcast hash join does not)."""
    scan = _read_subset(spark, base_path, list(rel_to_abs.values()))
    if semi is not None:
        keys_df, col = semi
        scan = scan.join(F.broadcast(keys_df), col, "left_semi")
    else:
        scan = scan.filter(pred)
    hit = (
        scan
        .select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    )
    return file_rels((r["_f"] for r in hit), rel_to_abs)


def file_rels(uris, rel_to_abs: dict[str, str]) -> list[str]:
    """The rel files (of ``rel_to_abs``) that the file URIs a scan reports
    (``input_file_name()``, ``_metadata.file_path``) name, sorted and
    distinct; a URI outside the map is ignored."""
    from urllib.parse import unquote, urlparse

    by_path = {os.path.abspath(a): r for r, a in rel_to_abs.items()}
    got = (os.path.abspath(unquote(urlparse(u).path)) for u in uris)
    return sorted({by_path[q] for q in got if q in by_path})


def _read_rels(spark: SparkSession, name: str, warehouse, rels: list[str]) -> DataFrame:
    p = db_path(name, warehouse)
    return _read_subset(spark, p, [os.path.join(p, f) for f in rels])


def drop_ids_frame(spark: SparkSession, sample_df: DataFrame, drop_ids, col: str, name: str) -> DataFrame:
    """THE typed drop-id table both backends' ``rewrite_where(drop_ids=)``
    paths build: key type read from the table's own schema (one-file
    footer sample), so id sets of any key type (string, int, long, ...)
    join without an implicit cast.  Shared here so the typing logic has
    one home."""
    for f in sample_df.schema.fields:
        if f.name == col:
            return local_frame(
                spark, [(i,) for i in drop_ids], StructType([StructField(col, f.dataType)])
            )
    raise ValueError(f"rewrite_where: column {col!r} not in table {name!r}")


def _touched_files(
    spark: SparkSession, name: str, warehouse, files: list[str], pred, semi=None
) -> list[str]:
    p = db_path(name, warehouse)
    return _files_with_matches(
        spark, p, {f: os.path.join(p, f) for f in files}, pred, semi=semi
    )


def _assemble_and_swap(
    spark: SparkSession,
    name: str,
    warehouse,
    untouched: list[str],
    replacement_df: DataFrame | None,
    partition_by: list[str] | None = None,
) -> int:
    """Build the table's next directory: stage ``replacement_df`` with
    Spark (``partitionBy`` when the table is partitioned), HARDLINK every
    untouched file in under its original relative path (a metadata-only op
    — the bytes, inode and mtime are untouched, so unmodified data is
    never rewritten), then crash-safe swap.  Returns the row count of the
    newly-written files (from footers, no scan)."""
    p = db_path(name, warehouse)
    tmp = p + "__rewriting"
    if replacement_df is not None:
        w = replacement_df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
    else:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
    new_rows = sum(
        _footer_rows(os.path.join(root, f))
        for root, _, fs in os.walk(tmp)
        for f in fs
        if f.endswith(".parquet")
    )
    for f in untouched:
        dst = os.path.join(tmp, f)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.link(os.path.join(p, f), dst)
    _swap_in(p, tmp)
    return new_rows


def rewrite_where(
    spark: SparkSession,
    name: str,
    keep,
    warehouse: str | None = None,
    drop_ids: list | None = None,
    drop_ids_col: str = "id",
) -> int:
    """Rewrite ONLY the files holding rows where ``keep`` does not hold;
    returns the number of rows removed.

    ``drop_ids``: alternative drop-set form for LARGE driver-side id sets
    (``keep`` is then ignored and may be None): rows whose ``drop_ids_col``
    is in the set are dropped via a broadcast hash join — both the
    touched-file discovery (left semi) and the kept-rows rewrite (left
    anti) — instead of an ``isin`` literal list, whose expression tree
    grows with the set (100k literals = 100k plan nodes serialized to
    every task).

    The copy-on-write delete every immutable-file table format performs
    (Delta/Iceberg DELETE), with Delta-style file pruning: one
    column-pruned scan finds the touched files (:func:`_touched_files`),
    only those are rewritten, and every untouched file is carried into the
    new directory as a HARDLINK — same inode, zero bytes copied.  At 100 TB
    a one-row takedown costs a predicate scan plus a one-file rewrite, not
    a full-corpus rewrite.  Removed counts come from parquet footers — no
    count() scans.  Works on Hive-partitioned layouts too (the IVF
    ``cluster_id=N/`` dirs): partition columns are inferred from the path,
    subset reads recover them via ``basePath``, and replacement files
    restage under their partition directories.  Single-writer, like the
    write path; the directory swap is crash-recoverable
    (:func:`_swap_in`)."""
    files, pcols = _leaf_files(name, warehouse)
    p = db_path(name, warehouse)
    if not files:
        return 0
    if drop_ids is not None:
        ids_df = drop_ids_frame(
            spark, _read_rels(spark, name, warehouse, files[:1]), drop_ids,
            drop_ids_col, name,
        )
        touched = _touched_files(
            spark, name, warehouse, files, None, semi=(ids_df, drop_ids_col)
        )
        if not touched:
            return 0
        kept_df = _read_rels(spark, name, warehouse, touched).join(
            F.broadcast(ids_df), drop_ids_col, "left_anti"
        )
    else:
        drop_pred = ~F.coalesce(keep, F.lit(False))
        touched = _touched_files(spark, name, warehouse, files, drop_pred)
        if not touched:
            return 0
        kept_df = _read_rels(spark, name, warehouse, touched).filter(keep)
    rows_before = sum(_footer_rows(os.path.join(p, f)) for f in touched)
    untouched = [f for f in files if f not in set(touched)]
    rows_after = _assemble_and_swap(
        spark, name, warehouse, untouched, kept_df, partition_by=pcols or None
    )
    return rows_before - rows_after


def replace_where(
    spark: SparkSession,
    name: str,
    pred,
    extra_df: DataFrame | None,
    warehouse: str | None = None,
    touched: list[str] | None = None,
) -> int:
    """The update()-shaped mutation, file-pruned: rows matching ``pred``
    are removed, ``extra_df`` rows are added, and only files containing
    matches are rewritten (untouched files hardlink-carried; partitioned
    layouts restage under their partition dirs — ``extra_df`` must carry
    the partition columns, which the IVF assign/update paths do).
    ``pred`` must be null-safe.  Returns rows removed from touched files
    when ``extra_df is None``; with an ``extra_df`` the staged rows mix
    kept and added, so the return degrades to the touched files' pre-total
    (same caveat as the versioned twin — update()-shaped callers track
    their own matched count).  ``touched``: the files holding matched rows
    when the caller already found them (``update``'s driver-resolved
    plan); otherwise one discovery scan finds them."""
    files, pcols = _leaf_files(name, warehouse)
    p = db_path(name, warehouse)
    if not files:
        # missing/empty table: nothing to remove; adds become a plain
        # append (the swap path would os.rename a nonexistent live dir
        # and abandon a __rewriting stage — review finding)
        if extra_df is not None:
            append(extra_df, name, warehouse, partition_by=pcols or None)
        return 0
    if touched is None:
        touched = _touched_files(spark, name, warehouse, files, pred)
    parts = []
    if touched:
        parts.append(_read_rels(spark, name, warehouse, touched).filter(~pred))
    if extra_df is not None:
        parts.append(extra_df)
    if not parts:
        return 0
    replacement = parts[0]
    for part in parts[1:]:
        replacement = replacement.unionByName(part, allowMissingColumns=True)
    rows_before = sum(_footer_rows(os.path.join(p, f)) for f in touched)
    untouched = [f for f in files if f not in set(touched)]
    rows_after = _assemble_and_swap(
        spark, name, warehouse, untouched,
        sized_by_bytes(replacement, pcols or None), partition_by=pcols or None,
    )
    if extra_df is not None:
        return rows_before
    return rows_before - rows_after


def replace_table(
    df: DataFrame,
    name: str,
    warehouse: str | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Atomically replace table ``name`` with ``df`` — which MAY read from
    the table it replaces (the copy-on-write update case): the plan is fully
    materialized into a sibling staging directory before the swap, so the
    self-reference is resolved against the old files.  Returns the new row
    count (from staged footers — no extra scan).  Crash-recoverable swap
    (:func:`_swap_in`); single-writer like the write path."""
    p = db_path(name, warehouse)
    tmp = p + "__replacing"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    n = sum(
        _footer_rows(os.path.join(root, f))
        for root, _, fs in os.walk(tmp)
        for f in fs
        if f.endswith(".parquet")
    )
    _swap_in(p, tmp)
    return n


def read_json_source(spark: SparkSession, path: str) -> DataFrame:
    """S3 analog — JSON file source (``vdb.py:79``); multiLine handles the
    pokemon.json-style single-array layout."""
    return spark.read.json(path, multiLine=True)
