"""Manifest-log table format — versioned commits over plain parquet files
("Delta Lake lite", opt-in via ``VectorDB(versioned=True)``).

The plain catalog (``catalog.py``) mutates a directory in place (append
committer / stage-and-swap), which is correct single-writer but keeps no
history: a bad ``delete()`` is gone.  This module adds the log-structured
layout every production table format (Delta, Iceberg, Hudi) converges on,
reduced to its load-bearing core:

    <warehouse>/<name>/
        data/<uuid>-part-*.parquet     -- immutable data files, append-only
        _manifests/v00000017.json      -- {version, op, files: [relpaths]}

- A TABLE VERSION is a manifest: the exact list of data files that make it
  up.  Readers list manifests, pick the max (or any historical) version, and
  read just those files — ``spark.read.parquet(*files)``.
- A COMMIT is: write new data files into ``data/`` (invisible until
  referenced), then create the next manifest with ``O_EXCL`` — a failed
  writer leaves orphan data files (cleaned by vacuum), never a corrupt
  table.  Append references parent files + new; replace references only
  new.  No data file is ever rewritten or moved, so historical versions
  stay readable until vacuumed.
- TIME TRAVEL reads any retained version; ROLLBACK commits a new manifest
  duplicating an old one (history itself is never rewritten — an undone
  delete is an auditable event, not an erasure).
- VACUUM deletes data files unreferenced by the retained manifest suffix.

At 100 TB this is the right shape for the same reason it is in the real
formats: commits are O(1) metadata renames regardless of data size, readers
never see partial writes without any directory swap, and the append-only
file set composes with object stores (no rename-of-directory semantics
needed — the single atomic primitive is creating one small manifest).
Concurrency follows Delta's OCC split: the ``O_EXCL`` manifest create is
the compare-and-swap (object-store equivalent: conditional put), APPENDS
retry through lost races and are multi-writer safe (they only add files),
while replace-shaped ops (delete/update/overwrite/rollback) raise
``ConcurrentWriteError`` on a lost race — they rewrote a snapshot that is
no longer the head, so the caller must re-run against the new head.
Cross-writer content-idempotency (two writers inserting the same content
simultaneously) is handled natively by the facade's CAS MERGE loop —
``append(expected_head=...)`` here is the compare-and-swap primitive,
``engine.py:_versioned_cas_append`` the retry-with-fresh-anti-join policy.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.sources.catalog import (
    _files_with_matches,
    _footer_rows,
    _read_subset,
    db_path,
    drop_ids_frame,
    footer_reader,
    in_list,
    local_frame,
    sized_by_bytes,
    sized_for_append,
)


def _mdir(name: str, warehouse: str | None) -> str:
    return os.path.join(db_path(name, warehouse), "_manifests")


def _ddir(name: str, warehouse: str | None) -> str:
    return os.path.join(db_path(name, warehouse), "data")


def _versions(name: str, warehouse: str | None) -> list[int]:
    d = _mdir(name, warehouse)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )


def versions(name: str, warehouse: str | None = None) -> list[int]:
    """The commit versions whose manifests still exist (time-travel /
    rollback targets) — the public accessor callers should use instead of
    reaching into the manifest directory layout."""
    return _versions(name, warehouse)


def _manifest_path(name: str, warehouse: str | None, version: int) -> str:
    return os.path.join(_mdir(name, warehouse), f"v{version:08d}.json")


def _read_manifest(name: str, warehouse: str | None, version: int) -> dict:
    with open(_manifest_path(name, warehouse, version)) as f:
        return json.load(f)


def current_version(name: str, warehouse: str | None = None) -> int | None:
    vs = _versions(name, warehouse)
    return vs[-1] if vs else None


def table_exists(name: str, warehouse: str | None = None) -> bool:
    v = current_version(name, warehouse)
    return v is not None and bool(_read_manifest(name, warehouse, v)["files"])


def drop_table(name: str, warehouse: str | None = None) -> None:
    p = db_path(name, warehouse)
    if os.path.isdir(p):
        shutil.rmtree(p)


def _stage_files(
    df: DataFrame, name: str, warehouse: str | None, partition_by=None
) -> list[str]:
    """Materialize ``df`` as new immutable files under ``data/``; returns
    their table-relative paths.  The stage directory gives Spark's committer
    a private target; files are then MOVED (same filesystem, metadata-only)
    under unique names so two commits never collide.  With ``partition_by``
    the Hive-style ``col=value`` subdirectories are preserved under
    ``data/`` (readers recover the partition columns via ``basePath``,
    :func:`_read_files`).

    Files are written with ``df``'s partitioning as given.  Two callers
    size them by bytes first, so a small commit stages one file per
    partition directory: :func:`replace_where` always
    (``catalog.sized_by_bytes``; its replacement unions the patch batch)
    and :func:`append` when its input's partitioning is fixed — a
    persisted batch or a ``partition_by`` write
    (``catalog.sized_for_append``).  A delete's replacement, a scan of the
    touched files, is written one file per scan split.  Writes that
    define a layout (:func:`overwrite`, :func:`replace_table`,
    :func:`optimize_zorder`, the tombstone id file) keep the caller's
    partitioning — e.g. a ``repartitionByRange(8)`` overwrite stays 8
    range-disjoint files for manifest-stats pruning."""
    base = db_path(name, warehouse)
    stage = os.path.join(base, f"_stage_{uuid.uuid4().hex[:12]}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(stage)
    os.makedirs(_ddir(name, warehouse), exist_ok=True)
    prefix = uuid.uuid4().hex[:12]
    rels = []
    for root, dirs, fs in sorted(os.walk(stage)):
        sub = os.path.relpath(root, stage)
        reldir = "data" if sub == "." else os.path.join("data", sub)
        made = False
        for f in sorted(fs):
            if not f.endswith(".parquet"):
                continue
            if not made:
                os.makedirs(os.path.join(base, reldir), exist_ok=True)
                made = True
            rel = os.path.join(reldir, f"{prefix}-{f}")
            dst = os.path.join(base, rel)
            os.rename(os.path.join(root, f), dst)
            # stamp the MOVE time: rename preserves Spark's write-time
            # mtime, so a stage write longer than vacuum's orphan_grace_s
            # would land files already "old enough" for a concurrent
            # vacuum to sweep before the manifest commits (review finding)
            os.utime(dst)
            rels.append(rel)
    shutil.rmtree(stage)
    return rels


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this transaction's read and its
    commit attempt, and the operation's semantics cannot be replayed
    blindly (replace/delete/rollback read the table state they rewrite).
    Retry the whole operation against the new head."""


def _try_commit(
    name: str,
    warehouse: str | None,
    version: int,
    files: list[str],
    op: str,
    stats: dict | None = None,
    tombstones: list[str] | None = None,
    tombstone_col: str | None = None,
) -> int:
    """Atomically claim ONE specific version slot.  The payload is fully
    written + fsynced to a private temp file FIRST, then ``os.link``ed
    into the slot — the link is the compare-and-swap (fails, rather than
    silently overwriting, if another writer claimed it first) AND the
    publish point, so a crash or power loss mid-write can never leave a
    truncated/zero-byte manifest as the table's head (which would brick
    every read until hand-repair — review finding; the old direct
    ``O_EXCL``+``os.write`` had exactly that window).  Raises
    ``FileExistsError`` on a lost race — callers decide whether the op
    is replayable."""
    os.makedirs(_mdir(name, warehouse), exist_ok=True)
    doc = {"version": version, "op": op, "files": files}
    if stats:
        doc["stats"] = stats
    if tombstones:
        # merge-on-read delete mask (see :func:`tombstone`): id files under
        # data/ whose rows are logically deleted from THIS version on.
        # Only append/tombstone commits carry the list — every
        # replace-shaped commit FOLDS (physically removes masked rows and
        # omits the key), the invariant that keeps counts and reads simple.
        doc["tombstones"] = tombstones
        doc["tombstone_col"] = tombstone_col or "id"
    payload = json.dumps(doc, indent=1)
    path = _manifest_path(name, warehouse, version)
    tmp = f"{path}.w{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)  # atomic claim of the slot, durable content
    finally:
        os.unlink(tmp)
    return version


def _enc_stat(v):
    """JSON-encode a footer min/max with a type-consistent total order:
    numbers as numbers, timestamps as epoch seconds, everything else str.
    ``None`` passes through — it is the open-bound sentinel in
    :func:`_range_excludes`, never a value (footer min/max skip NULLs)."""
    import datetime

    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        return v.timestamp()
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return str(v)
    return v


def _footer_stats(path: str, cols: list[str]) -> dict:
    """Per-file stats straight from the parquet footer (no data read):
    row count + [min, max] per requested top-level column, aggregated over
    row groups.  A column missing footer min/max is simply omitted — an
    unknown range never prunes."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {"rows": md.num_rows}
    for c in cols:
        if c not in idx:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
        if ok and mn is not None:
            out[c] = [_enc_stat(mn), _enc_stat(mx)]
    return out


def _partition_stats(rel: str) -> dict:
    """Partition values parsed from a file's Hive-style path segments
    (``data/p_bucket=2024-01-02/x.parquet`` → ``{"p_bucket": [v, v]}``) —
    a partition column's min == max == its directory value, so manifest
    ``between``-pruning works on partition columns exactly like footer
    stats (the value never appears IN the file, only in the path)."""
    from urllib.parse import unquote

    out: dict = {}
    for seg in os.path.dirname(rel).split(os.sep):
        if "=" not in seg:
            continue
        k, _, v = seg.partition("=")
        if v == "__HIVE_DEFAULT_PARTITION__":  # null partition: never prune
            continue
        v = unquote(v)
        try:
            num: object = int(v)
        except ValueError:
            try:
                num = float(v)
            except ValueError:
                num = v
        out[k] = [_enc_stat(num), _enc_stat(num)]
    return out


def _collect_stats(
    name: str, warehouse: str | None, rels: list[str], stats_cols: list[str] | None
) -> dict | None:
    """``stats_cols=None`` records nothing; ``[]`` records row counts only
    (one footer read per new file — what makes :func:`manifest_row_count`
    an O(metadata) COUNT(*)); column names add min/max for skipping.
    Partition-path values are always folded in when stats are collected."""
    if stats_cols is None:
        return None
    if "rows" in stats_cols:
        # The manifest stats schema reserves "rows" for the per-file row
        # count; a [min, max] list under the same key would corrupt
        # manifest_row_count (int += list) and resolve_files pruning.
        raise ValueError(
            "stats column name 'rows' is reserved for per-file row counts "
            "in the manifest stats schema — rename the column or alias it "
            "before declaring it a stats column"
        )
    base = db_path(name, warehouse)
    out = {}
    for rel in rels:
        pstats = _partition_stats(rel)
        if "rows" in pstats:  # same reservation, via a partition directory
            raise ValueError(
                "partition column name 'rows' collides with the manifest "
                "stats schema's reserved per-file row-count key — rename "
                "the partition column"
            )
        out[rel] = {**_footer_stats(os.path.join(base, rel), stats_cols), **pstats}
    return out


def manifest_row_count(
    name: str, warehouse: str | None = None, version: int | None = None
) -> int | None:
    """COUNT(*) from the commit log alone — the Delta-style fast count.
    Returns None when any file of the version lacks recorded stats (a
    writer that skipped stats collection): correctness over speed, the
    caller falls back to a real count."""
    v = version if version is not None else current_version(name, warehouse)
    if v is None:
        return 0
    m = _read_manifest(name, warehouse, v)
    stats = m.get("stats", {})
    total = 0
    for f in m["files"]:
        s = stats.get(f)
        if s is None or "rows" not in s:
            return None
        total += s["rows"]
    # merge-on-read masks subtract: LOGICAL rows, so every totals-based
    # consistency check (index stamp, graph pin, reconcile short-circuit)
    # keeps working across tombstone commits — the index stores shrink
    # for real, the base shrinks logically, the two must agree
    for t in m.get("tombstones", []):
        s = stats.get(t)
        if s is None or "rows" not in s:
            return None
        total -= s["rows"]
    return total


def manifest_column_min(name: str, col: str, warehouse: str | None = None):
    """MIN(col) at the head, from the commit log's recorded stats alone — the metadata
    twin of ``manifest_row_count`` for partition/stats columns.  Returns
    None (caller falls back to a real scan) when any file of the head
    lacks a recorded min for ``col``, or when the head carries
    merge-on-read tombstones (a mask could have logically removed every
    row of the min-valued file — correctness over speed, same rule as the
    fast count)."""
    v = current_version(name, warehouse)
    if v is None:
        return None
    m = _read_manifest(name, warehouse, v)
    if m.get("tombstones"):
        return None
    stats = m.get("stats", {})
    lo = None
    for f in m["files"]:
        s = stats.get(f)
        if s is None or col not in s:
            return None
        mn = s[col][0]  # _enc_stat keeps a type-consistent total order
        if mn is None:
            return None
        lo = mn if lo is None else min(lo, mn)
    return lo


def _commit(
    name: str,
    warehouse: str | None,
    files: list[str],
    op: str,
    expected_head: int | None = None,
    stats: dict | None = None,
) -> int:
    """Commit for a replace-shaped op: the new manifest must land at
    ``expected_head + 1`` — the head THE OPERATION READ, not the head at
    commit time.  Recomputing the head here would silently serialize after
    (and discard) any commit that raced in between: the classic lost
    update.  A taken slot is therefore a genuine write-write conflict."""
    if expected_head is None:
        expected_head = current_version(name, warehouse) or 0
    v = expected_head + 1
    try:
        return _try_commit(name, warehouse, v, files, op, stats=stats)
    except FileExistsError as e:
        raise ConcurrentWriteError(
            f"table {name!r}: version v{v} was committed by another writer "
            f"during this {op}; re-run against the new head"
        ) from e


def _read_files(
    spark: SparkSession, name: str, warehouse: str | None, rels: list[str]
) -> DataFrame:
    """Read a specific file subset of a table (shared ``basePath`` reader,
    ``catalog._read_subset``, pinned to the ``data/`` root so partition
    subdirectories surface their partition columns)."""
    base = db_path(name, warehouse)
    return _read_subset(
        spark, _ddir(name, warehouse), [os.path.join(base, f) for f in rels]
    )


def _tombstone_paths(name: str, warehouse: str | None, m: dict) -> list[str] | None:
    """The manifest's merge-on-read mask files, or None."""
    rels = m.get("tombstones")
    if not rels:
        return None
    return [os.path.join(db_path(name, warehouse), r) for r in rels]


def _tombstone_ids(
    spark: SparkSession, name: str, warehouse: str | None, m: dict
) -> DataFrame | None:
    """The manifest's merge-on-read mask as an id frame, or None."""
    paths = _tombstone_paths(name, warehouse, m)
    if paths is None:
        return None
    return footer_reader(spark, paths[0]).parquet(*paths)


#: the largest mask a read inlines as an ``IN`` literal; the broadcast
#: anti-join above it costs two extra jobs whatever the mask's size.
#: Measured on 4 cores (a 20k-row, dim-64 table, exact top-10, median of
#: 7-11 interleaved reads), IN literal vs anti-join: 300 ids 565 vs 714 ms,
#: 500 ids 643 vs 645 ms, 700 ids 763 vs 574 ms, 10k ids 4.8 s vs 0.58 s.
#: Those figures date from when the literal cost one py4j call per id (about
#: 0.4 ms each); :func:`catalog.in_list` now builds it from one SQL text, so
#: the ceiling is conservative — re-measure before raising it.
IN_MASK_MAX_IDS = 300


def _tombstone_table(name: str, warehouse: str | None, m: dict):
    """The mask's distinct ids as a one-column pyarrow table, read on the
    driver (no Spark job), or None when the version carries no
    tombstones."""
    paths = _tombstone_paths(name, warehouse, m)
    if paths is None:
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    col = m.get("tombstone_col", "id")
    tab = pa.concat_tables(pq.read_table(p, columns=[col]) for p in paths)
    return tab.group_by(col).aggregate([])


def _tombstone_ids_local(
    spark: SparkSession, name: str, warehouse: str | None, m: dict
) -> DataFrame | None:
    """The mask's distinct ids as a driver-local frame: read with pyarrow
    and planned as a ``LocalTableScan`` (:func:`catalog.local_frame`), not
    a parquet scan and not a Python RDD.  Required wherever the mask feeds
    ``files_matching``'s ``input_file_name()`` probe, which rejects plans
    with two file sources.  Bounded by the merge-on-read contract: masks
    stay broadcast-tiny or they are folded."""
    from pyspark.sql.pandas.types import from_arrow_schema

    tab = _tombstone_table(name, warehouse, m)
    if tab is None:
        return None
    return local_frame(
        spark, zip(tab.column(0).to_pylist()), from_arrow_schema(tab.schema)
    )


def _apply_tombstones(
    spark: SparkSession, name: str, warehouse: str | None, m: dict, df: DataFrame
) -> DataFrame:
    """Mask the manifest's tombstoned ids out of a read.  A mask of at most
    :data:`IN_MASK_MAX_IDS` ids is an ``IN`` literal — no job; ``IS NULL``
    keeps NULL-id rows, as the anti-join does.  A larger mask is a
    broadcast anti-join against the mask files as they are: duplicate ids
    on a left-anti build side drop the same rows, so no ``distinct`` (an
    aggregate and one more job) runs first.  Zero cost when the version
    carries no tombstones."""
    tab = _tombstone_table(name, warehouse, m)
    if tab is None:
        return df
    col = m.get("tombstone_col", "id")
    ids = [v for v in tab.column(0).to_pylist() if v is not None]
    if len(ids) <= IN_MASK_MAX_IDS:
        return df.filter(F.col(col).isNull() | ~in_list(col, ids))
    tomb = _tombstone_ids(spark, name, warehouse, m)
    return df.join(F.broadcast(tomb.select(col)), col, "left_anti")


def read_table(
    spark: SparkSession,
    name: str,
    warehouse: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read a specific version (time travel) or the current one.  Versions
    carrying merge-on-read tombstones (:func:`tombstone`) serve the
    LOGICAL view — masked ids are anti-joined out here, so every consumer
    (engine scans, compaction, z-order, stats migration) folds them for
    free."""
    v = version if version is not None else current_version(name, warehouse)
    if v is None:
        raise FileNotFoundError(f"versioned table {name!r} has no commits")
    m = _read_manifest(name, warehouse, v)
    if not m["files"]:
        raise FileNotFoundError(f"versioned table {name!r} is empty at v{v}")
    return _apply_tombstones(
        spark, name, warehouse, m, _read_files(spark, name, warehouse, m["files"])
    )


def resolve_files(
    name: str,
    warehouse: str | None = None,
    version: int | None = None,
    between: tuple | list | None = None,
) -> list[str]:
    """The file list a scan must read — optionally pruned by manifest stats.

    ``between = (col, lo, hi)`` keeps only files whose recorded [min, max]
    for ``col`` overlaps [lo, hi]; a LIST of such tuples intersects the
    bounds (the multi-column predicate a z-ordered layout is built for —
    each clustered column prunes independently and the survivors are the
    conjunction).  Files without stats for a column are kept (an unknown
    range never prunes).  This is Delta-style data skipping with the
    decision made from the MANIFEST alone: at 100 TB the pruned files are
    never listed, their footers never fetched — the I/O win happens before
    Spark sees a path."""
    v = version if version is not None else current_version(name, warehouse)
    if v is None:
        raise FileNotFoundError(f"versioned table {name!r} has no commits")
    m = _read_manifest(name, warehouse, v)
    files = m["files"]
    if between is None:
        return files
    bounds = _norm_bounds(between)
    stats = m.get("stats", {})
    out = []
    for f in files:
        fs = stats.get(f, {})
        # A recorded-empty file (an empty Spark partition's part file) can
        # never contain matches — and it also has no min/max to prune on,
        # so without this it would conservatively survive every bound.
        if fs.get("rows") == 0:
            continue
        keep = True
        for col, lo, hi in bounds:
            s = fs.get(col)
            if s is not None and _range_excludes(s[0], s[1], _enc_stat(lo), _enc_stat(hi)):
                keep = False
                break
        if keep:
            out.append(f)
    return out


def _norm_bounds(between) -> list[tuple]:
    """Normalize the ``between`` argument: one ``(col, lo, hi)`` triple
    (tuple OR list — a natural slip once lists of bounds are accepted), or
    a list of such triples.  Anything else is rejected loudly instead of
    being silently iterated as bounds."""
    if isinstance(between, tuple):
        bounds = [between]
    elif isinstance(between, list) and between and all(
        isinstance(b, (tuple, list)) and len(b) == 3 for b in between
    ):
        bounds = [tuple(b) for b in between]
    elif isinstance(between, list) and len(between) == 3 and isinstance(between[0], str):
        bounds = [tuple(between)]
    else:
        raise ValueError(
            "between must be a (col, lo, hi) triple or a list of such triples; "
            f"got {between!r}"
        )
    for b in bounds:
        if len(b) != 3 or not isinstance(b[0], str):
            raise ValueError(f"malformed between bound {b!r}: want (col, lo, hi)")
    return bounds


def _range_excludes(mn, mx, lo, hi) -> bool:
    """True iff the recorded [mn, mx] provably cannot overlap [lo, hi].

    Same-type comparisons use the type's native order — consistent by
    construction with how the stats were computed (string footer min/max
    are lexicographic over the same strings, so lexicographic pruning is
    self-consistent).  A TYPE MISMATCH never prunes: there is no sound
    cross-type order — numeric re-alignment of lexicographic endpoints is
    wrong for variable-width digit-strings ({'9','10'} has lex range
    ['10','9']), and even a point stat against string bounds misreads the
    caller's lexicographic interval as a numeric one (both found by the
    Hypothesis pin in tests/test_versioned_partitioned.py).  Callers
    therefore bound in the column's RECORDED type — ints for
    number-coerced partition values (``p=3`` records int 3), strings for
    date buckets — and an untrusted comparison keeps the file, the same
    correctness-over-pruning rule as missing stats.

    ``lo=None`` / ``hi=None`` mean unbounded on that side (the half-open
    intervals a ``>``/``<`` predicate derives — ``engine.py:
    _derive_prune_bounds``): only the closed side can exclude."""
    try:
        return (hi is not None and mn > hi) or (lo is not None and mx < lo)
    except TypeError:
        return False  # mismatched types: no sound cross-type order → keep


def scan(
    spark: SparkSession,
    name: str,
    warehouse: str | None = None,
    version: int | None = None,
    between: tuple | list | None = None,
) -> DataFrame:
    """Stats-pruned read (see :func:`resolve_files`).  The ``between``
    bound is a FILE filter, not a row filter — compose the exact row
    predicate on top; correctness never depends on the stats.  Tombstoned
    ids (merge-on-read) are masked exactly like :func:`read_table` — the
    mask composes with pruning (it is an id anti-join, never file-set
    dependent)."""
    # pin the version ONCE: a commit racing in between the file resolve
    # and the manifest read could pair one version's files with another's
    # mask (a replace clears the mask — the pairing would resurrect rows)
    v = version if version is not None else current_version(name, warehouse)
    if v is None:
        raise FileNotFoundError(f"versioned table {name!r} has no commits")
    files = resolve_files(name, warehouse, v, between)
    if not files:  # fully pruned: empty frame with the table's real schema
        all_files = resolve_files(name, warehouse, v)
        if not all_files:  # version is empty outright — no schema to serve
            raise FileNotFoundError(f"versioned table {name!r} is empty at this version")
        return _read_files(spark, name, warehouse, all_files).limit(0)
    m = _read_manifest(name, warehouse, v)
    return _apply_tombstones(
        spark, name, warehouse, m, _read_files(spark, name, warehouse, files)
    )


def append(
    df: DataFrame,
    name: str,
    warehouse: str | None = None,
    partition_by=None,
    stats_cols: list[str] | None = None,
    expected_head: int | None = None,
) -> int:
    """Append with optimistic concurrency: an append only ADDS files, so on
    a lost commit race it is always safe to re-read the new head's file
    list and retry — concurrent appenders all land, serialized by the
    ``O_EXCL`` slot claim (the same OCC rule that makes blind appends
    conflict-free in Delta/Iceberg).  Returns the COMMITTED version — the
    writer KNOWS where its commit landed (the slot it claimed), so callers
    that pair this commit with derived state (the text-index snapshot
    ledger) never need a racy after-the-fact ``current_version`` read.

    ``expected_head`` opts OUT of the blind retry: the commit must land at
    ``expected_head + 1`` or raise ``ConcurrentWriteError``.  That is the
    primitive a content-idempotent MERGE needs — the caller's dedup
    anti-join read a snapshot, so an append racing past it could
    double-insert content; pinning lets the caller re-run the anti-join
    against the new head and retry (``engine.py:_versioned_cas_append``)."""
    new = _stage_files(
        sized_for_append(df, partition_by), name, warehouse, partition_by=partition_by
    )
    new_stats = _collect_stats(name, warehouse, new, stats_cols)

    def _attempt(v: int | None) -> int:
        pm = _read_manifest(name, warehouse, v) if v else {}
        parent = pm.get("files", [])
        stats = (
            {**pm.get("stats", {}), **(new_stats or {})}
            if (new_stats or pm.get("stats"))
            else None
        )
        return _try_commit(
            name, warehouse, (v or 0) + 1, parent + new, "append", stats=stats,
            # an append only adds rows: the merge-on-read mask carries
            # forward untouched (appended ids are fresh content hashes,
            # never masked)
            tombstones=pm.get("tombstones"),
            tombstone_col=pm.get("tombstone_col"),
        )

    if expected_head is not None:
        try:
            return _attempt(expected_head or None)
        except FileExistsError as e:
            raise ConcurrentWriteError(
                f"table {name!r}: version v{(expected_head or 0) + 1} was "
                "committed by another writer during this append; re-run the "
                "dedup against the new head"
            ) from e
    for _ in range(64):
        try:
            return _attempt(current_version(name, warehouse))
        except FileExistsError:
            continue  # lost the slot race — re-read the head and retry
    raise ConcurrentWriteError(f"table {name!r}: append lost 64 commit races")


def tombstone(
    ids_df: DataFrame,
    name: str,
    warehouse: str | None = None,
    id_col: str = "id",
    max_ids: int | None = None,
    expected_head: int | None = None,
) -> tuple[int | None, int]:
    """MERGE-ON-READ delete: record ``ids_df``'s ids as a tombstone mask
    instead of rewriting any data file.  A scattered takedown of 100 ids
    across 100 large files costs ONE tiny id-file write + one manifest
    commit — zero base-file rewrites; reads anti-join the mask
    (broadcast, :func:`_apply_tombstones`), counts subtract it
    (:func:`manifest_row_count`), and every replace-shaped commit FOLDS
    it into a real rewrite (the new manifest never carries tombstones —
    see :func:`rewrite_where`).  The Delta deletion-vector / Iceberg
    delete-file idea on this manifest log.

    Returns ``(version, n_ids)``.  ``version`` is ``None`` (no commit)
    when the id set is empty or exceeds ``max_ids`` — the caller then
    falls back to the eager rewrite (a mask must stay broadcast-tiny, or
    every read pays for the delete forever).  The caller must pass only
    ids that are LIVE at ``expected_head`` (the engine's matched set is
    read from the logical view, so re-deleting a masked id is impossible)
    — a duplicate would double-subtract from the logical count.  Mutation
    semantics: OCC-pinned like every replace-shaped op (the ids were
    matched against a head; a racing commit raises
    ``ConcurrentWriteError`` — rematch and retry)."""
    head = (
        expected_head
        if expected_head is not None
        else (current_version(name, warehouse) or 0)
    )
    if head == 0:
        return None, 0  # zero-commit table: nothing to mask
    staged = _stage_files(ids_df.select(id_col).coalesce(1), name, warehouse)
    base = db_path(name, warehouse)
    n = sum(_footer_rows(os.path.join(base, f)) for f in staged)
    if n == 0 or (max_ids is not None and n > max_ids):
        for f in staged:  # decided against the mask: remove the stage
            try:
                os.remove(os.path.join(base, f))
            except FileNotFoundError:
                pass
        return None, n
    m = _read_manifest(name, warehouse, head)
    stats = dict(m.get("stats") or {})
    for f in staged:
        stats[f] = {"rows": _footer_rows(os.path.join(base, f))}
    col = m.get("tombstone_col", id_col)
    if m.get("tombstones") and col != id_col:
        raise ValueError(
            f"table {name!r} already carries tombstones keyed on "
            f"{col!r}; cannot mix with {id_col!r}"
        )
    try:
        v = _try_commit(
            name,
            warehouse,
            head + 1,
            m["files"],
            "tombstone",
            stats=stats,
            tombstones=list(m.get("tombstones", [])) + staged,
            tombstone_col=id_col,
        )
    except FileExistsError as e:
        raise ConcurrentWriteError(
            f"table {name!r}: version v{head + 1} was committed by another "
            "writer during this tombstone delete; re-match against the new "
            "head and retry"
        ) from e
    return v, n


def overwrite(
    df: DataFrame,
    name: str,
    warehouse: str | None = None,
    partition_by=None,
    stats_cols: list[str] | None = None,
) -> int:
    """Returns the committed version (same contract as :func:`append`)."""
    new = _stage_files(df, name, warehouse, partition_by=partition_by)
    return _commit(name, warehouse, new, "overwrite",
                   stats=_collect_stats(name, warehouse, new, stats_cols))


def replace_table(
    df: DataFrame,
    name: str,
    warehouse: str | None = None,
    partition_by=None,
    stats_cols: list[str] | None = None,
) -> int:
    """Copy-on-write replace; ``df`` MAY read from the current version (new
    files are staged — fully materialized — before the commit flips).  The
    commit is pinned to the head observed NOW, before staging: a commit
    racing in while we stage is a conflict, not something to silently
    overwrite."""
    head = current_version(name, warehouse) or 0
    new = _stage_files(df, name, warehouse, partition_by=partition_by)
    _commit(name, warehouse, new, "replace", expected_head=head,
            stats=_collect_stats(name, warehouse, new, stats_cols))
    # new row count from the staged footers — O(new files), no scan job
    base = db_path(name, warehouse)
    return sum(_footer_rows(os.path.join(base, f)) for f in new)


def files_matching(
    spark: SparkSession,
    name: str,
    warehouse: str | None,
    rels: list[str],
    pred,
    semi=None,
) -> list[str]:
    """Which of ``rels`` hold at least one row matching ``pred`` — ONE
    column-pruned scan tagging rows with ``input_file_name()``, collected
    as a (tiny: ≤ |files|) distinct file list.  This is the Delta-style
    touched-file discovery that lets a mutation rewrite only the files it
    must: at 100 TB, a predicate matching one file turns a full-table
    rewrite into a scan plus a one-file rewrite."""
    if not rels:
        return []
    base = db_path(name, warehouse)
    return _files_with_matches(
        spark,
        _ddir(name, warehouse),
        {r: os.path.join(base, r) for r in rels},
        pred,
        semi=semi,
    )



def _mask_fold_prep(spark, name, warehouse, m_head, files, touched, mask_files=None):
    """Fold bookkeeping shared by every replace-shaped mutation (the ONE
    definition — three call sites drifted apart within a round when this
    was inlined): union the mask-holding files into the touched set and
    return ``(touched, tomb_rows)``, the rows for the removed-count
    adjustment.  The rewrite drops the masked rows with
    :func:`_apply_tombstones`.  ``mask_files``: the mask-holding files when
    the caller already found them (``update``'s id probe); otherwise one
    semi-join probe over ``files`` finds them.  No-op (rows 0) when the head
    carries no mask."""
    if not m_head.get("tombstones"):
        return touched, 0
    if mask_files is None:
        tomb = _tombstone_ids_local(spark, name, warehouse, m_head)
        mask_files = files_matching(
            spark, name, warehouse, files, None,
            semi=(tomb, m_head.get("tombstone_col", "id")),
        )
    touched = sorted(set(touched) | set(mask_files))
    stats = m_head.get("stats", {})
    b = db_path(name, warehouse)
    tomb_rows = sum(
        (stats.get(t) or {}).get("rows") or _footer_rows(os.path.join(b, t))
        for t in m_head.get("tombstones", [])
    )
    return touched, tomb_rows


def replace_files(
    df: DataFrame,
    name: str,
    touched: list[str],
    warehouse: str | None = None,
    stats_cols: list[str] | None = None,
    op: str = "replace",
    expected_head: int | None = None,
    partition_by=None,
) -> tuple[int, list[str]]:
    """File-level copy-on-write commit: every manifest file NOT in
    ``touched`` is carried forward BY REFERENCE (zero I/O — it is just
    re-listed in the new manifest, stats included), while ``df`` is staged
    as the touched files' replacement.  Returns ``(version, new_rels)``.
    Pinned to ``expected_head`` (default: the head observed now), so a
    racing commit is a conflict, never silently overwritten."""
    head = (
        expected_head
        if expected_head is not None
        else (current_version(name, warehouse) or 0)
    )
    m = _read_manifest(name, warehouse, head) if head else {"files": []}
    touched_set = set(touched)
    carried = [f for f in m["files"] if f not in touched_set]
    new = _stage_files(df, name, warehouse, partition_by=partition_by)
    new_stats = _collect_stats(name, warehouse, new, stats_cols)
    parent_stats = m.get("stats") or {}
    carried_stats = {f: parent_stats[f] for f in carried if f in parent_stats}
    stats = (
        {**carried_stats, **(new_stats or {})}
        if (new_stats or carried_stats)
        else None
    )
    v = _commit(name, warehouse, carried + new, op, expected_head=head, stats=stats)
    return v, new


def replace_where(
    spark: SparkSession,
    name: str,
    pred,
    extra_df: DataFrame | None,
    warehouse: str | None = None,
    stats_cols: list[str] | None = None,
    partition_by=None,
    prune_between: tuple | list | None = None,
    touched: list[str] | None = None,
    mask_files: list[str] | None = None,
    expected_head: int | None = None,
) -> int:
    """The update()-shaped mutation, file-pruned: rows matching ``pred``
    are removed, ``extra_df`` rows (already fully computed by the caller,
    e.g. the re-keyed patched batch) are added, and ONLY files containing
    matches are rewritten — untouched files carry forward by reference.
    Returns rows removed from touched files.  ``pred`` must be null-safe
    (the caller coalesces); OCC-pinned to the head the scan read.

    ``prune_between=(col, lo, hi)``: manifest-stats pre-pruning of the
    candidate set — files whose recorded [min, max] (or partition value)
    for ``col`` cannot overlap the range are excluded from the touched-file
    SCAN itself, so at 100 TB a takedown keyed to a stats column reads
    almost nothing.  The caller must guarantee the bound is implied by
    ``pred`` (rows matching ``pred`` all lie within it) — correctness
    depends on that implication, exactly like Delta's pushed-down DELETE
    predicates.

    ``touched`` / ``mask_files`` / ``expected_head``: a caller that already
    scanned ``expected_head`` (``update``'s driver-resolved plan) passes the
    files holding matched rows and the files holding masked rows, and no
    discovery scan runs here; the commit is pinned to that head, so a
    commit that landed since the caller's scan raises
    ``ConcurrentWriteError``."""
    head = expected_head if expected_head is not None else current_version(name, warehouse)
    if head is None:
        # zero-commit table: removals are a no-op; adds become the first
        # commit (mirrors the plain twin, which appends — the two _cat
        # backends must agree)
        if extra_df is not None:
            append(extra_df, name, warehouse, partition_by, stats_cols)
        return 0
    m_head = _read_manifest(name, warehouse, head)
    files = resolve_files(name, warehouse, head)
    if touched is None:
        candidates = (
            resolve_files(name, warehouse, head, between=prune_between)
            if prune_between
            else files
        )
        touched = files_matching(spark, name, warehouse, candidates, pred)
    # merge-on-read FOLD (the rewrite_where rule): replace-shaped commits
    # clear the mask, so files holding masked rows join the touched set
    # and masked rows are dropped from the rewrite
    touched, tomb_rows = _mask_fold_prep(
        spark, name, warehouse, m_head, files, touched, mask_files
    )
    if not touched and extra_df is None:
        return 0
    base = db_path(name, warehouse)
    rows_before = sum(_footer_rows(os.path.join(base, f)) for f in touched)
    parts = []
    if touched:
        kept = _apply_tombstones(
            spark, name, warehouse, m_head,
            _read_files(spark, name, warehouse, touched).filter(~pred),
        )
        parts.append(kept)
    if extra_df is not None:
        parts.append(extra_df)
    replacement = parts[0]
    for p in parts[1:]:
        # allowMissingColumns keeps the two backends' behavior identical
        # when extra_df's schema is a subset/superset of the stored files'
        replacement = replacement.unionByName(p, allowMissingColumns=True)
    _, new = replace_files(
        sized_by_bytes(replacement, partition_by),
        name,
        touched,
        warehouse,
        stats_cols,
        op="replace",
        expected_head=head,
        partition_by=partition_by,
    )
    if extra_df is not None:
        return rows_before  # removed-from-touched is not meaningful here
    rows_after = sum(_footer_rows(os.path.join(base, f)) for f in new)
    # folded mask rows were logically gone already — not this predicate's
    # removals (the rewrite_where count rule)
    return rows_before - rows_after - tomb_rows


def rewrite_where(
    spark: SparkSession,
    name: str,
    keep,
    warehouse: str | None = None,
    stats_cols: list[str] | None = None,
    partition_by=None,
    prune_between: tuple | list | None = None,
    drop_ids: list | None = None,
    drop_ids_col: str = "id",
    out: dict | None = None,
) -> int:
    """Copy-on-write delete, file-pruned (see :func:`files_matching`):
    only files that CONTAIN removed rows are rewritten; the rest of the
    table is carried forward by reference with zero I/O.  Removed count
    comes from parquet footers — no count() scan is ever scheduled.  On a
    partitioned table pass the SAME ``partition_by`` the writes use, so
    replacement files restage under their partition directories (mixing
    flat and partitioned leaves fails Spark's partition discovery).
    ``prune_between=(col, lo, hi)`` pre-prunes the candidate set from
    manifest stats before the touched-file scan — the caller must
    guarantee every row ``keep`` would DROP lies inside the bound (see
    :func:`replace_where`).

    ``drop_ids`` / ``drop_ids_col``: broadcast-join drop-set form for
    large driver-side id sets (``keep`` ignored; see the plain catalog
    twin's docstring).  ``out``: optional dict; on a commit,
    ``out["version"]`` is set to the committed version — the writer-side
    commit handle callers pairing this rewrite with derived state (the
    text-index snapshot ledger) need."""
    from pyspark.sql import functions as F

    head = current_version(name, warehouse)
    if head is None:
        return 0  # zero-commit table: mirror the plain twin's no-op (the
        # two _cat backends must agree — review finding)
    m_head = _read_manifest(name, warehouse, head)
    files = resolve_files(name, warehouse, head)
    candidates = (
        resolve_files(name, warehouse, head, between=prune_between)
        if prune_between
        else files
    )
    # merge-on-read FOLD: a replace-shaped commit never carries the mask
    # forward — files holding masked rows join the touched set (discovered
    # over the FULL file list; prune bounds only ever cover the caller's
    # predicate) and masked rows are anti-joined out of the rewrite.
    if drop_ids is not None:
        if not files:
            return 0
        # the shared typed-id-table helper (catalog.drop_ids_frame): key
        # type comes from the TABLE's schema, never hardcoded
        ids_df = drop_ids_frame(
            spark, _read_files(spark, name, warehouse, files[:1]), drop_ids,
            drop_ids_col, name,
        )
        touched = files_matching(
            spark, name, warehouse, candidates, None,
            semi=(ids_df, drop_ids_col),
        )
        touched, tomb_rows = _mask_fold_prep(
            spark, name, warehouse, m_head, files, touched
        )
        if not touched:
            return 0
        kept_df = _read_files(spark, name, warehouse, touched).join(
            F.broadcast(ids_df), drop_ids_col, "left_anti"
        )
    else:
        # rows removed by filter(keep) are those where keep is not TRUE
        drop_pred = ~F.coalesce(keep, F.lit(False))
        touched = files_matching(spark, name, warehouse, candidates, drop_pred)
        touched, tomb_rows = _mask_fold_prep(
            spark, name, warehouse, m_head, files, touched
        )
        if not touched:
            return 0  # nothing to delete — no new version needed
        kept_df = _read_files(spark, name, warehouse, touched).filter(keep)
    kept_df = _apply_tombstones(spark, name, warehouse, m_head, kept_df)
    base = db_path(name, warehouse)
    rows_before = sum(_footer_rows(os.path.join(base, f)) for f in touched)
    v, new = replace_files(
        kept_df, name, touched, warehouse, stats_cols, op="delete",
        expected_head=head, partition_by=partition_by,
    )
    if out is not None:
        out["version"] = v
    rows_after = sum(_footer_rows(os.path.join(base, f)) for f in new)
    # folded mask rows are not "removed by this delete" — they were
    # logically gone already; report only the predicate's removals
    return rows_before - rows_after - tomb_rows


def optimize_zorder(
    spark: SparkSession,
    name: str,
    cols: list[str],
    warehouse: str | None = None,
    num_files: int = 16,
    stats_cols: list[str] | None = None,
) -> int:
    """Delta's ``OPTIMIZE ZORDER BY`` on the manifest log: rewrite the
    current version clustered along a Morton curve over ``cols``
    (``operators/layout.py:zorder_frame``) and commit it as a replace whose
    per-file stats cover those columns — ``scan(between=...)`` on ANY
    clustered column then prunes files from the MANIFEST alone, and time
    travel to the pre-optimize layout still works (the rewrite is just
    another commit).  ``stats_cols`` defaults to ``cols`` (the whole point
    of clustering is recording tight ranges for them); on a PARTITIONED
    table the partition layout is preserved automatically (detected from
    the manifest paths — restaged under ``partitionBy``, partition values
    re-folded into stats) so partition pruning survives the optimize.
    Returns the new head version; OCC-pinned like every replace-shaped
    commit."""
    from modal_vector_db_spark.operators.layout import zorder_frame

    head = current_version(name, warehouse) or 0
    df = read_table(spark, name, warehouse, version=head or None)
    # Preserve an existing Hive partition layout — flattening it would
    # silently destroy the partition-pruning path the layout paid for.
    # Column ORDER comes from the path segments of one manifest rel (like
    # catalog._leaf_files), NOT a sorted set: multi-column layouts nest
    # directories in a fixed order (region=/day=), and restaging them
    # alphabetically would silently flip the on-disk nesting relative to
    # every other write and every older version.
    pcols: list[str] = []
    for f in resolve_files(name, warehouse, head or None):
        segs = [s for s in os.path.dirname(f).split(os.sep) if "=" in s]
        if segs:
            pcols = [s.partition("=")[0] for s in segs]
            break
    # Partitioned tables z-order WITHIN partitions (lead_cols): a global
    # z-key range split would scatter each output task across every
    # partition dir — up to num_files × partitions files after partitionBy.
    keyed = zorder_frame(df, cols, num_files=num_files, lead_cols=pcols)
    new = _stage_files(keyed, name, warehouse, partition_by=pcols or None)
    stats = _collect_stats(
        name, warehouse, new, list(cols) if stats_cols is None else stats_cols
    )
    return _commit(
        name,
        warehouse,
        new,
        f"zorder({','.join(cols)})",
        expected_head=head,
        stats=stats,
    )


def history(name: str, warehouse: str | None = None) -> list[dict]:
    """Commit log, oldest first: version / op / file count."""
    return [
        {
            "version": v,
            "op": (m := _read_manifest(name, warehouse, v))["op"],
            "n_files": len(m["files"]),
        }
        for v in _versions(name, warehouse)
    ]


def rollback(name: str, to_version: int, warehouse: str | None = None) -> int:
    """Restore an earlier version by committing its file list as the NEW
    head — history is append-only (the undo is itself audited).  Pinned to
    the head observed now: rolling back PAST a commit that raced in would
    discard it without anyone having decided to."""
    m = _read_manifest(name, warehouse, to_version)  # raises if unknown
    head = current_version(name, warehouse) or 0
    try:
        return _try_commit(
            name, warehouse, head + 1, m["files"], f"rollback(v{to_version})",
            stats=m.get("stats"),
            # the restored version's merge-on-read mask is part of its
            # logical content — carry it verbatim
            tombstones=m.get("tombstones"),
            tombstone_col=m.get("tombstone_col"),
        )
    except FileExistsError as e:
        raise ConcurrentWriteError(
            f"table {name!r}: version v{head + 1} was committed by another "
            "writer during this rollback; re-run against the new head"
        ) from e


def clone_table(
    src: str,
    dst: str,
    warehouse: str | None = None,
    version: int | None = None,
) -> int:
    """Zero-copy clone: ``dst`` becomes a new versioned table whose v1 is
    ``src``'s given (default: current) version.  Data files are HARDLINKED
    (same filesystem: a metadata operation regardless of table size — the
    object-store equivalent is server-side copy; Delta calls this SHALLOW
    CLONE), so the clone shares bytes until either side rewrites — and
    because data files are immutable by contract, neither side can ever see
    the other's changes.  Each table keeps its own independent commit log
    and vacuum (hardlinked bytes are freed only when BOTH sides unlink).
    The fork-the-corpus-before-a-risky-cleanup primitive.  Returns the
    clone's head version (always 1)."""
    v = version if version is not None else current_version(src, warehouse)
    if v is None:
        raise FileNotFoundError(f"versioned table {src!r} has no commits")
    if _versions(dst, warehouse):
        raise FileExistsError(f"clone target {dst!r} already exists")
    m = _read_manifest(src, warehouse, v)
    src_base, dst_base = db_path(src, warehouse), db_path(dst, warehouse)
    os.makedirs(os.path.join(dst_base, "data"), exist_ok=True)
    for rel in m["files"] + list(m.get("tombstones", [])):
        dst_file = os.path.join(dst_base, rel)
        os.makedirs(os.path.dirname(dst_file), exist_ok=True)  # partition subdirs
        try:
            os.link(os.path.join(src_base, rel), dst_file)
        except FileExistsError:
            # a prior clone attempt crashed after linking this file but
            # before its commit (dst then has no manifest, so the
            # exists-guard above passed) — relink so the RETRY is the
            # recovery path instead of a manual rmtree (review finding)
            os.unlink(dst_file)
            os.link(os.path.join(src_base, rel), dst_file)
    return _try_commit(
        dst, warehouse, 1, m["files"], f"clone({src}@v{v})", stats=m.get("stats"),
        tombstones=m.get("tombstones"), tombstone_col=m.get("tombstone_col"),
    )


def vacuum(
    name: str,
    warehouse: str | None = None,
    keep_versions: int = 3,
    orphan_grace_s: float = 3600.0,
) -> int:
    """Delete data files referenced ONLY by manifests older than the last
    ``keep_versions``; drop those manifests.  Bounds storage growth; the
    price is that vacuumed versions stop being time-travel targets — the
    same retention trade Delta's VACUUM makes.  Returns files deleted.

    The ORPHAN sweep (unreferenced ``data/*.parquet``) cannot distinguish a
    failed commit's leftovers from a live writer's staged-but-not-yet-
    committed files, so — like Delta's VACUUM retention age — it skips
    files younger than ``orphan_grace_s`` (default 1 h): an in-flight
    append's fresh files survive a concurrently-run vacuum, while a dead
    writer's leftovers age into reclaimability.  Pass ``0`` from a
    maintenance window with no concurrent writers to sweep immediately.
    Files referenced by DROPPED manifests need no grace: they were
    committed, and aging out of the retained suffix is the decision."""
    import time
    if keep_versions < 1:
        # vs[-0:] would slice to EVERYTHING: kept == dropped == all
        # versions, deleting every manifest including the head — the
        # whole commit log destroyed by one plausible argument
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    vs = _versions(name, warehouse)
    if not vs:
        return 0
    # The orphan sweep below must run even when no manifests age out —
    # a writer that died after staging leaves unreferenced data files
    # regardless of how short the history is.
    kept_vs, dropped_vs = vs[-keep_versions:], vs[: max(0, len(vs) - keep_versions)]
    live: set[str] = set()
    for v in kept_vs:
        mv = _read_manifest(name, warehouse, v)
        live.update(mv["files"])
        live.update(mv.get("tombstones", []))  # the mask is live content
    base = db_path(name, warehouse)
    n = 0
    for v in dropped_vs:
        mv = _read_manifest(name, warehouse, v)
        for f in mv["files"] + list(mv.get("tombstones", [])):
            if f not in live and os.path.exists(os.path.join(base, f)):
                os.remove(os.path.join(base, f))
                n += 1
        os.remove(_manifest_path(name, warehouse, v))
    # orphans from failed commits are also unreferenced — sweep them, but
    # only once old enough that no live writer can still be staging them
    now = time.time()
    ddir = _ddir(name, warehouse)
    if os.path.isdir(ddir):
        for root, _, fs in os.walk(ddir):
            for f in fs:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, base)
                if (
                    f.endswith(".parquet")
                    and rel not in live
                    and now - os.path.getmtime(full) >= orphan_grace_s
                ):
                    os.remove(full)
                    n += 1
    # a writer that died INSIDE its Spark stage write leaves a whole
    # _stage_* directory beside data/ — sweep those under the same grace
    # (nothing else ever cleans them; review finding)
    for entry in os.listdir(base) if os.path.isdir(base) else []:
        full = os.path.join(base, entry)
        if (
            entry.startswith("_stage_")
            and os.path.isdir(full)
            and now - os.path.getmtime(full) >= orphan_grace_s
        ):
            shutil.rmtree(full, ignore_errors=True)
            n += 1
    return n
