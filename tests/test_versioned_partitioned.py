"""Partitioned versioned tables: time travel composes with the hypertable
layout (round-4 item #2 — previously mutually exclusive: a table could be
versioned OR day-partitioned, not both).

The manifest records Hive-style ``data/p=.../file`` relpaths; readers pin
``basePath`` so leaf-file reads recover partition columns; partition path
values are folded into per-file manifest stats, so ``scan(between=...)``
prunes whole days from the MANIFEST alone — no file listing, no footer
fetch for pruned partitions.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.sources import versioned as vcat

NAME = "pvents"


def _events(spark, lo_day, n_days, rows_per_day=40):
    df = spark.range(0, n_days * rows_per_day).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        F.expr(
            f"timestamp'2024-03-0{lo_day} 00:00:00' + make_interval(0,0,0, CAST(id / {rows_per_day} AS INT), 0, CAST(id % {rows_per_day} AS INT), 0)"
        ).alias("ts"),
    )
    return df.withColumn("p_bucket", F.date_format("ts", "yyyy-MM-dd"))


def test_partitioned_versioned_scan_prunes_from_manifest(spark, tmp_path):
    wh = str(tmp_path)
    df = _events(spark, 1, 4)  # 2024-03-01 .. 2024-03-04
    vcat.overwrite(df, NAME, wh, partition_by=["p_bucket"], stats_cols=[])

    files = vcat.resolve_files(NAME, wh)
    assert files and all("p_bucket=" in f for f in files)

    # manifest-alone pruning: a one-day between keeps only that day's files
    pruned = vcat.resolve_files(NAME, wh, between=("p_bucket", "2024-03-02", "2024-03-02"))
    assert pruned and set(pruned) < set(files)
    assert all("p_bucket=2024-03-02" in f for f in pruned)

    got = vcat.scan(spark, NAME, wh, between=("p_bucket", "2024-03-02", "2024-03-02"))
    # partition column recovered via basePath, rows exactly one day's worth
    assert "p_bucket" in got.columns
    assert got.count() == 40
    # (Spark's partition type inference may surface the day as a DATE)
    assert str(got.select("p_bucket").distinct().collect()[0][0]) == "2024-03-02"

    # row counts stay O(manifest) with partitioned files
    assert vcat.manifest_row_count(NAME, wh) == 160


def test_partitioned_versioned_time_travel_across_compaction(spark, tmp_path):
    wh = str(tmp_path)
    name = "pvents_tt"
    vcat.overwrite(_events(spark, 1, 2), name, wh, partition_by=["p_bucket"], stats_cols=[])
    v1 = vcat.current_version(name, wh)
    vcat.append(_events(spark, 3, 1), name, wh, partition_by=["p_bucket"], stats_cols=[])
    v2 = vcat.current_version(name, wh)
    assert vcat.read_table(spark, name, wh).count() == 120

    # compaction = replace commit, partition layout preserved
    compacted = vcat.read_table(spark, name, wh).repartition("p_bucket")
    n = vcat.replace_table(compacted, name, wh, partition_by=["p_bucket"], stats_cols=[])
    assert n == 120

    # time travel across the compaction: both pre-compaction versions intact
    assert vcat.read_table(spark, name, wh, version=v1).count() == 80
    assert vcat.read_table(spark, name, wh, version=v2).count() == 120
    assert vcat.read_table(spark, name, wh).count() == 120
    # the head is actually compacted AND still day-partitioned
    head_files = vcat.resolve_files(name, wh)
    assert all("p_bucket=" in f for f in head_files)
    assert vcat.manifest_row_count(name, wh) == 120

    # pruning still works post-compaction
    day = vcat.scan(spark, name, wh, between=("p_bucket", "2024-03-03", "2024-03-03"))
    assert day.count() == 40


def test_partitioned_versioned_file_pruned_delete(spark, tmp_path):
    """rewrite_where on a partitioned versioned table: only the matched
    day's files restage (under their partition dirs); other days carry by
    reference."""
    wh = str(tmp_path)
    name = "pvents_del"
    vcat.overwrite(_events(spark, 1, 3), name, wh, partition_by=["p_bucket"], stats_cols=[])
    before = set(vcat.resolve_files(name, wh))
    keep = ~(F.col("p_bucket") == "2024-03-02") | (F.col("user_id") == 0)

    removed = vcat.rewrite_where(
        spark, name, keep, wh, stats_cols=[], partition_by=["p_bucket"]
    )
    assert removed == 40 - len([i for i in range(40) if i % 7 == 0])

    after = set(vcat.resolve_files(name, wh))
    untouched_days = {f for f in before if "p_bucket=2024-03-02" not in f}
    assert untouched_days <= after          # other days carried by reference
    assert all("p_bucket=" in f for f in after)  # layout preserved
    got = vcat.read_table(spark, name, wh)
    assert got.filter(F.col("p_bucket") == "2024-03-02").count() == len(
        [i for i in range(40) if i % 7 == 0]
    )
    assert vcat.manifest_row_count(name, wh) == 120 - removed


def test_prune_between_limits_touched_scan(spark, tmp_path, monkeypatch):
    """Manifest-stats pre-pruning of the mutation path: with
    ``prune_between`` the touched-file SCAN itself only reads files whose
    recorded range can contain matches — a day-keyed takedown on a 100 TB
    events table reads one day, not the corpus."""
    wh = str(tmp_path)
    name = "pvents_pb"
    vcat.overwrite(_events(spark, 1, 3), name, wh, partition_by=["p_bucket"], stats_cols=[])

    scanned = []
    real = vcat.files_matching

    def spying(spark_, n, w, rels, pred):
        scanned.append(list(rels))
        return real(spark_, n, w, rels, pred)

    monkeypatch.setattr(vcat, "files_matching", spying)
    removed = vcat.rewrite_where(
        spark, name,
        ~(F.col("p_bucket") == "2024-03-02"),
        wh, stats_cols=[], partition_by=["p_bucket"],
        prune_between=("p_bucket", "2024-03-02", "2024-03-02"),
    )
    monkeypatch.undo()
    assert removed == 40
    # the match scan saw ONLY the pruned day's files
    assert scanned and scanned[0]
    assert all("p_bucket=2024-03-02" in f for f in scanned[0])
    got = vcat.read_table(spark, name, wh)
    assert got.count() == 80
    assert got.filter(F.col("p_bucket") == "2024-03-02").count() == 0


def test_optimize_zorder_prunes_both_columns_from_manifest(spark, tmp_path):
    """Delta-parity OPTIMIZE ZORDER on the manifest log: after the rewrite,
    a between-scan on EITHER clustered column resolves a strict file
    subset from manifest stats alone; data is unchanged and the
    pre-optimize version stays a time-travel target."""
    wh = str(tmp_path)
    name = "zvents"
    df = spark.range(0, 4096).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 4096).alias("v"),  # decorrelated dim
    )
    # ingest in a layout with NO useful clustering (random order, one file)
    vcat.overwrite(df.orderBy(F.rand(seed=7)).coalesce(4), name, wh, stats_cols=["k", "v"])
    v_before = vcat.current_version(name, wh)

    v_new = vcat.optimize_zorder(spark, name, ["k", "v"], wh, num_files=16)
    assert v_new == v_before + 1

    files = vcat.resolve_files(name, wh)
    assert len(files) == 16
    k_pruned = vcat.resolve_files(name, wh, between=("k", 100, 150))
    v_pruned = vcat.resolve_files(name, wh, between=("v", 100, 150))
    assert 1 <= len(k_pruned) < len(files)
    assert 1 <= len(v_pruned) < len(files)

    # multi-bound pruning: the conjunction of both clustered columns is at
    # least as tight as either alone (the z-order payoff)
    both = vcat.resolve_files(
        name, wh, between=[("k", 100, 150), ("v", 100, 150)]
    )
    assert len(both) <= min(len(k_pruned), len(v_pruned))
    assert set(both) <= set(k_pruned) and set(both) <= set(v_pruned)

    # data identical; pruned scan + exact predicate = exact answer
    got = vcat.scan(spark, name, wh, between=("k", 100, 150)).filter(
        F.col("k").between(100, 150)
    )
    assert got.count() == 51
    assert vcat.read_table(spark, name, wh).count() == 4096
    assert vcat.manifest_row_count(name, wh) == 4096
    # pre-optimize version is still readable (the rewrite is just a commit)
    assert vcat.read_table(spark, name, wh, version=v_before).count() == 4096
    assert "zorder" in [h["op"] for h in vcat.history(name, wh)][-1]


def test_optimize_zorder_preserves_partition_layout(spark, tmp_path):
    """z-ordering a day-partitioned hypertable must keep the Hive layout
    and its manifest partition pruning — flattening it would silently
    destroy the pruning path the layout paid for."""
    wh, name = str(tmp_path), "zpart"
    df = _events(spark, 1, 3).withColumn("k", F.col("event_id") % 97)
    vcat.overwrite(df, name, wh, partition_by=["p_bucket"], stats_cols=["k"])

    vcat.optimize_zorder(spark, name, ["k"], wh, num_files=4)

    files = vcat.resolve_files(name, wh)
    assert all("p_bucket=" in f for f in files)  # layout survived
    day = vcat.resolve_files(name, wh, between=("p_bucket", "2024-03-02", "2024-03-02"))
    assert day and set(day) < set(files)         # partition pruning survived
    k_pruned = vcat.resolve_files(name, wh, between=("k", 0, 5))
    assert len(k_pruned) < len(files)            # and k-clustering works
    # single triple passed as a LIST normalizes instead of misparsing
    assert vcat.resolve_files(name, wh, between=["k", 0, 5]) == k_pruned
    with pytest.raises(ValueError, match="triple"):
        vcat.resolve_files(name, wh, between=["k", 0])
    assert vcat.read_table(spark, name, wh).count() == 120

    # string columns are rejected loudly, not with a bare TypeError
    with pytest.raises(ValueError, match="numeric"):
        vcat.optimize_zorder(spark, name, ["p_bucket"], wh)


def test_partitioned_clone_and_vacuum(spark, tmp_path):
    wh = str(tmp_path)
    name = "pvents_cl"
    vcat.overwrite(_events(spark, 1, 2), name, wh, partition_by=["p_bucket"], stats_cols=[])
    vcat.clone_table(name, "pvents_fork", wh)
    assert vcat.read_table(spark, "pvents_fork", wh).count() == 80

    # replace shrinks the live set; vacuum reclaims old partitioned files
    vcat.replace_table(
        vcat.read_table(spark, name, wh).filter(F.col("p_bucket") == "2024-03-01"),
        name, wh, partition_by=["p_bucket"], stats_cols=[],
    )
    n = vcat.vacuum(name, wh, keep_versions=1, orphan_grace_s=0)
    assert n > 0
    assert vcat.read_table(spark, name, wh).count() == 40
    # the hardlinked fork still reads every original byte
    assert vcat.read_table(spark, "pvents_fork", wh).count() == 80


def test_range_excludes_is_total_and_never_wrongly_prunes():
    """_range_excludes must (a) never raise on any type mix, (b) agree with
    the native comparison for same-type ranges (string stats ARE
    lexicographic, so lexicographic pruning is self-consistent), and
    (c) NEVER prune on a type mismatch — the Hypothesis pin that caught
    cross-type numeric re-alignment being unsound twice over: lex
    endpoints of digit-strings aren't numeric endpoints ({'9','10'} has
    lex range ['10','9']), and string BOUNDS denote a lexicographic
    interval a numeric reading misparses.

    The load-bearing soundness property, asserted independently of the
    implementation: whenever exclusion is claimed, no value drawn from the
    stat range (under the stats' native order) satisfies the bounds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalar = st.one_of(
        st.integers(-1000, 1000),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.integers(-1000, 1000).map(str),
        st.sampled_from(["2024-03-01", "2024-03-05", "alpha", "zz"]),
    )

    @settings(max_examples=300, deadline=None)
    @given(a=scalar, b=scalar, c=scalar, d=scalar, v=scalar)
    def run(a, b, c, d, v):
        # build well-formed ranges per side (same type within a side)
        mn, mx = (a, a) if type(a) is not type(b) else (min(a, b), max(a, b))
        lo, hi = (c, c) if type(c) is not type(d) else (min(c, d), max(c, d))
        got = vcat._range_excludes(mn, mx, lo, hi)  # (a) total: no raise
        try:
            want = mn > hi or mx < lo  # (b) native same-type order
        except TypeError:
            want = False  # (c) mismatch: keep, there is no sound order
        assert got == want, (mn, mx, lo, hi)
        # soundness: a value inside the stat range that satisfies the
        # bounds proves overlap — exclusion must not have been claimed
        if got and type(v) is type(mn) and type(v) is type(lo):
            assert not (mn <= v <= mx and lo <= v <= hi), (mn, mx, lo, hi, v)

    run()
