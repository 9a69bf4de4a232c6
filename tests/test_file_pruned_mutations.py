"""File-pruned copy-on-write mutations (round-4 headline): delete()/update()
rewrite ONLY files that can contain predicate matches; untouched data files
are carried forward by reference — versioned tables re-list them in the new
manifest (zero I/O), the plain catalog hardlinks them (same inode, zero
bytes copied).  Plus: mutation counts come from parquet footers (no count()
scans on the versioned path), and the plain catalog's directory swap is
crash-recoverable (no window where the table exists nowhere).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat


def _mk(spark, tmp_path, name, versioned):
    db = VectorDB(
        spark,
        name,
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
        versioned=versioned,
    )
    # two insert batches → disjoint file sets; grp discriminates them
    db.insert([{"grp": "a", "n": i} for i in range(10)], embed_field="n")
    db.insert([{"grp": "b", "n": i} for i in range(10, 20)], embed_field="n")
    return db


def _idents(paths):
    return {p: (os.stat(p).st_ino, os.stat(p).st_mtime_ns) for p in paths}


def test_versioned_delete_rewrites_only_touched_files(spark, tmp_path, monkeypatch):
    db = _mk(spark, tmp_path, "vprune", versioned=True)
    v1_files = set(vcat.resolve_files(db.name, db.warehouse, version=1))
    v2_files = set(vcat.resolve_files(db.name, db.warehouse))
    batch_b_files = v2_files - v1_files
    assert v1_files and batch_b_files
    base = catalog.db_path(db.name, db.warehouse)
    before = _idents(os.path.join(base, f) for f in v1_files)

    # force the EAGER rewrite — the file-pruned copy-on-write contract is
    # what this test pins (the merge-on-read default is pinned by
    # tests/test_tombstones.py)
    monkeypatch.setattr(VectorDB, "_TOMBSTONE_MAX_IDS", 0)
    assert db.delete({"grp": "b"}) == 10

    head_files = set(vcat.resolve_files(db.name, db.warehouse))
    # batch-a files carried forward BY REFERENCE: still listed, not restaged
    assert v1_files <= head_files
    assert _idents(os.path.join(base, f) for f in v1_files) == before
    # batch-b files dropped from the manifest (bytes reclaimed by vacuum)
    assert not (batch_b_files & head_files)
    # stats carried forward too: num_rows stays O(manifest)
    assert vcat.manifest_row_count(db.name, db.warehouse) == 10
    assert db.items().count() == 10


def test_versioned_update_rewrites_only_touched_files(spark, tmp_path):
    db = _mk(spark, tmp_path, "vpruneu", versioned=True)
    v1_files = set(vcat.resolve_files(db.name, db.warehouse, version=1))
    base = catalog.db_path(db.name, db.warehouse)
    before = _idents(os.path.join(base, f) for f in v1_files)

    assert db.update({"grp": "b"}, {"tier": "hot"}) == 10

    head_files = set(vcat.resolve_files(db.name, db.warehouse))
    assert v1_files <= head_files
    assert _idents(os.path.join(base, f) for f in v1_files) == before
    rows = [r for r in db.items().collect()]
    assert len(rows) == 20
    import json

    tiers = {json.loads(r["metadata"]).get("tier") for r in rows if json.loads(r["metadata"])["grp"] == "b"}
    assert tiers == {"hot"}
    assert vcat.manifest_row_count(db.name, db.warehouse) == 20


def test_plain_delete_hardlink_carries_untouched_files(spark, tmp_path):
    db = _mk(spark, tmp_path, "pprune", versioned=False)
    p = catalog.db_path(db.name, db.warehouse)
    files, pcols = catalog._leaf_files(db.name, db.warehouse)
    assert files and not pcols  # unpartitioned layout
    # which files actually hold grp=b rows (the ones a pruned delete touches)
    touched = set(
        catalog._touched_files(
            spark, db.name, db.warehouse, files,
            F.get_json_object("metadata", "$.grp") == "b",
        )
    )
    untouched = [f for f in files if f not in touched]
    assert touched and untouched
    before = _idents(os.path.join(p, f) for f in untouched)

    assert db.delete({"grp": "b"}) == 10

    after_names = set(os.listdir(p))
    assert set(untouched) <= after_names
    # same inode + mtime: the bytes were never rewritten, just re-linked
    assert _idents(os.path.join(p, f) for f in untouched) == before
    assert not (touched & after_names)
    assert db.num_rows() == 10


def test_plain_update_hardlink_carries_untouched_files(spark, tmp_path):
    db = _mk(spark, tmp_path, "ppruneu", versioned=False)
    p = catalog.db_path(db.name, db.warehouse)
    files, pcols = catalog._leaf_files(db.name, db.warehouse)
    assert not pcols  # unpartitioned layout
    touched = set(
        catalog._touched_files(
            spark, db.name, db.warehouse, files,
            F.get_json_object("metadata", "$.grp") == "b",
        )
    )
    untouched = [f for f in files if f not in touched]
    before = _idents(os.path.join(p, f) for f in untouched)

    assert db.update({"grp": "b"}, {"tier": "hot"}) == 10

    assert _idents(os.path.join(p, f) for f in untouched) == before
    assert db.num_rows() == 20


def test_indexed_delete_prunes_ivf_partition_files(spark, tmp_path):
    """An indexed plain table is cluster-partitioned and still file-pruned
    (partition columns inferred from the Hive paths): a delete rewrites
    only the cluster files containing matched rows; other clusters' files
    keep their inodes, and indexed queries still agree with the exact
    path."""
    db = _mk(spark, tmp_path, "pivf", versioned=False)
    db.create_index(num_clusters=4)
    ivf = db.name
    files, pcols = catalog._leaf_files(ivf, db.warehouse)
    assert pcols == ["cluster_id"] and len(files) >= 2
    pred = F.get_json_object("metadata", "$.grp") == "b"
    touched = set(catalog._touched_files(spark, ivf, db.warehouse, files, pred))
    untouched = [f for f in files if f not in touched]
    assert touched
    p = catalog.db_path(ivf, db.warehouse)
    before = _idents(os.path.join(p, f) for f in untouched)

    assert db.delete({"grp": "b"}) == 10

    if untouched:
        assert _idents(os.path.join(p, f) for f in untouched) == before
    after_files, after_pcols = catalog._leaf_files(ivf, db.warehouse)
    assert after_pcols == ["cluster_id"]  # layout preserved
    exact = db.query("3", k=5)
    indexed = db.query("3", k=5, use_index=True, nprobe=4)
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_indexed_update_prunes_ivf_partition_files(spark, tmp_path):
    db = _mk(spark, tmp_path, "pivfu", versioned=False)
    db.create_index(num_clusters=4)
    assert db.update({"grp": "b"}, {"tier": "hot"}) == 10
    # index reflects the re-keyed rows: indexed query agrees with exact
    _, pcols = catalog._leaf_files(db.name, db.warehouse)
    assert pcols == ["cluster_id"]
    exact = db.query("12", k=5, filters={"tier": "hot"})
    indexed = db.query("12", k=5, filters={"tier": "hot"}, use_index=True, nprobe=4)
    assert len(exact) == 5
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_versioned_mutations_schedule_no_count_scans(spark, tmp_path, monkeypatch):
    """Mutation row counts come from parquet footers / manifest stats:
    delete() runs ZERO DataFrame.count() jobs; update() runs none on its
    driver-resolved plan (the matched collect is the count) and exactly one
    on its distributed plan (the n_matched the API returns)."""
    db = _mk(spark, tmp_path, "vnocount", versioned=True)
    calls = []
    # patch the CONCRETE class (Spark 4's classic DataFrame overrides the
    # abstract pyspark.sql.DataFrame.count)
    cls = type(db.items())
    real_count = cls.count

    def counting(self):
        calls.append(1)
        return real_count(self)

    monkeypatch.setattr(cls, "count", counting)
    assert db.delete({"n": ("<", 3)}) == 3
    assert calls == []
    assert db.update({"grp": "b"}, {"tier": "x"}) == 10
    assert calls == []
    monkeypatch.setattr(VectorDB, "_UPDATE_DRIVER_MAX_ROWS", 0)
    assert db.update({"grp": "b"}, {"tier": "y"}) == 10
    assert len(calls) == 1


@pytest.mark.parametrize(
    "test",
    [
        test_versioned_update_rewrites_only_touched_files,
        test_plain_update_hardlink_carries_untouched_files,
    ],
    ids=lambda t: t.__name__,
)
def test_update_distributed_plan(spark, tmp_path, monkeypatch, test):
    """The same file-pruning contract on ``update``'s distributed plan (the
    driver ceiling at 0)."""
    monkeypatch.setattr(VectorDB, "_UPDATE_DRIVER_MAX_ROWS", 0)
    test(spark, tmp_path)


def test_plain_swap_crash_leaves_table_recoverable(spark, tmp_path, monkeypatch):
    """Kill the writer between the two swap renames: the table directory is
    momentarily absent but the data is never destroyed — the next reader
    rolls the aside copy back (mutation never happened: atomicity)."""
    db = _mk(spark, tmp_path, "pcrash", versioned=False)
    p = catalog.db_path(db.name, db.warehouse)
    real_rename = os.rename

    def dying(src, dst):
        if src == p:  # the rename-old-aside step: do it, then crash
            real_rename(src, dst)
            raise OSError("simulated crash mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying)
    with pytest.raises(OSError, match="mid-swap"):
        db.delete({"grp": "b"})
    monkeypatch.undo()

    # auto-recovery on next access: full pre-delete table intact
    assert db.num_rows() == 20
    assert db.items().count() == 20
    # and the mutation can be replayed to completion
    assert db.delete({"grp": "b"}) == 10
    assert db.num_rows() == 10


def test_plain_swap_crash_after_aside_before_swap_in(spark, tmp_path, monkeypatch):
    """Crash at the OTHER point: old moved aside, new rename-in fails —
    recovery still restores the old table."""
    db = _mk(spark, tmp_path, "pcrash2", versioned=False)
    p = catalog.db_path(db.name, db.warehouse)
    real_rename = os.rename

    def dying(src, dst):
        if dst == p:  # the rename-new-in step
            raise OSError("simulated crash before swap-in")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying)
    with pytest.raises(OSError, match="before swap-in"):
        db.delete({"grp": "b"})
    monkeypatch.undo()
    assert db.num_rows() == 20


def test_rewrite_where_drop_ids_int_key_plain(spark, tmp_path):
    """Round-7 ADVICE: the drop_ids path hardcoded a STRING ids schema —
    an int/long-keyed table must work too (key type now derives from the
    table's own schema), and an absent key column must raise cleanly."""
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, val string"
    )
    catalog.overwrite(df, "dropint", str(tmp_path))
    removed = catalog.rewrite_where(
        spark, "dropint", None, str(tmp_path),
        drop_ids=[3, 7, 11], drop_ids_col="k",
    )
    assert removed == 3
    left = {
        r["k"] for r in catalog.read_table(spark, "dropint", str(tmp_path)).collect()
    }
    assert left == set(range(20)) - {3, 7, 11}
    with pytest.raises(ValueError, match="not in table"):
        catalog.rewrite_where(
            spark, "dropint", None, str(tmp_path),
            drop_ids=[1], drop_ids_col="nope",
        )


def test_rewrite_where_drop_ids_int_key_versioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k int, val int"
    )
    vcat.overwrite(df, "dropintv", str(tmp_path))
    removed = vcat.rewrite_where(
        spark, "dropintv", None, str(tmp_path),
        drop_ids=[0, 19], drop_ids_col="k",
    )
    assert removed == 2
    left = {
        r["k"] for r in vcat.read_table(spark, "dropintv", str(tmp_path)).collect()
    }
    assert left == set(range(1, 19))
    with pytest.raises(ValueError, match="not in table"):
        vcat.rewrite_where(
            spark, "dropintv", None, str(tmp_path),
            drop_ids=[1], drop_ids_col="nope",
        )


def test_catalog_replace_where_missing_table(spark, tmp_path):
    """Review finding: extra_df on a nonexistent plain table crashed in
    the swap (renaming a missing live dir) and abandoned a __rewriting
    stage — adds must become a plain append instead."""
    import os

    from pyspark.sql import functions as F

    from modal_vector_db_spark.sources import catalog

    wh = str(tmp_path)
    assert catalog.replace_where(spark, "nosuch", F.lit(False), None, wh) == 0
    extra = spark.createDataFrame([(1, "a")], "id long, v string")
    catalog.replace_where(spark, "fresh", F.lit(False), extra, wh)
    assert catalog.read_table(spark, "fresh", wh).count() == 1
    assert not [d for d in os.listdir(wh) if d.endswith("__rewriting")]
