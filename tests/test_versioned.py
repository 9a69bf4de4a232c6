"""Manifest-log versioned tables (sources/versioned.py + the facade's
versioned=True surface): atomic commits, time travel, rollback, vacuum."""

from __future__ import annotations

import json
import os

import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import versioned as vcat


def _db(spark, tmp_path, name="vdb"):
    return VectorDB(
        spark,
        name,
        embedder_name="HashingEmbedder",
        embedding_dim=16,
        create_new_table=True,
        warehouse=str(tmp_path),
        versioned=True,
    )


def test_versioned_lifecycle_time_travel_rollback(spark, tmp_path):
    db = _db(spark, tmp_path)
    db.insert([{"n": i, "grp": "a"} for i in range(10)], embed_field="n")
    db.insert([{"n": i, "grp": "b"} for i in range(10, 15)], embed_field="n")
    assert db.num_rows() == 15
    v_before_delete = vcat.current_version(db.name, db.warehouse)

    assert db.delete({"grp": "a"}) == 10
    assert db.num_rows() == 5
    # idempotent replay on the versioned write path too
    db.insert([{"n": 12, "grp": "b"}], embed_field="n")
    assert db.num_rows() == 5

    ops = [h["op"] for h in db.history()]
    # round 12: a threshold-sized delete defaults to the merge-on-read
    # tombstone commit (zero base-file rewrites); semantics unchanged
    assert ops[:3] == ["append", "append", "tombstone"]

    # time travel: the pre-delete version still reads all 15 rows
    assert db.read_version(v_before_delete).count() == 15

    # rollback restores the data as a NEW auditable commit
    v_new = db.rollback(v_before_delete)
    assert db.num_rows() == 15
    hist = db.history()
    assert hist[-1]["version"] == v_new and "rollback" in hist[-1]["op"]

    # update() re-keys atomically on the versioned path as well
    assert db.update({"grp": "b"}, {"tier": "hot"}) == 5
    assert db.num_rows() == 15
    tiers = [
        json.loads(r["metadata"]).get("tier")
        for r in db.items().collect()
        if json.loads(r["metadata"])["grp"] == "b"
    ]
    assert tiers == ["hot"] * 5


def test_versioned_vacuum_bounds_storage(spark, tmp_path):
    db = _db(spark, tmp_path, "vacdb")
    for i in range(5):
        db.insert([{"n": i}], embed_field="n")
    db.compact(target_file_bytes=1 << 30)  # 6th commit: replace to 1 file
    base = os.path.join(str(tmp_path), "vacdb")
    n_files_before = sum(
        f.endswith(".parquet") for f in os.listdir(os.path.join(base, "data"))
    )
    removed = db.vacuum(keep_versions=1)
    assert removed > 0
    n_files_after = sum(
        f.endswith(".parquet") for f in os.listdir(os.path.join(base, "data"))
    )
    assert n_files_after < n_files_before
    assert db.num_rows() == 5  # head unaffected
    # vacuumed versions are gone as travel targets
    with pytest.raises(FileNotFoundError):
        db.read_version(1)


def test_versioned_guardrails(spark, tmp_path):
    plain = VectorDB(
        spark, "plaindb", embedding_dim=16, create_new_table=True, warehouse=str(tmp_path)
    )
    for call in (plain.history, lambda: plain.read_version(1), lambda: plain.rollback(1), plain.vacuum, lambda: plain.clone("x2")):
        with pytest.raises(ValueError, match="versioned=True"):
            call()


def test_versioned_commit_slot_is_exclusive(tmp_path):
    """The O_EXCL manifest create refuses to overwrite a raced slot."""
    name, wh = "racedb", str(tmp_path)
    os.makedirs(os.path.join(wh, name, "_manifests"), exist_ok=True)
    vcat._commit(name, wh, [], "append")
    # simulate a racing writer having claimed v2 already
    with open(vcat._manifest_path(name, wh, 2), "w") as f:
        f.write(json.dumps({"version": 2, "op": "append", "files": []}))
    with pytest.raises(FileExistsError):
        fd = os.open(
            vcat._manifest_path(name, wh, 2), os.O_CREAT | os.O_EXCL | os.O_WRONLY
        )
        os.close(fd)


def test_concurrent_appends_all_land(spark, tmp_path):
    """OCC appends: N threads committing simultaneously all succeed (lost
    slot races retry against the new head); the final table is the union
    and the history shows N serialized appends."""
    import threading

    db = _db(spark, tmp_path, "occdb")
    db.insert([{"seed": True}])  # v1, so racers all start from a live head
    N, errs = 4, []

    def worker(i):
        try:
            db.insert([{"batch": i, "row": j} for j in range(20)])
        except Exception as e:  # noqa: BLE001 - surfaced in the assertion
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert db.num_rows() == 1 + N * 20
    hist = db.history()
    assert len(hist) == 1 + N and all(h["op"] == "append" for h in hist)


def test_concurrent_overlapping_inserts_land_exactly_once(spark, tmp_path):
    """The native manifest-log MERGE (engine._versioned_cas_append): N
    writers racing to insert OVERLAPPING content — every distinct row lands
    exactly once.  The losing writer's commit is refused (expected_head
    pinning), it re-runs its dedup anti-join against the new head, and the
    overlap drops.  This is the multi-writer content-idempotency Delta gets
    from MERGE, without delta-spark."""
    import threading

    db = _db(spark, tmp_path, "casdb")
    db.insert([{"seed": True}])
    shared = [{"k": i} for i in range(30)]      # every writer sends these
    N, errs = 4, []

    def worker(i):
        try:
            # each writer: the shared block + a private row
            db.insert(shared + [{"mine": i}])
        except Exception as e:  # noqa: BLE001 - surfaced in the assertion
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(N)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # 1 seed + 30 shared (exactly once) + N private rows
    assert db.num_rows() == 1 + 30 + N
    ids = [r["id"] for r in db.items().select("id").collect()]
    assert len(ids) == len(set(ids))
    assert all(h["op"] == "append" for h in db.history())


def test_replace_shaped_commit_conflict_raises(spark, tmp_path):
    """A delete that loses the commit race must fail loudly, not clobber."""
    db = _db(spark, tmp_path, "confdb")
    db.insert([{"n": i, "grp": "a"} for i in range(6)])
    head = vcat.current_version(db.name, db.warehouse)
    # another writer claims the next slot between our read and commit
    vcat._try_commit(db.name, db.warehouse, head + 1, 
                     vcat._read_manifest(db.name, db.warehouse, head)["files"], "append")
    with pytest.raises(vcat.ConcurrentWriteError, match="another writer"):
        vcat._commit(db.name, db.warehouse, [], "delete", expected_head=head)
    # the raced table is intact and still readable
    assert db.num_rows() == 6


def test_manifest_stats_prune_files(spark, tmp_path):
    """Data skipping from the manifest alone: commits record per-file
    footer min/max for the requested columns; a between-scan resolves a
    strict subset of files and still returns exactly the right rows."""
    from pyspark.sql import functions as F

    name, wh = "statsdb", str(tmp_path)
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # range-partition so files carry disjoint k ranges (what a sorted /
    # z-ordered layout produces; stats pruning is pointless without it)
    vcat.overwrite(df.repartitionByRange(8, "k"), name, wh, stats_cols=["k"])

    all_files = vcat.resolve_files(name, wh)
    pruned = vcat.resolve_files(name, wh, between=("k", 100, 120))
    assert len(all_files) == 8 and 1 <= len(pruned) < len(all_files)

    got = vcat.scan(spark, name, wh, between=("k", 100, 120)).filter(
        F.col("k").between(100, 120)
    )
    assert got.count() == 21
    assert vcat.scan(spark, name, wh).count() == 1000  # unpruned read intact

    # append without stats: new file has no recorded range, so it is kept
    # by every between-scan (unknown never prunes)
    extra = (
        spark.range(5000, 5010)
        .coalesce(1)
        .select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    )
    vcat.append(extra, name, wh)
    kept = vcat.resolve_files(name, wh, between=("k", 100, 120))
    assert len(kept) == len(pruned) + 1

    # fully-pruned scan: empty result, schema preserved
    empty = vcat.scan(spark, name, wh, version=1, between=("k", 10_000, 20_000))
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def test_num_rows_from_manifest(spark, tmp_path):
    """num_rows on a versioned table is answered from the commit log's
    per-file row counts — verified equal to a real count through every
    mutation, and verified to actually BE the metadata path."""
    db = _db(spark, tmp_path, "cntdb")
    db.insert([{"n": i, "grp": "a" if i % 2 else "b"} for i in range(30)], embed_field="n")
    assert vcat.manifest_row_count(db.name, db.warehouse) == 30
    assert db.num_rows() == 30 == db.items().count()

    db.update({"grp": "a"}, {"tier": "x"})
    assert db.num_rows() == db.items().count() == 30
    db.delete({"grp": "b"})
    assert db.num_rows() == db.items().count() == 15
    assert vcat.manifest_row_count(db.name, db.warehouse) == 15

    v_head = vcat.current_version(db.name, db.warehouse)
    db.rollback(2)
    assert db.num_rows() == 30  # rollback carries the stats forward
    # a write that bypasses stats collection degrades gracefully to a scan
    vcat.append(db.items().limit(5), db.name, db.warehouse)  # no stats_cols
    assert vcat.manifest_row_count(db.name, db.warehouse) is None
    assert db.num_rows() == db.items().count() == 35
    assert v_head is not None


def test_clone_table_is_independent(spark, tmp_path):
    """Hardlink clone: instant fork sharing bytes; divergent mutations and
    vacuums on either side never leak across."""
    db = _db(spark, tmp_path, "srcdb")
    db.insert([{"n": i, "grp": "a" if i % 2 else "b"} for i in range(20)], embed_field="n")

    fork = db.clone("forkdb")
    assert fork.num_rows() == db.num_rows() == 20
    assert fork.embedder_name == db.embedder_name and fork.versioned
    assert "clone" in fork.history()[0]["op"]

    # diverge: delete on the fork, insert on the source
    assert fork.delete({"grp": "a"}) == 10
    db.insert([{"n": 99, "grp": "c"}], embed_field="n")
    assert fork.num_rows() == 10 and db.num_rows() == 21

    # vacuum the fork hard; the source still reads every original byte
    fork.vacuum(keep_versions=1)
    assert db.num_rows() == 21 and db.items().count() == 21

    with pytest.raises(FileExistsError):
        vcat.clone_table("srcdb", "forkdb", str(tmp_path))


def test_failed_commit_is_invisible_and_vacuumable(spark, tmp_path):
    """Crash between staging and commit: the orphaned data files are never
    visible to readers (manifests are the only source of truth) and vacuum
    reclaims them."""
    db = _db(spark, tmp_path, "crashdb")
    db.insert([{"n": i} for i in range(10)], embed_field="n")
    head = vcat.current_version(db.name, db.warehouse)

    # simulate a writer that died after staging: files land in data/,
    # no manifest references them
    orphans = vcat._stage_files(db.items().limit(3), db.name, db.warehouse)
    assert len(orphans) >= 1

    assert db.num_rows() == 10                       # reads unaffected
    assert db.items().count() == 10
    assert vcat.current_version(db.name, db.warehouse) == head

    # fresh orphans are indistinguishable from a LIVE writer's staged files:
    # the default retention-age guard refuses to touch them...
    assert db.vacuum(keep_versions=1) == 0
    # ...and a maintenance-window sweep (no concurrent writers, grace 0)
    # reclaims them.
    removed = db.vacuum(keep_versions=1, orphan_grace_s=0)
    assert removed >= len(orphans)                   # orphans reclaimed
    assert db.num_rows() == 10


def test_time_travel_query(spark, tmp_path):
    """query(version=) runs exact KNN AS OF that commit: rows inserted
    later are invisible, use_index composes loudly, plain tables reject."""
    db = VectorDB(
        spark, "vttq", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(10)], embed_field="n")
    v1 = vcat.current_version(db.name, db.warehouse)
    db.insert([{"n": 100 + i} for i in range(5)], embed_field="n")

    # the head sees the new rows; v1 must not
    head = db.query("103", k=3)
    assert any(r.metadata["n"] >= 100 for r in head)
    old = db.query("103", k=3, version=v1)
    assert len(old) == 3 and all(r.metadata["n"] < 100 for r in old)
    # and the v1 result is exactly brute force over the v1 snapshot
    v1_ids = {r["id"] for r in db.read_version(v1).select("id").collect()}
    assert {r.id for r in old} <= v1_ids

    # filters still compile on the historical snapshot
    filt = db.query("3", k=5, version=v1, filters={"n": ("<", 5)})
    assert filt and all(r.metadata["n"] < 5 for r in filt)

    # query_batch shares the contract: snapshot isolation in one job
    import json as _json

    bat = db.query_batch(["103", "7"], k=3, version=v1).collect()
    assert len(bat) == 6
    assert all(_json.loads(r["metadata"])["n"] < 100 for r in bat)

    # hybrid shares the contract too (vector channel only here: the
    # fixture metadata has no text field, BM25 contributes nothing)
    hyb = db.query_hybrid("103", k=3, version=v1, text_field="n")
    assert hyb and all(r.metadata["n"] < 100 for r in hyb)

    db.create_index(num_clusters=2)
    # v1 predates the index — no verified snapshot to serve, fails loudly
    # (the serving path is pinned in tests/test_index_consistency.py)
    with pytest.raises(ValueError, match="verified index snapshot"):
        db.query("3", k=3, version=v1, use_index=True)
    with pytest.raises(ValueError, match="verified index snapshot"):
        db.query_batch(["3"], k=3, version=v1, use_index=True)

    plain = VectorDB(
        spark, "pttq", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    plain.insert([{"n": 1}], embed_field="n")
    with pytest.raises(ValueError):
        plain.query("1", k=1, version=1)


def test_vacuum_keep_versions_validated(spark, tmp_path):
    """Review finding: keep_versions=0 sliced vs[-0:] to EVERYTHING and
    deleted every manifest including the head."""
    import pytest as _pytest

    from modal_vector_db_spark.sources import versioned as vcat

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    vcat.append(df, "vkv", str(tmp_path))
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="keep_versions"):
            vcat.vacuum("vkv", str(tmp_path), keep_versions=bad)
    assert vcat.current_version("vkv", str(tmp_path)) == 1  # log intact


def test_staged_files_get_fresh_mtime(spark, tmp_path):
    """Review finding: os.rename preserves Spark's write-time mtime, so a
    stage write longer than orphan_grace_s landed files already 'old
    enough' for a concurrent vacuum to sweep pre-commit.  The move must
    stamp move time."""
    import os
    import time

    from modal_vector_db_spark.sources import versioned as vcat

    df = spark.createDataFrame([(i, "x") for i in range(5)], "id long, v string")
    t0 = time.time()
    vcat.append(df, "vmt", str(tmp_path))
    base = os.path.join(str(tmp_path), "vmt")
    for rel in vcat.resolve_files("vmt", str(tmp_path)):
        assert os.path.getmtime(os.path.join(base, rel)) >= t0 - 1


def test_manifest_commit_is_durable_and_cas(spark, tmp_path):
    """The tmp+fsync+link commit: no .w* temp left behind, the slot is
    still CAS (second claim of the same version raises), and a PRE-TORN
    zero-byte manifest in the slot makes the link fail rather than the
    table serve a corrupt head."""
    import os

    import pytest as _pytest

    from modal_vector_db_spark.sources import versioned as vcat

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    vcat.append(df, "vdur", str(tmp_path))
    mdir = os.path.join(str(tmp_path), "vdur", "_manifests")
    assert not [f for f in os.listdir(mdir) if ".w" in f]  # temp cleaned
    with _pytest.raises(FileExistsError):
        vcat._try_commit("vdur", str(tmp_path), 1, [], "dup")


def test_vacuum_sweeps_dead_stage_dirs(spark, tmp_path):
    """Review finding: a writer that died inside its Spark stage write
    left a _stage_* directory nothing ever cleaned."""
    import os

    from modal_vector_db_spark.sources import versioned as vcat

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    vcat.append(df, "vstg", str(tmp_path))
    dead = os.path.join(str(tmp_path), "vstg", "_stage_deadbeef0000")
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    os.utime(dead, (1, 1))  # ancient
    assert vcat.vacuum("vstg", str(tmp_path), orphan_grace_s=3600) >= 1
    assert not os.path.isdir(dead)


def test_clone_retry_after_partial_crash(spark, tmp_path):
    """Review finding: a crashed clone left partial hardlinks and no
    manifest; the retry died on FileExistsError with no recovery path."""
    import os

    from modal_vector_db_spark.sources import versioned as vcat

    df = spark.createDataFrame([(i, "x") for i in range(5)], "id long, v string")
    vcat.append(df, "vclsrc", str(tmp_path))
    # simulate the crash: link ONE file into the clone target, no manifest
    rel = vcat.resolve_files("vclsrc", str(tmp_path))[0]
    dst_file = os.path.join(str(tmp_path), "vcldst", rel)
    os.makedirs(os.path.dirname(dst_file))
    os.link(os.path.join(str(tmp_path), "vclsrc", rel), dst_file)

    assert vcat.clone_table("vclsrc", "vcldst", str(tmp_path)) == 1
    got = vcat.read_table(spark, "vcldst", str(tmp_path)).count()
    assert got == 5


def test_mutations_on_zero_commit_table_are_noops(spark, tmp_path):
    """Review finding: the versioned rewrite/replace twins raised
    FileNotFoundError where the plain-catalog twins return 0 — the two
    interchangeable _cat backends must agree."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.sources import versioned as vcat

    assert vcat.rewrite_where(spark, "vnull", F.lit(True), str(tmp_path)) == 0
    assert vcat.replace_where(spark, "vnull", F.lit(False), None, str(tmp_path)) == 0
    # adds on a zero-commit table become the first commit
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    assert vcat.replace_where(spark, "vnull2", F.lit(False), df, str(tmp_path)) == 0
    assert vcat.read_table(spark, "vnull2", str(tmp_path)).count() == 1
