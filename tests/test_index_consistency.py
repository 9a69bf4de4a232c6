"""Consistency of an indexed table's writes and reads
(engine.py:_idempotent_append, engine_ivf.py).

The base table IS the IVF layout: an insert assigns its rows and stores
them in ONE base commit, so there is no second copy to crash out of step
with.  These tests pin what that leaves to get right: a crashed insert
replays cleanly, concurrent CAS inserts land every row once, an evicted
persisted batch recomputes against the unmodified base (regression for
the round-3 bug fixed in ebdae8c: a recompute after the base append
yielded an EMPTY batch), and indexed time travel serves exactly the
versions whose rows carry the current centroid generation's assignment.
"""

from __future__ import annotations

import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _indexed_db(spark, tmp_path, name):
    db = VectorDB(
        spark, name, embedding_dim=16, warehouse=str(tmp_path), create_new_table=True
    )
    db.insert([{"n": i} for i in range(40)], embed_field="n")
    db.create_index(num_clusters=4)
    return db


def _crash_base_append(monkeypatch, base_name):
    """Make the NEXT base-table append die (after the derived-store syncs
    ran on the assigned batch)."""
    real_append = catalog.append

    def dying(df, name, warehouse=None, partition_by=None):
        if name == base_name:
            raise RuntimeError("simulated crash in the base append")
        return real_append(df, name, warehouse, partition_by)

    monkeypatch.setattr(catalog, "append", dying)
    return real_append


def _ids(db):
    """The ids an index probe can reach: the base table's rows."""
    return [r["id"] for r in db.items().select("id").collect()]


def test_crashed_insert_replay_reconverges(spark, tmp_path, monkeypatch):
    db = _indexed_db(spark, tmp_path, "crashidx")
    batch = [{"n": 1000 + i} for i in range(5)]

    _crash_base_append(monkeypatch, db.name)
    with pytest.raises(RuntimeError, match="simulated crash"):
        db.insert(batch, embed_field="n")
    # nothing landed: the index has no rows of its own to leave behind
    assert db.num_rows() == 40
    assert not catalog.table_exists(db.name + "__ivf", db.warehouse)
    monkeypatch.undo()

    # replay (the crashed write never acknowledged — replay IS the contract)
    db.insert(batch, embed_field="n")
    assert db.num_rows() == 45
    ids = _ids(db)
    assert len(ids) == 45 and len(set(ids)) == 45  # no duplicate rows
    # indexed and exact paths agree again
    exact = db.query("1002", k=5)
    indexed = db.query("1002", k=5, use_index=True, nprobe=4)
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_versioned_indexed_insert_happy_path(spark, tmp_path):
    """CAS insert of an assigned batch, no failures: committed rows are
    immediately visible to indexed queries, replays dedup, and the table
    carries no duplicates."""
    db = VectorDB(
        spark, "vhappyidx", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(40)], embed_field="n")
    db.create_index(num_clusters=4)
    batch = [{"n": 4000 + i} for i in range(5)]
    db.insert(batch, embed_field="n")
    db.insert(batch, embed_field="n")  # replay: no-op

    assert db.num_rows() == 45
    ids = _ids(db)
    assert len(ids) == 45 and len(set(ids)) == 45
    exact = db.query("4002", k=5)
    indexed = db.query("4002", k=5, use_index=True, nprobe=4)
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_reconcile_clean_table_schedules_zero_jobs(spark, tmp_path, monkeypatch):
    """r4 verdict #6: reconcile on a CLEAN table answers from metadata
    alone — manifest counts (versioned) / parquet footers (plain) — and
    never schedules a count() job."""
    for name, versioned in (("cleanv", True), ("cleanp", False)):
        db = VectorDB(
            spark, name, embedding_dim=16, warehouse=str(tmp_path),
            create_new_table=True, versioned=versioned,
        )
        db.insert([{"n": i} for i in range(20)], embed_field="n")
        db.create_index(num_clusters=2)
        from pyspark.sql import DataFrame

        def no_jobs(_self):
            raise AssertionError("reconcile on a clean table scheduled a count() job")

        monkeypatch.setattr(DataFrame, "count", no_jobs)
        try:
            assert db.reconcile_index() == 0
        finally:
            monkeypatch.undo()


def test_concurrent_indexed_cas_inserts_both_land(spark, tmp_path):
    """r4 verdict #2 done-criterion: two writers racing CAS inserts on an
    INDEXED versioned table — all land (base OCC), every row exactly once
    (each commit carries its rows' cluster assignment), and use_index=True
    equals the exact path afterwards."""
    import threading

    db = VectorDB(
        spark, "vraceidx", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(40)], embed_field="n")
    db.create_index(num_clusters=4)

    shared = [{"n": 8000 + i} for i in range(10)]  # overlapping content
    errs: list[Exception] = []

    def worker(i):
        try:
            db.insert(shared + [{"n": 9000 + i}], embed_field="n")
        except Exception as e:  # noqa: BLE001 - surfaced in the assertion
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert db.num_rows() == 40 + 10 + 3
    ids = _ids(db)
    assert len(ids) == 53 and len(set(ids)) == 53
    exact = db.query("8004", k=6)
    indexed = db.query("8004", k=6, use_index=True, nprobe=4)
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_rollback_then_indexed_query_fails_loudly(spark, tmp_path):
    """Time travel composition: rollback abandons the head the index was
    built from — the index (and its generation) are dropped, and an
    indexed query fails LOUDLY instead of serving a stale layout."""
    db = VectorDB(
        spark, "vrbidx", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(20)], embed_field="n")
    v1 = db.history()[-1]["version"]
    db.insert([{"n": 100 + i} for i in range(5)], embed_field="n")
    db.create_index(num_clusters=2)
    assert db.query("102", k=3, use_index=True)  # index serves the head

    db.rollback(v1)
    with pytest.raises(ValueError, match="create_index"):
        db.query("102", k=3, use_index=True)
    # rebuild against the restored data: indexed and exact agree again
    db.create_index(num_clusters=2)
    exact = db.query("7", k=5)
    indexed = db.query("7", k=5, use_index=True, nprobe=2)
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_index_stats_metadata_only(spark, tmp_path, monkeypatch):
    """index_stats reads footers/manifests only (zero Spark jobs) and its
    balance numbers are right on both backends."""
    for name, versioned in (("istat_p", False), ("istat_v", True)):
        db = VectorDB(
            spark, name, embedding_dim=16, warehouse=str(tmp_path),
            create_new_table=True, versioned=versioned,
        )
        db.insert([{"n": i} for i in range(40)], embed_field="n")
        db.create_index(num_clusters=4)

        from pyspark.sql import DataFrame as _DF

        def no_jobs(self_df):
            raise AssertionError("index_stats scheduled a count() job")

        monkeypatch.setattr(_DF, "count", no_jobs)
        try:
            st = db.index_stats()
        finally:
            monkeypatch.undo()
        assert st["rows"] == 40
        assert st["clusters_total"] == 4
        assert 0 < st["clusters_nonempty"] <= 4
        assert 0 < st["max_cluster_frac"] <= 1.0

    nodb = VectorDB(
        spark, "istat_none", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    with pytest.raises(ValueError, match="create_index"):
        nodb.index_stats()


def test_eviction_before_base_append_loses_nothing(spark, tmp_path, monkeypatch):
    """The derived stores read the persisted batch before the base append:
    drop EVERY cached/persisted dataset right before the base append — the
    recomputed batch plan must still anti-join against the unmodified base
    and append identical rows."""
    db = _indexed_db(spark, tmp_path, "evictidx")
    real_append = catalog.append

    def evicting(df, name, warehouse=None, partition_by=None):
        if name == db.name:  # the base write: cache is gone now
            spark.catalog.clearCache()
        return real_append(df, name, warehouse, partition_by)

    monkeypatch.setattr(catalog, "append", evicting)
    db.insert([{"n": 3000 + i} for i in range(6)], embed_field="n")
    monkeypatch.undo()

    assert db.num_rows() == 46
    ids = _ids(db)
    assert len(ids) == 46 and len(set(ids)) == 46
    # post-index inserts remain visible to indexed queries
    exact = db.query("3004", k=5)
    indexed = db.query("3004", k=5, use_index=True, nprobe=4)
    assert [r.id for r in indexed] == [r.id for r in exact]


def test_indexed_time_travel_serves_verified_snapshot(spark, tmp_path):
    """query(version=N, use_index=True) probes the base manifest AS OF N
    (a version of the table is a version of its index) — at full probe the
    result equals the exact time-travel scan, on every read shape (single,
    batched, hybrid vector channel); old versions keep serving after later
    inserts AND later mutations (old manifests are immutable);
    index_stats() lists the servable set."""
    import json

    db = VectorDB(
        spark, "vttidx", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(20)], embed_field="n")
    db.create_index(num_clusters=2)
    v1 = vcat.current_version(db.name, db.warehouse)
    db.insert([{"n": 100 + i} for i in range(10)], embed_field="n")
    v2 = vcat.current_version(db.name, db.warehouse)
    assert v2 > v1

    tt = db.index_stats()["time_travel_versions"]
    assert v1 in tt and v2 in tt

    # full probe == exact scan at the historical version (ids + distances)
    exact = db.query("7", k=5, version=v1)
    idx = db.query("7", k=5, version=v1, use_index=True, nprobe=2)
    assert [(r.id, round(r.distance, 9)) for r in idx] == [
        (r.id, round(r.distance, 9)) for r in exact
    ]
    assert all(r.metadata["n"] < 100 for r in idx)
    # the head keeps seeing everything
    head = db.query("105", k=3, use_index=True, nprobe=2)
    assert any(r.metadata["n"] >= 100 for r in head)

    # batched + hybrid shapes share the contract
    bat = db.query_batch(["7", "3"], k=3, version=v1, use_index=True, nprobe=2)
    rows = bat.collect()
    assert len(rows) == 6
    assert all(json.loads(r["metadata"])["n"] < 100 for r in rows)
    hyb = db.query_hybrid("7", k=3, version=v1, text_field="n",
                          use_index=True, nprobe=2)
    assert all(r.metadata["n"] < 100 for r in hyb)

    # a mutation shrinks the head, but v1 still serves the PRE-delete
    # snapshot (immutable manifests; vacuum is the only eraser)
    db.delete({"n": ("<", 5)})
    assert db.num_rows() == 25
    old = db.query("3", k=5, version=v1, use_index=True, nprobe=2)
    assert any(r.metadata["n"] < 5 for r in old)
    post = vcat.current_version(db.name, db.warehouse)
    new_exact = db.query("3", k=5, version=post)
    new_idx = db.query("3", k=5, version=post, use_index=True, nprobe=2)
    assert [r.id for r in new_idx] == [r.id for r in new_exact]


def test_vacuum_prunes_indexed_time_travel_history(spark, tmp_path):
    """vacuum() removes old versions: indexed time travel to a vacuumed
    version fails with the canonical loud error (not a manifest-read crash
    mid-plan); retained versions keep serving."""
    db = VectorDB(
        spark, "vvacidx", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(10)], embed_field="n")
    db.create_index(num_clusters=2)
    v_old = vcat.current_version(db.name, db.warehouse)
    for b in range(3):  # push v_old past the retention horizon
        db.insert([{"n": 100 * (b + 1) + i} for i in range(4)], embed_field="n")
    v_new = vcat.current_version(db.name, db.warehouse)
    assert db.query("3", k=3, version=v_old, use_index=True, nprobe=2)

    db.vacuum(keep_versions=2, orphan_grace_s=0)
    tt = db.index_stats()["time_travel_versions"]
    assert v_old not in tt and v_new in tt
    with pytest.raises(ValueError, match="verified index snapshot"):
        db.query("3", k=3, version=v_old, use_index=True, nprobe=2)
    got = db.query("103", k=3, version=v_new, use_index=True, nprobe=2)
    assert [r.id for r in got] == [r.id for r in db.query("103", k=3, version=v_new)]


def test_rebuild_resets_time_travel_history(spark, tmp_path):
    """create_index() re-clustering moves the first servable version:
    versions assigned by the OLD centroid generation must not let an
    indexed time-travel query probe an old layout with the new centroids
    (review finding — silently wrong rows, not a loud error)."""
    db = VectorDB(
        spark, "vrebuild", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(20)], embed_field="n")
    db.create_index(num_clusters=2)
    v1 = vcat.current_version(db.name, db.warehouse)
    db.insert([{"n": 100 + i} for i in range(10)], embed_field="n")
    assert db.query("7", k=3, version=v1, use_index=True, nprobe=2)

    db.create_index(num_clusters=4)  # new centroid generation
    assert db.index_stats()["time_travel_versions"] == [
        vcat.current_version(db.name, db.warehouse)
    ]
    with pytest.raises(ValueError, match="verified index snapshot"):
        db.query("7", k=3, version=v1, use_index=True, nprobe=4)
    # the rebuild's commit serves the head
    head = db.query("105", k=3, use_index=True, nprobe=4)
    assert [r.id for r in head] == [r.id for r in db.query("105", k=3)]


def test_maintain_index_rebuilds_only_on_imbalance(spark, tmp_path, monkeypatch):
    """maintain_index(): the zero-job health probe triggers create_index
    only past the imbalance threshold; a balanced layout is a no-op; the
    rebuild preserves an existing PQ codebook's m."""
    db = VectorDB(
        spark, "vmaint", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(40)], embed_field="n")
    db.create_index(num_clusters=4, pq_m=4)
    assert db.maintain_index() is False  # fresh KMeans layout is balanced

    # force imbalance: low threshold trips the rebuild
    calls = {}
    real = VectorDB.create_index

    def spy(self, num_clusters=16, pq_m=None, two_level=False, coarse_clusters=None):
        calls["args"] = (num_clusters, pq_m)
        return real(self, num_clusters=num_clusters, pq_m=pq_m,
                    two_level=two_level, coarse_clusters=coarse_clusters)

    monkeypatch.setattr(VectorDB, "create_index", spy)
    assert db.maintain_index(max_cluster_frac=0.0) is True
    assert calls["args"] == (4, 4)  # cluster count and PQ m preserved
    monkeypatch.undo()
    # rebuilt index still serves
    got = db.query("7", k=3, use_index=True, nprobe=4)
    assert [r.id for r in got] == [r.id for r in db.query("7", k=3)]


def test_indexed_time_travel_composes_with_pq(spark, tmp_path):
    """compressed=True + version=N: PQ codes ride the base rows, and the
    codebooks are constant within an index generation (rebuilds move the
    first servable version), so the ADC candidate scan over a historical
    probe is sound — results come from the snapshot only."""
    db = VectorDB(
        spark, "vttpq", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(24)], embed_field="n")
    db.create_index(num_clusters=2, pq_m=4)
    v1 = vcat.current_version(db.name, db.warehouse)
    db.insert([{"n": 500 + i} for i in range(8)], embed_field="n")

    got = db.query("7", k=5, version=v1, use_index=True, compressed=True,
                   nprobe=2, refine_factor=8)
    assert len(got) == 5
    assert all(r.metadata["n"] < 500 for r in got)  # snapshot-only rows
    # full probe + generous refine: the exact-rerank tail recovers the
    # exact snapshot result
    exact = db.query("7", k=5, version=v1)
    got_full = db.query("7", k=5, version=v1, use_index=True, compressed=True,
                        nprobe=2, refine_factor=24)
    assert [r.id for r in got_full] == [r.id for r in exact]


def test_text_meta_lock_raises_on_timeout(spark, tmp_path):
    """The sidecar lock raises on timeout instead of proceeding unlocked —
    and crucially does NOT delete the lock file the real holder created."""
    import os

    db = VectorDB(
        spark, "vlock", embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True,
    )
    lock = db._text_meta_path() + ".lock"
    os.makedirs(os.path.dirname(lock), exist_ok=True)
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    try:
        with pytest.raises(TimeoutError, match="sidecar lock"):
            with db._text_meta_lock(timeout_s=0.2):
                pass
        assert os.path.exists(lock)  # the holder's lock survives
    finally:
        os.remove(lock)


