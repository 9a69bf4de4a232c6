"""Merge-on-read deletes (round 12): ``delete()`` below the threshold
records a tombstone mask on the manifest instead of rewriting base files
(``sources/versioned.py:tombstone``); every read path serves the logical
view; replace-shaped commits and maintenance FOLD the mask into a real
rewrite; semantics are pinned byte-equal to the eager delete."""

from __future__ import annotations

import json
import os
import uuid as _uuid

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import catalog
from modal_vector_db_spark.sources import versioned as vcat


def _mk(spark, tmp_path, name, n=200, per_batch=20, **kw):
    db = VectorDB(
        spark, name, embedding_dim=16, warehouse=str(tmp_path / name),
        create_new_table=True, versioned=True, **kw,
    )
    # many small commits -> many base files (the scattered-takedown shape)
    for lo in range(0, n, per_batch):
        db.insert(
            [{"text": f"doc {i}", "n": i} for i in range(lo, lo + per_batch)],
            embed_field="text",
        )
    return db


def _base_files(db) -> dict:
    """head manifest's data files -> (inode, mtime) — the rewrite spy."""
    head = vcat.current_version(db.name, db.warehouse)
    m = vcat._read_manifest(db.name, db.warehouse, head)
    base = vcat.db_path(db.name, db.warehouse)
    return {
        f: (os.stat(os.path.join(base, f)).st_ino,
            os.stat(os.path.join(base, f)).st_mtime_ns)
        for f in m["files"]
    }


def _head_manifest(db) -> dict:
    head = vcat.current_version(db.name, db.warehouse)
    return vcat._read_manifest(db.name, db.warehouse, head)


def _ids(db):
    return sorted(r["id"] for r in db.items().select("id").collect())


@pytest.mark.slow
def test_scattered_takedown_writes_zero_base_files(spark, tmp_path):
    """The judge's fixture: 100 ids scattered across every base file —
    the MoR delete rewrites ZERO base files (inode/mtime spy), bumps the
    head by one tombstone commit, and every read path serves the logical
    view."""
    db = _mk(spark, tmp_path, f"tb_{_uuid.uuid4().hex[:6]}")
    pre_head = vcat.current_version(db.name, db.warehouse)
    before = _base_files(db)
    victims = list(range(0, 200, 2))[:100]  # every file is hit

    removed = db.delete({"n": ("in", victims)})
    assert removed == 100
    after = _base_files(db)
    assert before == after  # zero base-file rewrites, all carried by ref
    m = _head_manifest(db)
    assert m["op"] == "tombstone" and m.get("tombstones")
    assert vcat.current_version(db.name, db.warehouse) == pre_head + 1
    # logical views
    assert db.num_rows() == 100
    assert db.items().count() == 100
    got = {json.loads(r["metadata"])["n"] for r in db.items().collect()}
    assert got == set(range(1, 200, 2))
    # repeated delete of the same ids: no-op, no commit
    assert db.delete({"n": ("in", victims)}) == 0
    assert vcat.current_version(db.name, db.warehouse) == pre_head + 1
    # time travel still shows the pre-delete rows
    assert db.read_version(pre_head).count() == 200


@pytest.mark.slow
def test_mor_is_byte_equal_to_eager(spark, tmp_path):
    """Twin tables, same delete — one merge-on-read, one eager: ids,
    num_rows, query results, and version arithmetic all agree."""
    a = _mk(spark, tmp_path, f"tba_{_uuid.uuid4().hex[:6]}", n=100, per_batch=25)
    b = _mk(spark, tmp_path, f"tbb_{_uuid.uuid4().hex[:6]}", n=100, per_batch=25)
    ha = vcat.current_version(a.name, a.warehouse)
    hb = vcat.current_version(b.name, b.warehouse)
    assert ha == hb
    filt = {"n": ("between", (10, 39))}
    assert a.delete(filt) == 30
    b._TOMBSTONE_MAX_IDS = 0  # the eager twin
    assert b.delete(filt) == 30
    assert vcat.current_version(a.name, a.warehouse) == ha + 1
    assert vcat.current_version(b.name, b.warehouse) == hb + 1
    assert a.num_rows() == b.num_rows() == 70
    assert _ids(a) == _ids(b)
    qa = a.query("doc 55", k=5)
    qb = b.query("doc 55", k=5)
    assert [(r.id, round(r.distance, 9)) for r in qa] == [
        (r.id, round(r.distance, 9)) for r in qb
    ]
    # filtered query over the masked range returns nothing on both
    assert a.query("doc 20", k=3, filters=filt) == []
    assert b.query("doc 20", k=3, filters=filt) == []


@pytest.mark.slow
def test_indexed_graph_paths_and_stamp_after_mor_delete(spark, tmp_path):
    """The derived graph store shrinks eagerly while the base masks:
    indexed, graph, and exact reads agree; the totals-based graph pin
    stays consistent (logical counts subtract the mask)."""
    db = _mk(spark, tmp_path, f"tbi_{_uuid.uuid4().hex[:6]}", n=120, per_batch=30)
    db.create_index(num_clusters=4, calibrate=False)
    db.create_graph_index(calibrate=False)
    victim = db.query("doc 42", k=1)[0]
    assert db.delete({"n": victim.metadata["n"]}) == 1
    assert _head_manifest(db)["op"] == "tombstone"
    stats = db.index_stats()
    assert stats["tombstones_pending"] == 1  # zero-job mask observability
    assert stats["graph"]["graph_fresh"] is True
    exact = db.query("doc 42", k=10)
    idx = db.query("doc 42", k=10, use_index=True, nprobe=4)
    graph = db.query_graph("doc 42", k=10, nprobe=4, ef_search=8192)
    assert victim.id not in {r.id for r in exact}
    assert [r.id for r in idx] == [r.id for r in exact]
    assert [r.id for r in graph] == [r.id for r in exact]
    # inserts keep working on a masked table (CAS + derived syncs)
    db.insert([{"text": "fresh after mask", "n": 9001}], embed_field="text")
    assert db.num_rows() == 120
    got = db.query("fresh after mask", k=2, use_index=True, nprobe=4)
    assert any(r.metadata.get("n") == 9001 for r in got)


def test_compact_and_maintain_fold_the_mask(spark, tmp_path):
    """compact() folds implicitly (logical-view rewrite); maintain_index()
    folds explicitly — after either, the manifest carries no tombstones
    and results are unchanged."""
    db = _mk(spark, tmp_path, f"tbf_{_uuid.uuid4().hex[:6]}", n=100, per_batch=25)
    db.delete({"n": ("in", [1, 2, 3])})
    assert _head_manifest(db).get("tombstones")
    ids_before = _ids(db)
    db.compact()
    m = _head_manifest(db)
    assert not m.get("tombstones")
    assert _ids(db) == ids_before
    assert db.num_rows() == 97
    # a second mask, folded by maintain_index this time
    db.delete({"n": ("in", [4, 5])})
    assert _head_manifest(db).get("tombstones")
    assert db.maintain_index() is True  # the fold counts as maintenance
    assert not _head_manifest(db).get("tombstones")
    assert db.num_rows() == 95


def test_update_folds_and_eager_fallback_over_threshold(spark, tmp_path, monkeypatch):
    """A replace-shaped update() folds the pending mask (replace_where);
    a delete over the threshold falls back to the eager rewrite."""
    db = _mk(spark, tmp_path, f"tbu_{_uuid.uuid4().hex[:6]}", n=100, per_batch=25)
    db.delete({"n": ("in", [10, 11])})
    assert _head_manifest(db).get("tombstones")
    assert db.update({"n": 50}, {"tag": "patched"}) == 1
    m = _head_manifest(db)
    assert not m.get("tombstones")  # folded by the update's rewrite
    assert db.num_rows() == 98
    assert db.query("x", k=1, filters={"n": 10}) == []
    # threshold fallback: force a tiny cap, delete more than it
    monkeypatch.setattr(VectorDB, "_TOMBSTONE_MAX_IDS", 3)
    removed = db.delete({"n": ("between", (60, 69))})
    assert removed == 10
    m = _head_manifest(db)
    assert m["op"] == "delete" and not m.get("tombstones")
    assert db.num_rows() == 88


def test_reinsert_of_masked_content_folds_first(spark, tmp_path):
    """Re-inserting content whose id sits in the mask must RE-ADD the row
    (eager-delete parity): the CAS loop folds the mask, then inserts."""
    db = _mk(spark, tmp_path, f"tbr_{_uuid.uuid4().hex[:6]}", n=40, per_batch=20)
    assert db.delete({"n": 7}) == 1
    assert db.num_rows() == 39
    db.insert([{"text": "doc 7", "n": 7}], embed_field="text")
    assert db.num_rows() == 40
    assert not _head_manifest(db).get("tombstones")  # folded en route
    got = db.query("doc 7", k=3)
    assert any(r.metadata.get("n") == 7 for r in got)


def test_rollback_and_vacuum_respect_the_mask(spark, tmp_path):
    """rollback carries the restored version's mask verbatim; vacuum
    keeps tombstone files referenced by retained versions."""
    db = _mk(spark, tmp_path, f"tbk_{_uuid.uuid4().hex[:6]}", n=60, per_batch=20)
    pre = vcat.current_version(db.name, db.warehouse)
    db.delete({"n": ("in", [0, 1, 2, 3])})
    masked_v = vcat.current_version(db.name, db.warehouse)
    db.insert([{"text": "later", "n": 777}], embed_field="later_missing_ok")
    # rollback to the masked version: mask carried, rows still excluded
    db.rollback(masked_v)
    assert db.num_rows() == 56
    assert _head_manifest(db).get("tombstones")
    # rollback to the pre-delete version: rows visible again
    db.rollback(pre)
    assert db.num_rows() == 60
    # vacuum with history retained: masked version still serves
    vcat.vacuum(db.name, db.warehouse, keep_versions=10, orphan_grace_s=0)
    assert db.read_version(masked_v).count() == 56


def test_tombstone_requires_versioned(spark, tmp_path):
    db = VectorDB(
        spark, f"tbp_{_uuid.uuid4().hex[:6]}", embedding_dim=16,
        warehouse=str(tmp_path), create_new_table=True,
    )
    db.insert([{"n": 1}], embed_field="n")
    # the mask lives on the manifest log: a plain table deletes eagerly
    # however small the match
    assert db.delete({"n": 1}) == 1
    assert db.num_rows() == 0


def test_folding_eager_delete_keeps_text_ledger(spark, tmp_path):
    """Review finding: an eager delete that FOLDS a pending mask commits
    the fold with its own removals — the text snapshot ledger must absorb
    that commit, not poison itself."""
    db = _mk(spark, tmp_path, f"tbl_{_uuid.uuid4().hex[:6]}", n=60, per_batch=20)
    db.create_text_index()
    assert db.delete({"n": ("in", [3, 4])}) == 2
    assert _head_manifest(db).get("tombstones")
    st_before = db._read_text_meta().get("synced_through")
    assert st_before is not None
    # one live match (5) beside the masked 3 and 4; the eager rewrite folds
    db._TOMBSTONE_MAX_IDS = 0
    removed = db.delete({"n": ("in", [3, 4, 5])})
    assert removed == 1
    assert not _head_manifest(db).get("tombstones")  # fold landed
    meta = db._read_text_meta()
    assert meta.get("synced_through") is not None  # ledger NOT poisoned
    # and the verified pair still serves at the new head
    got = db.query_hybrid("doc 10", k=3, use_text_index=True)
    assert got


def test_update_distributed_plan_folds(spark, tmp_path, monkeypatch):
    """The same fold on ``update``'s distributed plan (the driver ceiling
    at 0)."""
    monkeypatch.setattr(VectorDB, "_UPDATE_DRIVER_MAX_ROWS", 0)
    test_update_folds_and_eager_fallback_over_threshold(spark, tmp_path, monkeypatch)


def test_update_with_mask_above_in_literal_ceiling(spark, tmp_path, monkeypatch):
    """Past the IN-literal ceiling the driver-resolved update's matched scan
    anti-joins the mask and its id probe semi-joins the ids: the same fold
    and rows."""
    monkeypatch.setattr(vcat, "IN_MASK_MAX_IDS", 1)
    db = _mk(spark, tmp_path, f"tbi_{_uuid.uuid4().hex[:6]}", n=60, per_batch=20)
    db.delete({"n": ("in", [10, 11, 30])})
    assert db.update({"n": ("in", [12, 40])}, {"tag": "p"}) == 2
    assert not _head_manifest(db).get("tombstones")
    metas = [json.loads(r["metadata"]) for r in db.items().collect()]
    assert sorted(m["n"] for m in metas) == sorted(set(range(60)) - {10, 11, 30})
    assert sorted(m["n"] for m in metas if m.get("tag") == "p") == [12, 40]
    assert db.num_rows() == 57


def test_mask_ids_with_quote_and_backslash(spark, tmp_path):
    """The mask's IN literal is SQL text: ids holding a quote or a
    backslash are masked exactly, NULL ids are kept, and the optimized plan
    keeps an In."""
    wh = str(tmp_path)
    ids = ["plain", "it's", "back\\slash", "both\\'", "'", "\\", "ünï", None]
    vcat.overwrite(
        catalog.local_frame(spark, [(i, n) for n, i in enumerate(ids)], "id string, n int"),
        "tq", wh,
    )
    doomed = ["it's", "back\\slash", "both\\'", "'", "\\"]
    vcat.tombstone(catalog.local_frame(spark, zip(doomed), "id string"), "tq", wh)
    got = vcat.read_table(spark, "tq", wh)
    assert sorted(r["n"] for r in got.collect()) == [0, 6, 7]
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert " IN (" in plan and "from_json" not in plan, plan


def test_replace_where_count_excludes_folded_mask(spark, tmp_path):
    """Review finding: replace_where's removed-count must not report
    folded mask rows as this predicate's removals (rewrite_where parity)."""
    db = _mk(spark, tmp_path, f"tbc_{_uuid.uuid4().hex[:6]}", n=40, per_batch=20)
    db.delete({"n": ("in", [1, 2, 3])})
    pred = F.coalesce(
        F.get_json_object("metadata", "$.n").cast("double") == 10.0, F.lit(False)
    )
    removed = vcat.replace_where(
        spark, db.name, pred, None, db.warehouse, stats_cols=[]
    )
    assert removed == 1  # not 1 + the 3 folded mask rows
    assert not _head_manifest(db).get("tombstones")
    assert db.num_rows() == 36


def test_zorder_clone_stats_migration_respect_mask(spark, tmp_path):
    """The remaining replace-shaped / copy paths compose with a pending
    mask: optimize_zorder folds it (reads the logical view, clears the
    key), clone_table carries it verbatim (the clone serves the masked
    view), declare_stats_fields' migration rewrite folds it, and vacuum
    reclaims a folded mask's id files once their versions age out."""
    db = _mk(spark, tmp_path, f"tbz_{_uuid.uuid4().hex[:6]}", n=80, per_batch=20)
    db.delete({"n": ("in", [0, 1, 2, 3, 4])})
    assert _head_manifest(db).get("tombstones")
    ids_before = _ids(db)

    # clone BEFORE folding: the clone must carry and serve the mask
    vcat.clone_table(db.name, db.name + "_clone", db.warehouse)
    clone_m = vcat._read_manifest(db.name + "_clone", db.warehouse, 1)
    assert clone_m.get("tombstones")
    clone_df = vcat.read_table(spark, db.name + "_clone", db.warehouse)
    assert clone_df.count() == 75
    assert vcat.manifest_row_count(db.name + "_clone", db.warehouse) == 75

    # the stats-fields migration rewrite folds the mask
    assert db.declare_stats_fields({"n": "double"}) == 75
    m = _head_manifest(db)
    assert not m.get("tombstones")
    assert _ids(db) == ids_before
    assert db.num_rows() == 75

    # a fresh mask, folded by optimize_zorder (logical view unchanged)
    db.delete({"n": ("in", [10, 11])})
    mask_files = list(_head_manifest(db)["tombstones"])
    db.optimize_zorder(["n"])
    assert not _head_manifest(db).get("tombstones")
    assert db.num_rows() == 73
    # ...and a stats-pruned delete works on the migrated, folded table
    db._TOMBSTONE_MAX_IDS = 0  # eager rewrite
    assert db.delete({"n": ("between", (20.0, 24.0))}) == 5
    assert db.num_rows() == 68

    # vacuum reclaims the folded mask's id files once unreferenced
    base = vcat.db_path(db.name, db.warehouse)
    assert all(os.path.exists(os.path.join(base, f)) for f in mask_files)
    vcat.vacuum(db.name, db.warehouse, keep_versions=1, orphan_grace_s=0)
    assert not any(os.path.exists(os.path.join(base, f)) for f in mask_files)
