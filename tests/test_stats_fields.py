"""Declared stats fields: manifest data skipping reachable from the PUBLIC
facade (round-5 headline — the storage layer's ``prune_between``
(``sources/versioned.py``) driven from the filter DSL via
``VectorDB(stats_fields=...)``).

The load-bearing assertions monkeypatch-spy the touched-file discovery scan
(``versioned.files_matching``) and the pruned read (``versioned.scan``) to
prove which FILES each public operation actually looked at — the
scale-invariant quantity (files scanned), not just the row-level outcome.
"""

from __future__ import annotations

import numpy as np
import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import versioned as vcat


def _mk(spark, tmp_path, name, **kw):
    return VectorDB(
        spark,
        name,
        embedding_dim=8,
        create_new_table=True,
        warehouse=str(tmp_path),
        versioned=True,
        **kw,
    )


def _files(name, wh) -> set[str]:
    try:
        return set(vcat.resolve_files(name, wh))
    except FileNotFoundError:  # no commits yet
        return set()


def _batch(lo, hi, day=None, tag="keep"):
    return [
        {"text": f"doc {i}", "ts": float(i), "tag": tag}
        | ({"day": day} if day else {})
        for i in range(lo, hi)
    ]


@pytest.fixture()
def spy_matching(monkeypatch):
    """Record the candidate rel-file lists every touched-file scan sees."""
    seen: list[list[str]] = []
    real = vcat.files_matching

    def spying(spark_, n, w, rels, pred):
        seen.append(list(rels))
        return real(spark_, n, w, rels, pred)

    monkeypatch.setattr(vcat, "files_matching", spying)
    return seen


def test_normalize_and_validation():
    assert VectorDB._normalize_stats_fields(None) == {}
    assert VectorDB._normalize_stats_fields(["ts", "day"]) == {
        "ts": "string",
        "day": "string",
    }
    assert VectorDB._normalize_stats_fields({"ts": "double"}) == {"ts": "double"}
    with pytest.raises(ValueError, match="dtype must be"):
        VectorDB._normalize_stats_fields({"ts": "bigint"})
    with pytest.raises(ValueError, match="non-empty str"):
        VectorDB._normalize_stats_fields({"": "double"})
    with pytest.raises(ValueError, match="collide"):
        VectorDB._normalize_stats_fields({"a.b": "double", "a_b": "double"})


def test_stats_fields_require_versioned(spark, tmp_path):
    with pytest.raises(ValueError, match="versioned=True"):
        VectorDB(
            spark,
            "sf_plain",
            embedding_dim=8,
            create_new_table=True,
            warehouse=str(tmp_path),
            stats_fields={"ts": "double"},
        )


def test_derive_prune_bounds_soundness_matrix(spark, tmp_path):
    db = _mk(spark, tmp_path, "sf_bounds", stats_fields={"ts": "double", "day": "string"})
    d = db._derive_prune_bounds
    assert d({"ts": (">=", 20)}) == [("_s_ts", 20.0, None)]
    assert d({"ts": ("<", 5.5)}) == [("_s_ts", None, 5.5)]
    assert d({"ts": 7}) == [("_s_ts", 7.0, 7.0)]
    assert d({"day": "2024-01-02"}) == [("_s_day", "2024-01-02", "2024-01-02")]
    assert d({"day": (">", "2024-01-02")}) == [("_s_day", "2024-01-02", None)]
    # conjunction: both terms bound; undeclared fields add nothing
    assert sorted(d({"ts": (">", 1), "day": "x", "other": 3})) == [
        ("_s_day", "x", "x"),
        ("_s_ts", 1.0, None),
    ]
    # $and recurses; $or/$not derive NOTHING (their matches are unconfined)
    assert d({"$and": [{"ts": (">", 1)}, {"ts": ("<", 9)}]}) == [
        ("_s_ts", 1.0, None),
        ("_s_ts", None, 9.0),
    ]
    assert d({"$or": [{"ts": (">", 1)}, {"day": "x"}]}) == []
    assert d({"$not": {"ts": (">", 1)}}) == []
    # ...but a sibling AND term still prunes next to a $or
    assert d({"day": "x", "$or": [{"ts": 1}, {"ts": 2}]}) == [("_s_day", "x", "x")]
    # probe type ≠ declared order: NO bound (cross-type pruning is unsound)
    assert d({"ts": (">", "20")}) == []
    assert d({"day": (">", 20)}) == []
    assert d({"ts": True}) == []
    # non-range ops: NO bound
    assert d({"day": ("like", "2024%")}) == []
    assert d({"ts": ("!=", 3)}) == []
    assert d({"day": ("contains", "x")}) == []
    # round-12 ops derive real bounds: between = its interval, in = [min,max]
    assert d({"ts": ("between", (3, 9))}) == [("_s_ts", 3.0, 9.0)]
    assert d({"ts": ("between", [3, 9])}) == [("_s_ts", 3.0, 9.0)]
    assert d({"day": ("in", ["b", "a", "c"])}) == [("_s_day", "a", "c")]
    assert d({"ts": ("in", [7, 2, 5])}) == [("_s_ts", 2.0, 7.0)]
    # ...but never across types / bools / empties (unsound or undefined)
    assert d({"ts": ("between", ("a", "b"))}) == []
    assert d({"ts": ("in", [1, "x"])}) == []
    assert d({"ts": ("in", [])}) == []
    assert d({"ts": ("in", [True, False])}) == []


def test_facade_delete_scans_only_admitted_files(spark, tmp_path, spy_matching, monkeypatch):
    """The verdict's done-criterion: a facade-level ``db.delete`` keyed to a
    declared stats field runs its touched-file scan over ONLY the
    stats-admitted files."""
    monkeypatch.setattr(VectorDB, "_TOMBSTONE_MAX_IDS", 0)  # eager rewrite
    db = _mk(spark, tmp_path, "sf_del", stats_fields={"ts": "double"})
    batches = []
    for lo in (0, 10, 20):
        before = _files("sf_del", str(tmp_path))
        db.insert(_batch(lo, lo + 10), embed_field="text")
        after = _files("sf_del", str(tmp_path))
        batches.append(after - before)
    all_files = _files("sf_del", str(tmp_path))
    assert batches[0] and batches[1] and batches[2]

    spy_matching.clear()
    removed = db.delete({"ts": (">=", 20.0)})
    assert removed == 10
    assert db.num_rows() == 20
    # the discovery scan saw only batch-3 files — batches 1/2 were excluded
    # from the MANIFEST, never listed to Spark
    assert len(spy_matching) == 1
    scanned = set(spy_matching[0])
    assert scanned <= batches[2]
    assert not scanned & (batches[0] | batches[1])
    assert scanned < all_files
    # untouched batches carried forward by reference
    remaining = _files("sf_del", str(tmp_path))
    assert (batches[0] | batches[1]) <= remaining
    got = sorted(r.metadata["ts"] for r in db.query("doc 1", k=50))
    assert got == [float(i) for i in range(20)]


def test_facade_update_prunes_and_keeps_stats_sound(spark, tmp_path, spy_matching, monkeypatch):
    """update() keyed to a stats field: (a) its matched scan resolves only
    the admitted files from the manifest, (b) the PATCHED rows' stats
    columns are rematerialized from the new metadata, so a LATER pruned
    delete still finds them."""
    db = _mk(spark, tmp_path, "sf_upd", stats_fields={"ts": "double"})
    batches = []
    for lo in (0, 10):
        before = _files("sf_upd", str(tmp_path))
        db.insert(_batch(lo, lo + 10), embed_field="text")
        after = _files("sf_upd", str(tmp_path))
        batches.append(after - before)

    resolved: list[list[str]] = []
    real = vcat.resolve_files

    def spying(name, warehouse=None, version=None, between=None):
        out = real(name, warehouse, version, between)
        if between is not None:
            resolved.append(out)
        return out

    monkeypatch.setattr(vcat, "resolve_files", spying)
    # shift the low decade up into 100+ (patch CHANGES the pruned field)
    # 9.5, not 10.0: the closed-interval overlap test conservatively
    # admits a file whose min is EXACTLY the strict bound
    n = db.update({"ts": ("<", 9.5)}, {"ts": 100.0, "tag": "moved"})
    assert n == 10
    assert resolved  # the matched scan took the stats-pruned file list
    for rels in resolved:
        assert set(rels) <= batches[0]

    # the moved decade keeps distinct text per row (no content collapse);
    # the second decade is untouched
    metas = [r.metadata for r in db.query("doc 1", k=50)]
    assert sorted(m["ts"] for m in metas) == [float(i) for i in range(10, 20)] + [100.0] * 10
    assert sum(m.get("tag") == "moved" for m in metas) == 10

    # the moved row's _s_ts was rematerialized: a pruned delete at its NEW
    # position must find it (this fails if update wrote stale stats cols)
    spy_matching.clear()
    monkeypatch.setattr(VectorDB, "_TOMBSTONE_MAX_IDS", 0)  # eager rewrite
    assert db.delete({"ts": (">=", 99.0)}) == 10
    assert all(not set(r) & batches[1] for r in spy_matching)
    assert db.num_rows() == 10


def test_string_field_eq_pruning(spark, tmp_path, spy_matching, monkeypatch):
    monkeypatch.setattr(VectorDB, "_TOMBSTONE_MAX_IDS", 0)  # eager rewrite
    db = _mk(spark, tmp_path, "sf_day", stats_fields={"day": "string"})
    daysets = []
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        before = _files("sf_day", str(tmp_path))
        db.insert(_batch(0, 8, day=day), embed_field="text")
        after = _files("sf_day", str(tmp_path))
        daysets.append(after - before)
    spy_matching.clear()
    assert db.delete({"day": "2024-01-02"}) == 8
    assert len(spy_matching) == 1 and set(spy_matching[0]) <= daysets[1]
    assert db.num_rows() == 16


def test_query_read_path_prunes_files(spark, tmp_path, monkeypatch):
    """query()/query_batch() with a stats-field filter resolve a pruned
    file list from the manifest (the read-side win)."""
    db = _mk(spark, tmp_path, "sf_q", stats_fields={"ts": "double"})
    for lo in (0, 10, 20):
        db.insert(_batch(lo, lo + 10), embed_field="text")
    all_files = vcat.resolve_files("sf_q", str(tmp_path))

    resolved: list[list[str]] = []
    real = vcat.resolve_files

    def spying(name, warehouse=None, version=None, between=None):
        out = real(name, warehouse, version, between)
        if between is not None:
            resolved.append(out)
        return out

    monkeypatch.setattr(vcat, "resolve_files", spying)
    hits = db.query("doc 5", k=50, filters={"ts": ("<", 10.0)})
    assert sorted(r.metadata["ts"] for r in hits) == [float(i) for i in range(10)]
    assert resolved and all(len(r) < len(all_files) for r in resolved)

    resolved.clear()
    qb = db.query_batch([np.ones(8), np.arange(1.0, 9.0)], k=3, filters={"ts": (">=", 20.0)})
    rows = qb.collect()
    assert {r["q_id"] for r in rows} == {0, 1}
    assert resolved and all(len(r) < len(all_files) for r in resolved)
    # an unprunable filter falls back to the full file list, still correct
    resolved.clear()
    hits = db.query("doc 5", k=50, filters={"$or": [{"ts": 1.0}, {"ts": 25.0}]})
    assert sorted(r.metadata["ts"] for r in hits) == [1.0, 25.0]
    assert not resolved


def test_sidecar_guards_declaration(spark, tmp_path):
    db = _mk(spark, tmp_path, "sf_meta", stats_fields={"ts": "double"})
    db.insert(_batch(0, 5), embed_field="text")
    # same declaration: fine
    again = VectorDB(
        spark, "sf_meta", embedding_dim=8, warehouse=str(tmp_path),
        versioned=True, stats_fields={"ts": "double"},
    )
    assert again.num_rows() == 5
    # different / missing declaration: rejected at the handle boundary
    with pytest.raises(ValueError, match="stats_fields"):
        VectorDB(spark, "sf_meta", embedding_dim=8, warehouse=str(tmp_path), versioned=True)
    with pytest.raises(ValueError, match="stats_fields"):
        VectorDB(
            spark, "sf_meta", embedding_dim=8, warehouse=str(tmp_path),
            versioned=True, stats_fields={"ts": "string"},
        )


def test_declare_stats_fields_migration(spark, tmp_path, spy_matching, monkeypatch):
    """Adopting a declaration on an existing table: one rewrite, then every
    later mutation is file-pruned."""
    monkeypatch.setattr(VectorDB, "_TOMBSTONE_MAX_IDS", 0)  # eager rewrite
    db = _mk(spark, tmp_path, "sf_mig")  # no declaration
    for lo in (0, 10):
        db.insert(_batch(lo, lo + 10), embed_field="text")
    n = db.declare_stats_fields({"ts": "double"})
    assert n == 20
    # sidecar updated: a fresh handle with the declaration constructs clean
    h2 = VectorDB(
        spark, "sf_mig", embedding_dim=8, warehouse=str(tmp_path),
        versioned=True, stats_fields={"ts": "double"},
    )
    # post-migration files carry per-file _s_ts ranges in the manifest:
    # append a third, disjoint batch and prune against it
    before = _files("sf_mig", str(tmp_path))
    h2.insert(_batch(20, 30), embed_field="text")
    third = _files("sf_mig", str(tmp_path)) - before
    spy_matching.clear()
    assert h2.delete({"ts": (">=", 20.0)}) == 10
    assert len(spy_matching) == 1 and set(spy_matching[0]) <= third
    assert h2.num_rows() == 20


def test_clone_carries_declaration(spark, tmp_path):
    db = _mk(spark, tmp_path, "sf_src", stats_fields={"ts": "double"})
    db.insert(_batch(0, 6), embed_field="text")
    fork = db.clone("sf_fork")
    assert fork._stats_fields == {"ts": "double"}
    fork.insert(_batch(6, 9), embed_field="text")
    assert fork.num_rows() == 9
    assert db.num_rows() == 6


def test_index_files_stay_clean_of_stats_cols(spark, tmp_path):
    """Stats columns are a base-table storage detail: an indexed base
    carries them beside its cluster_id, but they must not leak into the
    graph index's node files (built from the base, grown by the insert
    path) or into the public schema."""
    db = _mk(spark, tmp_path, "sf_ivf", stats_fields={"ts": "double"})
    db.insert(_batch(0, 12), embed_field="text")
    db.create_index(num_clusters=2)
    db.create_graph_index(calibrate=False)
    db.insert(_batch(12, 18), embed_field="text")  # the assigned append + graph sync
    base_cols = vcat.read_table(spark, "sf_ivf", str(tmp_path)).columns
    assert "cluster_id" in base_cols and "_s_ts" in base_cols
    node_cols = vcat.read_table(spark, "sf_ivf__hnsw_nodes", str(tmp_path)).columns
    assert not [c for c in node_cols if c.startswith("_s_")]
    hits = db.query("doc 13", k=18, use_index=True, nprobe=2)
    assert len(hits) == 18
    # and the public scan schema is unchanged
    assert db.items().columns == ["id", "metadata", "embedding"]


def test_facade_optimize_zorder_tightens_pruning(spark, tmp_path):
    """optimize_zorder through the facade: interleaved writes leave every
    file's ts range overlapping (a range bound admits ALL files); after
    z-ordering by the declared field, the same bound admits a strict
    subset, other declared fields keep their stats, and results are
    identical."""
    db = _mk(spark, tmp_path, "sf_zo", stats_fields={"ts": "double", "tag": "string"})
    # 4 inserts, each shuffled so every part file spans most of the ts
    # range — the worst layout for range pruning
    for start in range(4):
        rows = [
            {"text": f"doc {i}", "ts": float(i), "tag": "t%d" % (i % 3)}
            for i in range(start, 80, 4)
        ]
        rows.sort(key=lambda r: int(r["ts"]) % 7)
        db.insert(rows, embed_field="text")
    before = db.query("doc 7", k=5, filters={"ts": ("<", 10.0)})
    bounds = db._derive_prune_bounds({"ts": ("<", 10.0)})
    (col, lo, hi), = bounds
    admitted_pre = set(vcat.resolve_files("sf_zo", str(tmp_path), between=(col, lo, hi)))

    v = db.optimize_zorder(["ts"], num_files=8)
    assert v == vcat.current_version("sf_zo", str(tmp_path))
    all_post = _files("sf_zo", str(tmp_path))
    admitted_post = set(
        vcat.resolve_files("sf_zo", str(tmp_path), between=(col, lo, hi))
    )
    assert admitted_post < all_post  # clustering made the bound selective
    assert len(admitted_post) < len(admitted_pre)  # ... and strictly tighter
    after = db.query("doc 7", k=5, filters={"ts": ("<", 10.0)})
    assert [(r.id, r.distance) for r in after] == [(r.id, r.distance) for r in before]
    # the OTHER declared field's pruning still works post-optimize
    tag_admitted = set(
        vcat.resolve_files("sf_zo", str(tmp_path), between=("_s_tag", "t9", "t9"))
    )
    assert tag_admitted == set()  # no file can contain tag 't9'

    # undeclared fields are rejected loudly
    with pytest.raises(ValueError, match="declared"):
        db.optimize_zorder(["nope"])
