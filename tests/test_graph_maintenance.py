"""Incremental HNSW graph maintenance (engine_graph.py): insert/delete
keep the epoch artifact current without full rebuilds, filtered graph
queries compose the compiled DSL with the beam search, ef_search resolves
explicit > calibrated > 64, racing writers converge the epoch pin, and
the hybrid graph channel equals the IVF channel at full probe."""

from __future__ import annotations

import json
import uuid as _uuid

import pytest

from modal_vector_db_spark.engine import VectorDB


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _mk(spark, tmp_path, name, n=240, versioned=False, dim=32, clusters=4):
    db = VectorDB(
        spark, name, embedding_dim=dim, warehouse=str(tmp_path / f"wh_{name}"),
        create_new_table=True, versioned=versioned,
    )
    db.insert(
        [{"text": f"doc {i} topic {i % 6}", "n": i, "grp": i % 3} for i in range(n)],
        embed_field="text",
    )
    db.create_index(num_clusters=clusters)
    db.create_graph_index(calibrate=False)
    return db


def test_insert_maintains_graph_plain(spark, tmp_path):
    """Plain table: an insert appends to __hnsw_nodes, rebuilds ONLY the
    touched clusters, and advances the rows pin — query_graph serves the
    new rows with NO create_graph_index call."""
    db = _mk(spark, tmp_path, f"gmp_{_uuid.uuid4().hex[:6]}")
    db.insert([{"text": "zzz unique fresh", "n": 9001, "grp": 99}], embed_field="text")
    got = db.query_graph("zzz unique fresh", k=3, nprobe=4, ef_search=4096)
    assert got[0].metadata["n"] == 9001
    # exactness pin: full probe + corpus-covering ef == the exact scan
    exact = db.query("doc 11 topic 5", k=5)
    graph = db.query_graph("doc 11 topic 5", k=5, nprobe=4, ef_search=4096)
    assert [(r.id, round(r.distance, 9)) for r in graph] == [
        (r.id, round(r.distance, 9)) for r in exact
    ]


def test_insert_maintains_graph_versioned(spark, tmp_path):
    """Versioned table: the post-commit sync pins the NEW head after a
    totals-verified check; two sequential inserts each serve without a
    rebuild."""
    from modal_vector_db_spark.sources import versioned as vcat

    db = _mk(spark, tmp_path, f"gmv_{_uuid.uuid4().hex[:6]}", versioned=True)
    for tag in ("alpha zebra", "beta yak"):
        db.insert([{"text": f"fresh {tag}", "n": hash(tag) % 100, "grp": 9}], embed_field="text")
        got = db.query_graph(f"fresh {tag}", k=2, nprobe=4, ef_search=4096)
        assert any(tag in json.dumps(r.metadata) for r in got)
    head = vcat.current_version(db.name, db.warehouse)
    assert db._read_hnsw_meta()["base_version"] == head


def test_delete_maintains_graph(spark, tmp_path):
    """A takedown-sized delete shrinks __hnsw_nodes by the file-pruned
    rewrite, rebuilds the shrunk clusters, and re-pins the epoch — the
    deleted rows can never be served, still with no rebuild call."""
    db = _mk(spark, tmp_path, f"gmd_{_uuid.uuid4().hex[:6]}")
    victim = db.query("doc 42 topic 0", k=1)[0]
    removed = db.delete({"n": victim.metadata["n"]})
    assert removed == 1
    got = db.query_graph("doc 42 topic 0", k=10, nprobe=4, ef_search=4096)
    assert victim.id not in {r.id for r in got}
    # epoch re-pinned: serving did not raise, and the pin matches reality
    assert db._read_hnsw_meta()["rows"] == db.num_rows()
    # and the exactness pin still holds post-delete
    exact = db.query("doc 17 topic 5", k=5)
    graph = db.query_graph("doc 17 topic 5", k=5, nprobe=4, ef_search=4096)
    assert [r.id for r in graph] == [r.id for r in exact]


def test_filtered_graph_equals_exact_filtered(spark, tmp_path):
    """Filter pushdown into the beam: at full probe + corpus-covering ef
    the filtered graph result is byte-equal to the exact filtered scan
    (the reference composes WHERE + HNSW in one template,
    duckvdb.py:110-116)."""
    db = _mk(spark, tmp_path, f"gff_{_uuid.uuid4().hex[:6]}")
    for flt in ({"grp": 1}, {"grp": (">=", 2)}, {"n": ("<", 40)}):
        exact = db.query("doc 5 topic 5", k=5, filters=flt)
        graph = db.query_graph(
            "doc 5 topic 5", k=5, filters=flt, nprobe=4, ef_search=4096
        )
        assert [(r.id, round(r.distance, 9)) for r in graph] == [
            (r.id, round(r.distance, 9)) for r in exact
        ], flt
    # batch twin agrees with the single path
    out = db.query_graph_batch(
        ["doc 5 topic 5"], k=5, filters={"grp": 1}, nprobe=4, ef_search=4096
    ).collect()
    single = db.query_graph(
        "doc 5 topic 5", k=5, filters={"grp": 1}, nprobe=4, ef_search=4096
    )
    assert sorted((round(r["distance"], 9), r["id"]) for r in out) == sorted(
        (round(r.distance, 9), r.id) for r in single
    )


def test_filter_excluding_the_whole_beam_expands(spark, tmp_path):
    """Adversarial: a filter so selective the initial beam holds zero
    matches — the search must EXPAND (geometric ef doubling) until the k
    matching rows are found, not return short (the PQ-pushdown test's
    model, applied to the graph)."""
    db = _mk(spark, tmp_path, f"gfx_{_uuid.uuid4().hex[:6]}", n=300)
    # exactly three matching rows, found even with a k-sized initial beam
    flt = {"n": ("<", 3)}
    got = db.query_graph("doc 200 topic 1", k=3, filters=flt, nprobe=4, ef_search=3)
    assert sorted(r.metadata["n"] for r in got) == [0, 1, 2]


def test_ef_search_resolution_order(spark, tmp_path):
    """explicit > calibrated sidecar default > legacy 64 — and
    create_graph_index(calibrate=True) persists the measured curve."""
    db = _mk(spark, tmp_path, f"gef_{_uuid.uuid4().hex[:6]}")
    meta = db._read_hnsw_meta()
    assert "default_ef_search" not in meta  # calibrate=False in _mk
    assert db._resolve_ef_search(None, meta) == 64
    assert db._resolve_ef_search(17, meta) == 17
    db.create_graph_index(calibrate=True, target_recall=0.9)
    meta = db._read_hnsw_meta()
    curve = meta["ef_curve"]
    assert len(curve) == 5 and all(len(p) == 2 for p in curve)  # full ladder
    # default = the smallest rung clearing the target (ladder max if none)
    want = next((ef for ef, r in curve if r >= 0.9), curve[-1][0])
    assert meta["default_ef_search"] == want
    assert db._resolve_ef_search(None, meta) == meta["default_ef_search"]
    assert db._resolve_ef_search(999, meta) == 999
    # the calibrated default actually serves
    assert len(db.query_graph("doc 3 topic 3", k=5)) == 5


def test_update_invalidates_graph(spark, tmp_path):
    """update() re-keys rows while preserving the count — the one shape
    the plain rows pin cannot see, so it must invalidate loudly."""
    db = _mk(spark, tmp_path, f"gup_{_uuid.uuid4().hex[:6]}")
    assert db.update({"n": 3}, {"grp": 777}) == 1
    with pytest.raises(ValueError, match="create_graph_index"):
        db.query_graph("doc 3 topic 3", k=2)


def test_racing_writers_converge_epoch(spark, tmp_path):
    """Two concurrent CAS inserts on a versioned table: the graph syncs
    serialize under the epoch-sidecar lock, every row is served, and the
    final pin is the final head (the totals-verified bump lets the LAST
    sync land the pin no matter the interleaving)."""
    import threading

    from modal_vector_db_spark.sources import versioned as vcat

    db = _mk(spark, tmp_path, f"grw_{_uuid.uuid4().hex[:6]}", versioned=True)
    errs = []

    def _ins(tag):
        try:
            db.insert(
                [{"text": f"race {tag} {i}", "n": 1000 + i, "grp": tag}
                 for i in range(5)],
                embed_field="text",
            )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=_ins, args=(t,)) for t in (71, 72)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    head = vcat.current_version(db.name, db.warehouse)
    assert db._read_hnsw_meta()["base_version"] == head
    for tag in (71, 72):
        got = db.query_graph(f"race {tag} 2", k=3, nprobe=4, ef_search=4096)
        assert any(r.metadata.get("grp") == tag for r in got)


def test_hybrid_graph_channel_matches_ivf_channel(spark, tmp_path):
    """query_hybrid(use_graph_index=True) at full probe + corpus-covering
    ef equals the IVF-channel hybrid at full probe (both vector channels
    exact there, lexical channel identical)."""
    db = _mk(spark, tmp_path, f"ghy_{_uuid.uuid4().hex[:6]}")
    ivf = db.query_hybrid("doc 9 topic 3", k=5, use_index=True, nprobe=4)
    graph = db.query_hybrid(
        "doc 9 topic 3", k=5, use_graph_index=True, nprobe=4, ef_search=4096
    )
    assert [(r.id, round(r.distance, 9)) for r in graph] == [
        (r.id, round(r.distance, 9)) for r in ivf
    ]
    with pytest.raises(ValueError, match="mutually exclusive"):
        db.query_hybrid("x y", k=2, use_index=True, use_graph_index=True)
    # batch twin
    bi = db.query_hybrid_batch(["doc 9 topic 3"], k=5, use_index=True, nprobe=4)
    bg = db.query_hybrid_batch(
        ["doc 9 topic 3"], k=5, use_graph_index=True, nprobe=4, ef_search=4096
    )
    assert sorted((r["id"], round(r["distance"], 9)) for r in bg.collect()) == sorted(
        (r["id"], round(r["distance"], 9)) for r in bi.collect()
    )


def test_graph_over_two_level_ivf(spark, tmp_path):
    """The graph shards by whatever cluster layout create_index wrote —
    including the hierarchical (two-level) IVF, whose nearest_centroids
    returns FINE cluster ids.  Build, serve, and maintain on insert."""
    db = VectorDB(
        spark, f"g2l_{_uuid.uuid4().hex[:6]}", embedding_dim=32,
        warehouse=str(tmp_path / "wh2l"), create_new_table=True,
    )
    db.insert(
        [{"text": f"doc {i} topic {i % 6}", "n": i} for i in range(240)],
        embed_field="text",
    )
    db.create_index(num_clusters=8, two_level=True, coarse_clusters=3)
    db.create_graph_index(calibrate=False)
    exact = db.query("doc 77 topic 5", k=5)
    got = db.query_graph("doc 77 topic 5", k=5, nprobe=8, ef_search=4096)
    assert [(r.id, round(r.distance, 9)) for r in got] == [
        (r.id, round(r.distance, 9)) for r in exact
    ]
    db.insert([{"text": "doc fresh 2l", "n": 777}], embed_field="text")
    hit = db.query_graph("doc fresh 2l", k=1, nprobe=8, ef_search=4096)
    assert hit[0].metadata["n"] == 777


def test_reconcile_graph_heals_missing_and_phantoms(spark, tmp_path):
    """The reconcile_index contract applied to the graph: out-of-band
    base writes leave a loudly-stale epoch; reconcile_graph appends the
    missing rows / drops the phantoms, rebuilds only touched clusters,
    re-pins — no full rebuild."""
    from modal_vector_db_spark.embedders import get_embedder
    from modal_vector_db_spark.schema import ITEMS_SCHEMA
    from modal_vector_db_spark.sources import catalog

    name = f"grc_{_uuid.uuid4().hex[:6]}"
    db = _mk(spark, tmp_path, name)
    wh = db.warehouse
    e = get_embedder("HashingEmbedder", dim=32)

    # MISSING: rows land in the base outside the facade (no graph sync);
    # the indexed base takes them with their cluster assignment
    rows = [
        (f"oob-{i}", json.dumps({"n": 5000 + i}),
         [float(x) for x in e.embed(f"oob text {i}")])
        for i in range(4)
    ]
    catalog.append(
        db._assign_clusters(spark.createDataFrame(rows, ITEMS_SCHEMA)), name, wh,
        partition_by=["cluster_id"],
    )
    with pytest.raises(ValueError, match="rebuild"):
        db.query_graph("oob text 1", k=2)
    assert db.reconcile_graph() == 4
    hit = db.query_graph("oob text 1", k=1, filters={"n": 5001},
                         nprobe=4, ef_search=4096)
    assert hit[0].metadata["n"] == 5001
    assert db.index_stats()["graph"]["graph_fresh"] is True

    # PHANTOM: a base row vanishes outside the facade
    import pyspark.sql.functions as F
    removed = catalog.rewrite_where(
        spark, name, ~F.col("id").startswith("oob-0"), wh
    )
    assert removed == 1
    with pytest.raises(ValueError, match="rebuild"):
        db.query_graph("oob text 0", k=2)
    assert db.reconcile_graph() == 1
    got = db.query_graph("oob text 0", k=10, nprobe=4, ef_search=4096)
    assert "oob-0" not in {r.id for r in got}
    # clean graph: reconcile is a no-op returning 0
    assert db.reconcile_graph() == 0


def test_reconcile_graph_versioned_crash_window(spark, tmp_path):
    """Versioned crash shape: the base CAS commit lands but the graph
    sync never runs (process died).  The epoch pin is loudly stale;
    reconcile_graph converges on the head and re-pins it."""
    from modal_vector_db_spark.sources import versioned as vcat

    db = _mk(spark, tmp_path, f"grv_{_uuid.uuid4().hex[:6]}", versioned=True)
    real = db._sync_graph_for_append
    db._sync_graph_for_append = lambda *a, **k: None  # simulate the crash
    try:
        db.insert([{"text": "crashed row", "n": 4242}], embed_field="text")
    finally:
        db._sync_graph_for_append = real
    with pytest.raises(ValueError, match="rebuild"):
        db.query_graph("crashed row", k=1)
    assert db.reconcile_graph() == 1
    head = vcat.current_version(db.name, db.warehouse)
    assert db._read_hnsw_meta()["base_version"] == head
    hit = db.query_graph("crashed row", k=1, filters={"n": 4242},
                         nprobe=4, ef_search=4096)
    assert hit[0].metadata["n"] == 4242


def test_vacuum_covers_graph_tables(spark, tmp_path):
    """Incremental maintenance gives the versioned graph tables one
    commit per insert — vacuum must reclaim their old versions' files on
    the same retention policy as the base/__text logs."""
    from modal_vector_db_spark.sources import versioned as vcat

    db = _mk(spark, tmp_path, f"gvac_{_uuid.uuid4().hex[:6]}", versioned=True)
    for i in range(3):
        db.insert([{"text": f"vac doc {i}", "n": 8000 + i}], embed_field="text")
    pre = len(vcat.versions(db.name + "__hnsw_nodes", db.warehouse))
    assert pre >= 4  # build + 3 insert syncs
    n = db.vacuum(keep_versions=1, orphan_grace_s=0.0)
    assert n > 0  # reclaimed files include the graph logs' old versions
    # the head graph still serves after the reclaim
    hit = db.query_graph("vac doc 2", k=1, filters={"n": 8002},
                         nprobe=4, ef_search=4096)
    assert hit[0].metadata["n"] == 8002
    assert db.index_stats()["graph"]["graph_fresh"] is True


def test_maintain_index_rebuilds_graph_in_window(spark, tmp_path):
    """maintain_index()'s recluster invalidates the graph (it is sharded
    by the IVF layout) — the maintenance window must rebuild it with the
    recorded build parameters, not leave serving demanding a manual
    rebuild."""
    db = _mk(spark, tmp_path, f"gmw_{_uuid.uuid4().hex[:6]}")
    assert db.query_graph("doc 9 topic 3", k=3)
    assert db.maintain_index(max_cluster_frac=0.0)  # force the rebuild
    meta = db._read_hnsw_meta()
    assert meta is not None and meta["m"] == 8  # rebuilt, same params
    assert meta["ivf_gen"] == db._read_ivf_gen()  # over the NEW layout
    # serves with no manual step; full probe + covering ef is exact
    got = db.query_graph("doc 9 topic 3", k=3, nprobe=4, ef_search=4096)
    exact = db.query("doc 9 topic 3", k=3)
    assert [r.id for r in got] == [r.id for r in exact]


def test_compact_and_zorder_keep_graph_servable(spark, tmp_path):
    """Review finding: compact()/optimize_zorder() are layout-only
    replace commits (content byte-identical) — they must re-pin the graph
    epoch like the text ledger's mark-unchanged, not leave a valid graph
    demanding a rebuild."""
    from modal_vector_db_spark.sources import versioned as vcat

    name = f"gcz_{_uuid.uuid4().hex[:6]}"
    db = VectorDB(
        spark, name, embedding_dim=32, warehouse=str(tmp_path / "whcz"),
        create_new_table=True, versioned=True, stats_fields={"n": "double"},
    )
    db.insert(
        [{"text": f"doc {i} topic {i % 6}", "n": i} for i in range(200)],
        embed_field="text",
    )
    db.create_index(num_clusters=4)
    db.create_graph_index(calibrate=False)
    before = [(r.id, round(r.distance, 9))
              for r in db.query_graph("doc 8 topic 2", k=5, nprobe=4,
                                      ef_search=4096)]
    db.compact()
    assert db._read_hnsw_meta()["base_version"] == vcat.current_version(
        db.name, db.warehouse
    )
    db.optimize_zorder(["n"])
    got = [(r.id, round(r.distance, 9))
           for r in db.query_graph("doc 8 topic 2", k=5, nprobe=4,
                                   ef_search=4096)]
    assert got == before  # served across both commits, identical rows


def test_load_from_parquet_builds_graph_opt_in(spark, tmp_path):
    """Reference parity: load_from_parquet is what creates the HNSW index
    in the reference flow (duckvdb.py:37-45) — build_graph_index=True
    builds the graph over the fresh layout; the flag demands
    build_index=True (the IVF layout is the sharding)."""
    import numpy as np

    db = _mk(spark, tmp_path, f"glp_{_uuid.uuid4().hex[:6]}", n=60)
    rng = np.random.default_rng(5)
    src = spark.createDataFrame(
        [(f"p-{i}", json.dumps({"n": i}),
          [float(x) for x in rng.standard_normal(32)]) for i in range(120)],
        "id string, metadata string, embedding array<float>",
    )
    p = str(tmp_path / "bulk.parquet")
    src.write.parquet(p)
    with pytest.raises(ValueError, match="requires build_index"):
        db.load_from_parquet(p, build_index=False, build_graph_index=True)
    db.load_from_parquet(p, build_graph_index=True)
    got = db.query_graph([float(x) for x in rng.standard_normal(32)], k=5)
    assert len(got) == 5  # serves immediately, no manual create_graph_index


def test_reconcile_index_heals_graph_too(spark, tmp_path):
    """One repair call heals every derived structure: reconcile_index()
    on a table whose graph sync crashed (base committed, graph pin
    stale) repairs the graph as well."""
    db = _mk(spark, tmp_path, f"gri_{_uuid.uuid4().hex[:6]}", versioned=True)
    real = db._sync_graph_for_append
    db._sync_graph_for_append = lambda *a, **k: None  # crash shape
    try:
        db.insert([{"text": "late row", "n": 31337}], embed_field="text")
    finally:
        db._sync_graph_for_append = real
    # the base (and so the IVF layout) committed, but the graph pin is
    # stale
    with pytest.raises(ValueError, match="rebuild"):
        db.query_graph("late row", k=1)
    assert db.reconcile_index() == 1  # the healed graph row
    hit = db.query_graph("late row", k=1, filters={"n": 31337},
                         nprobe=4, ef_search=4096)
    assert hit[0].metadata["n"] == 31337
