"""Materialized inverted text index (engine.create_text_index +
operators/hybrid.py:{build_text_postings,bm25_from_postings}).

The load-bearing property: the indexed lexical channel is EXPRESSION-
IDENTICAL to the per-query corpus scan — same tokenization, same integer-
valued inputs, one shared BM25 contribution expression — so
query_hybrid(use_text_index=True) returns byte-for-byte the scan path's
results while reading only the query terms' bucket partitions."""

from __future__ import annotations

import pytest

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import catalog

_VOCAB = "spark merge window scan join table row batch key value".split()


def _mk(spark, tmp_path, name, n=60, **kw):
    db = VectorDB(
        spark, name, embedding_dim=16, warehouse=str(tmp_path),
        create_new_table=True, **kw,
    )
    rows = [
        {
            "text": " ".join(_VOCAB[(i * 7 + j) % len(_VOCAB)] for j in range(3 + i % 5)),
            "n": i,
        }
        for i in range(n)
    ]
    db.insert(rows, embed_field="text")
    return db


def _results(db, q, **kw):
    return [(r.id, r.distance) for r in db.query_hybrid(q, k=5, **kw)]


@pytest.mark.slow
def test_indexed_hybrid_equals_scan_and_stays_synced(spark, tmp_path):
    db = _mk(spark, tmp_path, "ti")
    db.create_text_index()
    for q in ("spark merge window", "table row", "key value scan join"):
        assert _results(db, q, use_text_index=True) == _results(db, q)

    # inserts keep postings AND calibration stats exactly in sync
    db.insert(
        [{"text": "spark spark merge spark", "n": 1000 + i} for i in range(5)],
        embed_field="text",
    )
    for q in ("spark merge", "window batch"):
        assert _results(db, q, use_text_index=True) == _results(db, q)
    # replaying the same insert is a no-op for postings and stats
    meta_before = db._read_text_meta()
    db.insert(
        [{"text": "spark spark merge spark", "n": 1000 + i} for i in range(5)],
        embed_field="text",
    )
    assert db._read_text_meta() == meta_before
    assert _results(db, "spark merge", use_text_index=True) == _results(db, "spark merge")


def test_versioned_cas_insert_syncs_text_index(spark, tmp_path):
    """On a versioned table the insert path is the CAS loop — the text
    sync runs after the commit and the indexed channel still equals the
    scan channel."""
    db = _mk(spark, tmp_path, "tiv", n=40, versioned=True)
    db.create_text_index()
    db.insert(
        [{"text": "merge window merge", "n": 2000 + i} for i in range(4)],
        embed_field="text",
    )
    assert _results(db, "merge window", use_text_index=True) == _results(
        db, "merge window"
    )


@pytest.mark.slow
def test_fully_indexed_hybrid_equals_exact_at_full_probe(spark, tmp_path):
    """use_index + use_text_index: neither channel scans the corpus; with
    nprobe == num_clusters the candidate set is complete, so the fused
    result equals the all-scan path exactly."""
    db = _mk(spark, tmp_path, "tifx")
    db.create_text_index()
    db.create_index(num_clusters=4)
    for q in ("spark merge window", "table row key"):
        exact = _results(db, q)
        both = [
            (r.id, r.distance)
            for r in db.query_hybrid(
                q, k=5, use_text_index=True, use_index=True, nprobe=4
            )
        ]
        assert both == exact
    # small nprobe is approximate but still serves k results
    assert len(db.query_hybrid("spark merge", k=5, use_index=True, nprobe=1)) == 5
    with pytest.raises(ValueError, match="versioned"):
        db.query_hybrid("spark", use_index=True, version=1)  # plain table


def test_indexed_lexical_plan_prunes_buckets(spark, tmp_path):
    from modal_vector_db_spark.operators.hybrid import bm25_from_postings

    db = _mk(spark, tmp_path, "tiplan")
    db.create_text_index(buckets=16)
    postings = catalog.read_table(spark, "tiplan__text", str(tmp_path))
    meta = db._read_text_meta()
    lex = bm25_from_postings(
        postings, ["spark"], n=float(meta["n"]),
        avgdl=meta["dl_sum"] / meta["n"], id_col="id", buckets=16,
    )
    plan = lex._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan, plan[:1500]


@pytest.mark.slow
def test_text_index_guards(spark, tmp_path):
    db = _mk(spark, tmp_path, "tig", n=30)
    with pytest.raises(ValueError, match="create_text_index"):
        db.query_hybrid("spark", use_text_index=True)
    db.create_text_index()
    with pytest.raises(ValueError, match="filters"):
        db.query_hybrid("spark", use_text_index=True, filters={"n": 1})
    with pytest.raises(ValueError, match="rebuild"):
        db.query_hybrid("spark", use_text_index=True, text_field="other")

    # takedown/relabel-sized mutations now maintain the index IN PLACE
    # (postings shrink + exact stats delta; update re-adds patched rows
    # through the replay-safe insert sync) — still byte-equal to the scan
    # path; MASS mutations drop it for rebuild instead of drifting
    db.delete({"n": 3})
    assert _results(db, "spark merge", use_text_index=True) == _results(db, "spark merge")
    db.update({"n": 4}, {"tag": "x"})
    assert _results(db, "spark merge", use_text_index=True) == _results(db, "spark merge")
    db._TEXT_DELETE_SYNC_MAX = 0
    db.update({"n": 5}, {"tag": "y"})
    with pytest.raises(ValueError, match="create_text_index"):
        db.query_hybrid("spark", use_text_index=True)
    # rebuilt index over the mutated corpus matches the scan again
    db.create_text_index()
    assert _results(db, "spark merge", use_text_index=True) == _results(db, "spark merge")


@pytest.mark.slow
def test_hybrid_batch_matches_per_query(spark, tmp_path):
    """query_hybrid_batch: each q_id's rows are IDENTICAL (id + fused
    score) to the single-query query_hybrid — on the scan channels, the
    postings channel, the IVF vector channel, and both index channels
    together (the no-corpus-scan shape)."""
    db = _mk(spark, tmp_path, "tib")
    queries = ["spark merge window", "table row", "key value scan join"]

    def batch(**kw):
        rows = db.query_hybrid_batch(queries, k=5, **kw).collect()
        out = {i: [] for i in range(len(queries))}
        for r in sorted(rows, key=lambda r: (r["q_id"], -r["distance"], r["id"])):
            out[r["q_id"]].append((r["id"], r["distance"]))
        return out

    got = batch()
    for i, q in enumerate(queries):
        assert got[i] == _results(db, q), f"scan-path mismatch for {q!r}"

    db.create_text_index()
    db.create_index(num_clusters=2)
    got = batch(use_text_index=True)
    for i, q in enumerate(queries):
        assert got[i] == _results(db, q, use_text_index=True)
    # full probe: IVF channel exact -> equals the single-query indexed run
    got = batch(use_index=True, nprobe=2)
    for i, q in enumerate(queries):
        assert got[i] == _results(db, q, use_index=True, nprobe=2)
    got = batch(use_text_index=True, use_index=True, nprobe=2)
    for i, q in enumerate(queries):
        assert got[i] == _results(db, q, use_text_index=True, use_index=True, nprobe=2)

    with pytest.raises(ValueError, match="non-empty"):
        db.query_hybrid_batch(["   "])
    # a MIXED batch with one termless query must raise too (the single-
    # query twin raises; silently degrading that q_id to vector-only
    # rows would hide caller bugs — review finding)
    with pytest.raises(ValueError, match=r"positions \[0\]"):
        db.query_hybrid_batch(["", "spark merge"])


def test_delete_shrinks_text_index_incrementally(spark, tmp_path):
    """Takedown-sized deletes keep the text index: postings for doomed docs
    are removed by a file-pruned rewrite and the calibration stats get the
    EXACT decrement — post-delete indexed scores stay byte-equal to the
    scan path, and the sidecar equals an independent recompute over the
    surviving corpus.  Mass deletes (past _TEXT_DELETE_SYNC_MAX) and a
    failed base rewrite after the shrink still drop the index (loud)."""
    from pyspark.sql import functions as F

    db = _mk(spark, tmp_path, "tidel")
    db.create_text_index()
    assert db.delete({"n": ("<", 7)}) == 7

    # index survived and is still score-exact vs the scan path
    assert catalog.table_exists(db.name + "__text", db.warehouse)
    for q in ("spark merge window", "key value scan join"):
        assert _results(db, q, use_text_index=True) == _results(db, q)

    # sidecar == independent recompute over the surviving docs
    meta = db._read_text_meta()
    row = (
        db._text_docs(db.items(), "text")
        .select(F.split("text", " ").alias("s"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.size("s")).alias("dl"))
        .head()
    )
    assert meta["n"] == int(row["n"]) and meta["dl_sum"] == int(row["dl"])

    # zero-match delete: index untouched
    assert db.delete({"n": ("<", -1)}) == 0
    assert db._read_text_meta() == meta

    # mass delete falls back to rebuild-loudly
    db2 = _mk(spark, tmp_path, "tidel2", n=30)
    db2.create_text_index()
    db2._TEXT_DELETE_SYNC_MAX = 3
    assert db2.delete({"n": ("<", 10)}) == 10
    assert not catalog.table_exists(db2.name + "__text", db2.warehouse)

    # failed base rewrite AFTER the postings shrink drops the index
    import unittest.mock as mock

    db3 = _mk(spark, tmp_path, "tidel3", n=20)
    db3.create_text_index()
    orig = catalog.rewrite_where

    def boom(spark_, name, keep, warehouse=None, **kw):
        if name == db3.name:
            raise RuntimeError("injected base-commit failure")
        return orig(spark_, name, keep, warehouse, **kw)

    with mock.patch.object(catalog, "rewrite_where", side_effect=boom):
        with pytest.raises(RuntimeError, match="injected"):
            db3.delete({"n": ("<", 5)})
    assert not catalog.table_exists(db3.name + "__text", db3.warehouse)


@pytest.mark.slow
def test_update_maintains_text_index_incrementally(spark, tmp_path):
    """update() = delete+insert to the text index: matched rows' postings
    shrink, patched rows re-add via the replay-safe sync (collapse-into-
    surviving-content lands exactly once) — post-update indexed scores
    byte-equal to the scan path, sidecar equals an independent recompute.
    reembed() keeps the index entirely (ids and text unchanged)."""
    from pyspark.sql import functions as F

    db = _mk(spark, tmp_path, "tiupd")
    db.create_text_index()

    def check(tag):
        for q in ("spark merge window", "key value scan join"):
            assert _results(db, q, use_text_index=True) == _results(db, q), (tag, q)
        meta = db._read_text_meta()
        row = (
            db._text_docs(db.items(), "text")
            .select(F.split("text", " ").alias("s"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.size("s")).alias("dl"))
            .head()
        )
        assert meta["n"] == int(row["n"]) and meta["dl_sum"] == int(row["dl"]), tag

    # metadata-only relabel (text unchanged, ids re-keyed)
    assert db.update({"n": ("<", 4)}, {"tag": "relabeled"}) == 4
    check("relabel")

    # patch that CHANGES the indexed text field
    assert db.update({"n": 10}, {"text": "spark spark spark brand new"}) == 1
    check("text-change")

    # collapse: make one row's content identical to another surviving row
    rows = db.items().select("metadata").limit(2).collect()
    import json as _json

    m0 = _json.loads(rows[0]["metadata"])
    tgt = _json.loads(rows[1]["metadata"])
    before = db.num_rows()
    db.update({"n": tgt["n"]}, {k: m0.get(k) for k in set(m0) | set(tgt)})
    assert db.num_rows() == before - 1  # two rows collapsed into one
    check("collapse")

    # reembed: same ids, same text -> the index survives untouched
    meta_before = db._read_text_meta()
    db.reembed(embedding_dim=24)
    assert db._read_text_meta() == meta_before
    check("reembed")


@pytest.mark.slow
def test_update_distributed_plan_maintains_text_index(spark, tmp_path, monkeypatch):
    """The same incremental maintenance on ``update``'s distributed plan
    (the driver ceiling at 0)."""
    monkeypatch.setattr(VectorDB, "_UPDATE_DRIVER_MAX_ROWS", 0)
    test_update_maintains_text_index_incrementally(spark, tmp_path)


def test_update_base_failure_drops_text_index(spark, tmp_path):
    """The whole update() derived-store + base sequence is ONE protected
    region: a failure in the base rewrite of an indexed table (after the
    text shrink ran) must drop the text index — never leave a silently
    inconsistent one (review finding)."""
    import unittest.mock as mock

    db = _mk(spark, tmp_path, "tiuf", n=20)
    db.create_text_index()
    db.create_index(num_clusters=2)
    orig = catalog.replace_where

    def boom(spark_, name, pred, repl, warehouse=None, **kw):
        if name == db.name:
            raise RuntimeError("injected base-rewrite failure")
        return orig(spark_, name, pred, repl, warehouse, **kw)

    with mock.patch.object(catalog, "replace_where", side_effect=boom):
        with pytest.raises(RuntimeError, match="injected"):
            db.update({"n": 3}, {"tag": "x"})
    assert not catalog.table_exists(db.name + "__text", db.warehouse)
    assert catalog.table_exists(db.name + "__ivf_centroids", db.warehouse)
    # base unchanged: the row is still there
    assert db.query("spark", k=3)
