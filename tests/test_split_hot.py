"""Incremental recluster (round 12): ``maintain_index(split_hot=True)``
splits ONLY the oversized IVF cluster in place — file-pruned partition
rewrite, in-place child centroids, graph-shard + centroid-generation
migration in the same window — instead of the full create_index rebuild.
"""

from __future__ import annotations

import os
import uuid as _uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.engine import VectorDB
from modal_vector_db_spark.sources import catalog


# Long-tail suite (round-13): deselected by default via pytest.ini (-m "not slow");
# run everything with  python -m pytest tests/ -m "" -q
pytestmark = pytest.mark.slow


def _centroid(db, cid: int) -> np.ndarray:
    rows = (
        db.spark.read.parquet(
            catalog.db_path(db.name + "__ivf_centroids", db.warehouse)
        )
        .filter(F.col("cluster_id") == cid)
        .collect()
    )
    return np.asarray(rows[0]["centroid"], dtype=np.float64)


def _skew(db, cid: int, n: int = 120, dim: int = 16):
    """Insert n rows as two separable sub-clouds around centroid ``cid``
    — they all assign to that cluster, and k-means can split them
    cleanly."""
    c = _centroid(db, cid)
    rng = np.random.default_rng(7)
    delta = np.zeros(dim)
    delta[0] = 0.25 * (np.linalg.norm(c) or 1.0)
    metas, vecs = [], []
    for i in range(n):
        side = 1.0 if i % 2 else -1.0
        v = c + side * delta + rng.normal(0, 0.01, dim)
        metas.append({"skew": i, "c": int(cid), "side": int(side)})
        vecs.append(v.astype(np.float32))
    db.insert(metas, embeddings=vecs)


def _hot_cluster(db) -> int:
    per = {
        int(c): n
        for c, n in db._ivf_cluster_rows().items()
        if str(c).lstrip("-").isdigit()
    }
    return max(per.items(), key=lambda t: t[1])[0]


def _ivf_partition_inodes(db, exclude: set[int]) -> dict:
    base = catalog.db_path(db.name, db.warehouse)
    out = {}
    for entry in os.listdir(base):
        p = os.path.join(base, entry)
        if not entry.startswith("cluster_id=") or not os.path.isdir(p):
            continue
        try:
            cid = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        if cid in exclude:
            continue
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                out[(cid, f)] = os.stat(os.path.join(p, f)).st_ino
    return out


def test_split_hot_restores_balance_touching_only_hot_partition(spark, tmp_path):
    """The skewed-insert fixture: split_hot brings max_cluster_frac back
    under threshold, rewrites ONLY the hot partition (untouched
    partitions keep their inodes — the file-pruned spy), grows the
    centroid table in place, and full-probe serving stays exact."""
    db = VectorDB(
        spark, f"split_{_uuid.uuid4().hex[:6]}", embedding_dim=16,
        warehouse=str(tmp_path), create_new_table=True,
    )
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=4, calibrate=False)
    hot = _hot_cluster(db)
    _skew(db, hot)
    stats = db.index_stats()
    assert stats["max_cluster_frac"] > 0.5
    k_before = stats["clusters_total"]

    before = _ivf_partition_inodes(db, exclude={hot})
    assert db.maintain_index(max_cluster_frac=0.5, split_hot=True) is True
    stats2 = db.index_stats()
    assert stats2["max_cluster_frac"] <= 0.5, stats2
    assert stats2["clusters_total"] > k_before
    assert stats2["rows"] == stats["rows"]  # content preserved
    # file-pruned: every partition except the hot one kept its inodes
    new_ids = set(range(k_before, stats2["clusters_total"]))
    after = _ivf_partition_inodes(db, exclude={hot} | new_ids)
    assert before == after

    # balanced layout: a second call is a no-op
    assert db.maintain_index(max_cluster_frac=0.5, split_hot=True) is False
    # serving equality at full probe (exactness is probe-coverage-based)
    exact = db.query("41", k=5)
    got = db.query("41", k=5, use_index=True, nprobe=stats2["clusters_total"])
    assert [r.id for r in got] == [r.id for r in exact]
    # the split rows themselves still retrievable
    skew_exact = db.query("zzz", k=5)
    skew_got = db.query("zzz", k=5, use_index=True, nprobe=stats2["clusters_total"])
    assert [r.id for r in skew_got] == [r.id for r in skew_exact]


def test_split_hot_versioned_migrates_graph_pq_and_history(spark, tmp_path):
    """Versioned + PQ + graph: the split migrates the graph shards and
    generation pin in the same window (query_graph keeps serving with NO
    rebuild), preserves PQ codes, resets the time-travel history to the
    post-split head, and keeps full-probe serving exact."""
    from modal_vector_db_spark.sources import versioned as vcat

    db = VectorDB(
        spark, f"splitv_{_uuid.uuid4().hex[:6]}", embedding_dim=16,
        warehouse=str(tmp_path), create_new_table=True, versioned=True,
    )
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=4, pq_m=4, calibrate=False)
    db.create_graph_index(calibrate=False)
    hot = _hot_cluster(db)
    _skew(db, hot)
    assert db.index_stats()["max_cluster_frac"] > 0.5

    assert db.maintain_index(max_cluster_frac=0.5, split_hot=True) is True
    stats = db.index_stats()
    assert stats["max_cluster_frac"] <= 0.5
    # graph survived the recluster: fresh pin, serving equals exact scan
    assert stats["graph"]["graph_fresh"] is True
    k_all = stats["clusters_total"]
    exact = db.query("17", k=5)
    graph = db.query_graph("17", k=5, nprobe=k_all, ef_search=8192)
    assert [(r.id, round(r.distance, 9)) for r in graph] == [
        (r.id, round(r.distance, 9)) for r in exact
    ]
    # PQ codes preserved: compressed serving at generous refine == exact
    comp = db.query("17", k=5, use_index=True, compressed=True,
                    nprobe=k_all, refine_factor=64)
    assert [r.id for r in comp] == [r.id for r in exact]
    # history reset to the post-split head only (old pairs = old geometry)
    head = vcat.current_version(db.name, db.warehouse)
    assert db.index_stats()["time_travel_versions"] == [head]
    # maintenance writes keep the graph maintainable: a later insert
    # syncs incrementally and still serves
    db.insert([{"text": "post split probe", "n": 9001}], embed_field="text")
    got = db.query_graph("post split probe", k=2, nprobe=k_all, ef_search=8192)
    assert any(r.metadata.get("n") == 9001 for r in got)


def test_split_hot_two_level_falls_back_to_rebuild(spark, tmp_path, monkeypatch):
    """Two-level layouts fall back to the full rebuild (their fine
    centroids are per-shard artifacts — the split IS the rebuild there)."""
    db = VectorDB(
        spark, f"split2l_{_uuid.uuid4().hex[:6]}", embedding_dim=16,
        warehouse=str(tmp_path), create_new_table=True,
    )
    db.insert([{"n": i} for i in range(60)], embed_field="n")
    db.create_index(num_clusters=6, two_level=True, calibrate=False)

    calls = {}
    real = VectorDB.create_index

    def spy(self, num_clusters=16, pq_m=None, two_level=False, coarse_clusters=None):
        calls["two_level"] = two_level
        return real(self, num_clusters=num_clusters, pq_m=pq_m,
                    two_level=two_level, coarse_clusters=coarse_clusters)

    monkeypatch.setattr(VectorDB, "create_index", spy)
    assert db.maintain_index(max_cluster_frac=0.0, split_hot=True) is True
    assert calls["two_level"] is True


def test_split_stops_loud_on_duplicate_heavy_cluster(spark, tmp_path, caplog):
    """A hot cluster dominated by IDENTICAL vectors cannot be balanced by
    any recluster (identical points share one cell): the splitter detects
    no-progress rounds, stops EARLY with a loud warning instead of
    shaving one-row children forever, and serving stays exact."""
    import logging

    db = VectorDB(
        spark, f"splitd_{_uuid.uuid4().hex[:6]}", embedding_dim=16,
        warehouse=str(tmp_path), create_new_table=True,
    )
    db.insert([{"n": i} for i in range(30)], embed_field="n")
    db.create_index(num_clusters=3, calibrate=False)
    hot = _hot_cluster(db)
    c = _centroid(db, hot)
    db.insert(
        [{"dup": i} for i in range(90)],
        embeddings=[c.astype(np.float32)] * 90,
    )
    assert db.index_stats()["max_cluster_frac"] > 0.5
    with caplog.at_level(logging.WARNING):
        db.maintain_index(max_cluster_frac=0.5, split_hot=True)
    assert any("cannot be balanced" in r.message for r in caplog.records)
    stats = db.index_stats()
    # bounded growth: the no-progress stop fires within a round or two of
    # the duplicates isolating — never the full round budget of children
    assert stats["clusters_total"] <= 3 + 2 * 4
    k_all = stats["clusters_total"]
    exact = db.query("5", k=5)
    got = db.query("5", k=5, use_index=True, nprobe=k_all)
    assert [r.id for r in got] == [r.id for r in exact]


def test_two_hot_clusters_both_split(spark, tmp_path):
    """Review finding: the no-progress stop must track progress PER
    cluster — two independently hot clusters each get their split."""
    db = VectorDB(
        spark, f"split2_{_uuid.uuid4().hex[:6]}", embedding_dim=16,
        warehouse=str(tmp_path), create_new_table=True,
    )
    db.insert([{"n": i} for i in range(40)], embed_field="n")
    db.create_index(num_clusters=4, calibrate=False)
    per = {
        int(c): n for c, n in db._ivf_cluster_rows().items()
        if str(c).lstrip("-").isdigit()
    }
    two = sorted(per, key=lambda c: -per[c])[:2]
    _skew(db, two[0], n=120)
    _skew(db, two[1], n=110)
    stats = db.index_stats()
    assert stats["max_cluster_frac"] > 0.3
    assert db.maintain_index(max_cluster_frac=0.3, split_hot=True) is True
    stats2 = db.index_stats()
    assert stats2["max_cluster_frac"] <= 0.3, stats2
    assert stats2["rows"] == stats["rows"]
    k_all = stats2["clusters_total"]
    exact = db.query("17", k=5)
    got = db.query("17", k=5, use_index=True, nprobe=k_all)
    assert [r.id for r in got] == [r.id for r in exact]
