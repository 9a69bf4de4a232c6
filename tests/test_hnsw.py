"""Per-partition HNSW graph index (operators/hnsw.py): recall vs the
exact scan, sub-scan distance-evaluation counts (the reason a graph
index exists), build determinism under partitioning, and the edge
policies (NULL vectors, empty/missing groups, pruned serving)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.hnsw import (
    _normalize,
    build_hnsw,
    hnsw_search_cluster,
    hnsw_topk,
    hnsw_topk_multi,
)


def _synth(n, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim))


@pytest.fixture(scope="module")
def corpus(spark):
    x = _synth(1200)
    rows = [(i, i % 3, [float(v) for v in x[i]]) for i in range(len(x))]
    df = spark.createDataFrame(
        rows, "vec_id long, cluster_id int, embedding array<double>"
    ).persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def graph(corpus):
    g = build_hnsw(corpus, m=8, ef_construction=64).persist()
    g.count()
    return g


def _exact(corpus_rows, q, k=10):
    ids = np.array([r[0] for r in corpus_rows])
    x = _normalize(np.stack([np.asarray(r[2]) for r in corpus_rows]))
    qn = np.asarray(q) / (np.linalg.norm(q) or 1.0)
    d = 1.0 - x @ qn
    order = np.lexsort((ids, d))
    return [int(ids[i]) for i in order[:k]]


def test_recall_and_global_order(spark, corpus, graph):
    rows = corpus.collect()
    recalls = []
    for qi in (0, 17, 400):
        q = rows[qi][2]
        gold = _exact(rows, q)
        got = [r["vec_id"] for r in hnsw_topk(graph, corpus, q, k=10, ef_search=80).collect()]
        assert len(got) == 10
        recalls.append(len(set(got) & set(gold)) / 10)
        # output ordered by (distance, id)
        ds = [r["distance"] for r in hnsw_topk(graph, corpus, q, k=10, ef_search=80).collect()]
        assert ds == sorted(ds)
    assert np.mean(recalls) >= 0.9, recalls


def test_search_touches_far_fewer_vectors_than_a_scan():
    """The graph's reason to exist: high recall at O(ef log n) distance
    evaluations, not O(n).  One 2000-vector cluster, ef=64: >= 0.9
    recall@10 while evaluating < a third of the corpus."""
    from modal_vector_db_spark.operators.hnsw import _build_cluster

    x = _normalize(_synth(2000, seed=11))
    ids = np.arange(2000, dtype=np.int64)
    layers = _build_cluster(ids, x, m=8, ef_c=64)
    adj_rows = [
        (int(ids[i]), lc, [int(ids[v]) for v in neigh])
        for lc, lay in layers.items()
        for i, neigh in lay.items()
    ]
    recalls, evals = [], []
    for qi in (5, 123, 999):
        q = x[qi]
        gold = set(np.lexsort((ids, 1.0 - x @ q))[:10].tolist())
        top, n_evals = hnsw_search_cluster(ids, x, adj_rows, q, k=10, ef_search=64)
        recalls.append(len({v for _, v in top} & gold) / 10)
        evals.append(n_evals)
    assert np.mean(recalls) >= 0.9, recalls
    assert max(evals) < 2000 / 3, evals  # sub-scan serving cost


def test_build_deterministic_under_partitioning(spark, corpus):
    def rows(df):
        return {
            (r["cluster_id"], r["vec_id"], r["layer"], tuple(r["neighbors"]))
            for r in build_hnsw(df, m=6, ef_construction=32).collect()
        }

    assert rows(corpus.repartition(1)) == rows(corpus.repartition(7))


def test_probed_serving_and_edge_policies(spark, corpus, graph):
    rows = corpus.collect()
    q = rows[42][2]
    # pruned serving: only the probed cluster's vectors can appear
    got = hnsw_topk_multi(graph, corpus, [q], k=5, ef_search=32, probes_per_query={0: [0]}).collect()
    ids = {r["vec_id"] for r in got}
    assert ids and all(i % 3 == 0 for i in ids)
    # NULL vectors are excluded from the graph, not a crash
    withnull = corpus.unionByName(
        spark.createDataFrame([(99999, 0, None)], corpus.schema)
    )
    g2 = build_hnsw(withnull, m=6, ef_construction=32)
    assert g2.filter(F.col("vec_id") == 99999).count() == 0
    out = hnsw_topk(g2, withnull, q, k=3, ef_search=32).collect()
    assert len(out) == 3 and 99999 not in {r["vec_id"] for r in out}
    with pytest.raises(ValueError, match="m must be"):
        build_hnsw(corpus, m=1)


@pytest.mark.slow
def test_engine_graph_index_facade(spark, tmp_path):
    """create_graph_index/query_graph: full-probe graph equals the exact
    query; pruned serving stays within probed clusters; staleness and
    missing prerequisites are loud; drop removes the artifact."""
    import uuid as _uuid

    from modal_vector_db_spark.engine import VectorDB

    wh = str(tmp_path / f"wh_{_uuid.uuid4().hex[:8]}")
    db = VectorDB(
        spark, "hnswt", embedding_dim=32, warehouse=wh, create_new_table=True
    )
    db.insert(
        [{"text": f"document number {i} about {i % 11}", "n": i} for i in range(300)]
    )
    with pytest.raises(ValueError, match="IVF layout"):
        db.create_graph_index()
    db.create_index(num_clusters=4)
    db.create_graph_index(m=8, ef_construction=64)

    exact = db.query("document number 123", k=5)
    got = db.query_graph("document number 123", k=5, ef_search=96, nprobe=4)
    assert [r.id for r in got] == [r.id for r in exact]
    assert [round(r.distance, 9) for r in got] == [
        round(r.distance, 9) for r in exact
    ]
    assert isinstance(got[0].metadata, dict)

    # incremental maintenance: an insert is served with NO rebuild — the
    # sync re-builds only the touched clusters and advances the epoch pin,
    # and the full-probe/corpus-covering-ef exactness pin still holds
    db.insert([{"text": "fresh doc", "n": 999}])
    exact = db.query("fresh doc", k=5)
    got = db.query_graph("fresh doc", k=5, nprobe=4, ef_search=1024)
    assert [(r.id, round(r.distance, 9)) for r in got] == [
        (r.id, round(r.distance, 9)) for r in exact
    ]
    # the new row is reachable in the maintained graph (filtered beam)
    hit = db.query_graph("fresh doc", k=1, filters={"n": 999}, nprobe=4,
                         ef_search=1024)
    assert len(hit) == 1 and hit[0].metadata["n"] == 999

    # index drop removes the graph artifact too
    db._drop_index_tables()
    with pytest.raises(ValueError, match="create_graph_index"):
        db.query_graph("x", k=1)


def test_multi_query_matches_per_query(spark, corpus, graph):
    """hnsw_topk_multi == a loop of hnsw_topk over each query's probed
    clusters, per query — one cogroup job instead of Q."""
    rows = corpus.collect()
    qs = [rows[7][2], rows[250][2], rows[900][2]]
    probes = {0: [0, 1, 2], 1: [1], 2: [0, 2]}
    multi = hnsw_topk_multi(
        graph, corpus, qs, k=5, ef_search=48, probes_per_query=probes
    ).collect()
    got = {}
    for r in multi:
        got.setdefault(r["q_id"], []).append((r["distance"], r["vec_id"]))
    for qi, q in enumerate(qs):
        single = [
            (r["distance"], r["vec_id"])
            for r in hnsw_topk(
                graph.filter(F.col("cluster_id").isin(probes[qi])),
                corpus.filter(F.col("cluster_id").isin(probes[qi])),
                q, k=5, ef_search=48,
            ).collect()
        ]
        assert sorted(got[qi]) == single, qi


@pytest.mark.slow
def test_engine_graph_batch(spark, tmp_path):
    from modal_vector_db_spark.engine import VectorDB

    db = VectorDB(
        spark, "hnswb", embedding_dim=32,
        warehouse=str(tmp_path / "whb"), create_new_table=True,
    )
    db.insert([{"text": f"doc {i} topic {i % 7}", "n": i} for i in range(200)])
    db.create_index(num_clusters=4)
    db.create_graph_index()
    out = db.query_graph_batch(["doc 3 topic 3", "doc 150 topic 3"], k=4, nprobe=4)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == {0, 1} and all(len(v) == 4 for v in per_q.values())
    # matches the single-query graph path at the same settings
    single = db.query_graph("doc 3 topic 3", k=4, nprobe=4)
    got0 = sorted((round(r["distance"], 9), r["id"]) for r in per_q[0])
    want0 = sorted((round(r.distance, 9), r.id) for r in single)
    assert got0 == want0


def test_heuristic_selection_navigates_clustered_data():
    """Algorithm 4's reason to exist: on blob-clustered vectors, plain
    M-nearest selection forms intra-blob cliques with no long-range
    edges and greedy search strands in the entry's blob.  The heuristic
    graph must reach >= 0.9 recall@10 across blobs."""
    from modal_vector_db_spark.operators.hnsw import _build_cluster

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((20, 16)) * 6
    x = _normalize(
        np.concatenate([c + rng.standard_normal((100, 16)) for c in centers])
    )
    ids = np.arange(len(x), dtype=np.int64)
    layers = _build_cluster(ids, x, m=8, ef_c=64)
    adj = [
        (int(ids[i]), lc, [int(ids[v]) for v in neigh])
        for lc, lay in layers.items()
        for i, neigh in lay.items()
    ]
    recalls = []
    for qi in (3, 512, 1101, 1777):
        q = x[qi]
        gold = set(np.lexsort((ids, 1.0 - x @ q))[:10].tolist())
        top, _ = hnsw_search_cluster(ids, x, adj, q, k=10, ef_search=64)
        recalls.append(len({v for _, v in top} & gold) / 10)
    assert np.mean(recalls) >= 0.9, recalls


@pytest.mark.slow
def test_recluster_invalidates_graph(spark, tmp_path):
    """Review finding: create_index() -> create_graph_index() ->
    create_index(recluster) leaves the BASE table untouched, so the
    base_version/rows epoch pins pass — but the graph is sharded by the
    OLD cluster geometry and new-centroid probes would silently filter
    the wrong partitions.  The recluster must invalidate the graph
    (in-band drop), and the generation stamp must catch a graph that
    somehow survives it."""
    import shutil
    import uuid as _uuid

    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.sources import catalog

    wh = str(tmp_path / f"wh_{_uuid.uuid4().hex[:8]}")
    db = VectorDB(
        spark, "hnswg", embedding_dim=32, warehouse=wh, create_new_table=True
    )
    db.insert([{"text": f"doc {i} about {i % 5}", "n": i} for i in range(200)])
    db.create_index(num_clusters=4)
    db.create_graph_index()
    assert len(db.query_graph("doc 7 about 2", k=3)) == 3

    # stash the graph artifacts to simulate one surviving the drop
    stash = tmp_path / "stash"
    stash.mkdir()
    for suffix in ("__hnsw", "__hnsw_nodes"):
        shutil.copytree(
            catalog.db_path("hnswg" + suffix, wh), str(stash / suffix)
        )
    meta_blob = open(db._hnsw_meta_path(), "rb").read()

    db.create_index(num_clusters=6)  # recluster: base untouched
    # in-band drop: the graph is gone, loudly
    with pytest.raises(ValueError, match="create_graph_index"):
        db.query_graph("doc 7 about 2", k=3)

    # defense-in-depth: restore the stale artifacts (crash/retry shape) —
    # the generation stamp still refuses them
    for suffix in ("__hnsw", "__hnsw_nodes"):
        shutil.copytree(
            str(stash / suffix), catalog.db_path("hnswg" + suffix, wh)
        )
    open(db._hnsw_meta_path(), "wb").write(meta_blob)
    with pytest.raises(ValueError, match="different IVF layout"):
        db.query_graph("doc 7 about 2", k=3)
    with pytest.raises(ValueError, match="different IVF layout"):
        db.query_graph_batch(["doc 7 about 2"], k=3)

    db.create_graph_index()  # rebuild over the new layout heals
    assert len(db.query_graph("doc 7 about 2", k=3)) == 3


def test_calibration_tolerates_null_embeddings(spark, tmp_path):
    """Review finding: rows with NULL embeddings (legal for tables
    populated outside the facade; assign gives them NULL cluster_id) all
    hash to ONE _hb value and sort adjacent, so the unfiltered
    calibration sample was all-NULL and create_index raised TypeError."""
    import uuid as _uuid

    from modal_vector_db_spark.engine import VectorDB
    from modal_vector_db_spark.schema import ITEMS_SCHEMA
    from modal_vector_db_spark.sources import catalog

    wh = str(tmp_path / f"wh_{_uuid.uuid4().hex[:8]}")
    db = VectorDB(
        spark, "nullcal", embedding_dim=8, warehouse=wh, create_new_table=True
    )
    db.insert([{"text": f"t {i}", "n": i} for i in range(60)])
    # out-of-facade write: NULL embeddings land ahead of the sample sort
    nulls = spark.createDataFrame(
        [(f"null-{i}", "{}", None) for i in range(10)], ITEMS_SCHEMA
    )
    catalog.append(nulls, "nullcal", wh)
    db.create_index(num_clusters=4, calibrate=True)  # must not raise
    assert db._resolve_nprobe(None) >= 1
    assert len(db.query("t 3", k=5, use_index=True, nprobe=4)) == 5


def test_filtered_beam_exactness_property():
    """Property pin (hypothesis): for ANY corpus and ANY allowed mask, at
    corpus-covering ef the filtered beam returns exactly the filtered
    top-k — the contract the graphf oracle arm and the facade equality
    pins rely on.  Driver-side twin, no Spark."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from modal_vector_db_spark.operators.hnsw import (
        _build_cluster,
        _normalize,
        hnsw_search_cluster,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(min_value=2, max_value=120),
        dim=st.integers(min_value=2, max_value=8),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
        k=st.integers(min_value=1, max_value=12),
        sel_mod=st.integers(min_value=1, max_value=7),
    )
    def check(n, dim, seed, k, sel_mod):
        rng = np.random.default_rng(seed)
        x = _normalize(rng.standard_normal((n, dim)))
        ids = np.arange(n, dtype=np.int64)
        layers = _build_cluster(ids, x, m=4, ef_c=16)
        adj = [
            (int(ids[i]), lc, [int(ids[v]) for v in neigh])
            for lc, lay in layers.items()
            for i, neigh in lay.items()
        ]
        q = _normalize(rng.standard_normal((1, dim)))[0]
        allowed = ids % sel_mod == 0
        # corpus-covering ef IS the exactness contract (bounded ef is
        # approximate by design — its recall is measured, not asserted)
        got, _ = hnsw_search_cluster(
            ids, x, adj, q, k=k, ef_search=n, allowed=allowed
        )
        d = 1.0 - x @ q
        order = np.lexsort((ids, d))
        want = [(float(d[i]), int(ids[i])) for i in order if allowed[i]][:k]
        assert [(round(dd, 9), v) for dd, v in got] == [
            (round(dd, 9), v) for dd, v in want
        ]

    check()


# ---------------------------------------------------------------------------
# Incremental insert (round 12): grow_hnsw inserts into the live graph
# ---------------------------------------------------------------------------


def test_grow_cluster_exact_and_connected():
    """_grow_cluster inserts flagged points into an existing graph; the
    grown graph stays navigable (a corpus-covering-ef search from the
    entry reaches EVERY node — connectivity, the property exactness
    rides on) and the exactness contract holds: ef >= n == brute force."""
    from modal_vector_db_spark.operators.hnsw import _build_cluster, _grow_cluster

    x = _normalize(_synth(600, seed=7))
    ids = np.arange(600, dtype=np.int64)
    n_old = 550
    layers_old = _build_cluster(ids[:n_old], x[:n_old], m=8, ef_c=64)
    adj_old = [
        (int(ids[i]), lc, [int(ids[v]) for v in neigh])
        for lc, lay in layers_old.items()
        for i, neigh in lay.items()
    ]
    new_mask = np.zeros(600, dtype=bool)
    new_mask[n_old:] = True
    layers = _grow_cluster(ids, x, adj_old, new_mask, m=8, ef_c=64)
    adj = [
        (int(ids[i]), lc, [int(ids[v]) for v in neigh])
        for lc, lay in layers.items()
        for i, neigh in lay.items()
    ]
    # every node (old and new) present at layer 0
    assert set(layers[0].keys()) == set(range(600))
    for qi in (3, 560, 599):
        q = x[qi]
        got, _ = hnsw_search_cluster(ids, x, adj, q, k=600, ef_search=600)
        assert len(got) == 600, "grown graph is disconnected"
        gold = np.lexsort((ids, 1.0 - x @ q))[:10].tolist()
        assert [v for _, v in got[:10]] == [int(ids[i]) for i in gold]


def test_grow_hnsw_sparkside_matches_quality(spark, corpus):
    """Spark-level grow: build on 90% of the corpus, grow with the last
    10% flagged — the grown graph serves the exact top-k at
    corpus-covering ef, including hits inside the new batch."""
    from modal_vector_db_spark.operators.hnsw import grow_hnsw

    rows = corpus.collect()
    old = corpus.filter(F.col("vec_id") < 1080)
    g_old = build_hnsw(old, m=8, ef_construction=64)
    flagged = corpus.withColumn("_is_new", F.col("vec_id") >= 1080)
    grown = grow_hnsw(g_old, flagged, m=8, ef_construction=64).persist()
    assert grown.count() > 0
    # a query vector FROM the new batch must find itself first
    q = rows[1190][2]
    got = [r["vec_id"] for r in hnsw_topk(grown, corpus, q, k=10, ef_search=1200).collect()]
    assert got == _exact(rows, q, k=10)
    grown.unpersist()


def test_grow_hnsw_fresh_fallbacks(spark, corpus):
    """grow_hnsw with an empty adjacency side (brand-new cluster) or a
    majority-new batch falls back to the fresh build — byte-equal to
    build_hnsw on the same rows."""
    from modal_vector_db_spark.operators.hnsw import grow_hnsw

    want = {
        (r["cluster_id"], r["vec_id"], r["layer"], tuple(r["neighbors"]))
        for r in build_hnsw(corpus, m=6, ef_construction=32).collect()
    }
    empty_graph = spark.createDataFrame(
        [], "cluster_id int, vec_id bigint, layer int, neighbors array<bigint>"
    )
    all_new = corpus.withColumn("_is_new", F.lit(True))
    got = {
        (r["cluster_id"], r["vec_id"], r["layer"], tuple(r["neighbors"]))
        for r in grow_hnsw(empty_graph, all_new, m=6, ef_construction=32).collect()
    }
    assert got == want


def test_grow_hnsw_deterministic(spark, corpus):
    """Same stored graph + same batch -> identical grown adjacency under
    any partitioning (the house determinism invariant)."""
    from modal_vector_db_spark.operators.hnsw import grow_hnsw

    old = corpus.filter(F.col("vec_id") < 1000)
    g_old = build_hnsw(old, m=6, ef_construction=32).persist()
    g_old.count()
    flagged = corpus.withColumn("_is_new", F.col("vec_id") >= 1000)

    def rows(df):
        return {
            (r["cluster_id"], r["vec_id"], r["layer"], tuple(r["neighbors"]))
            for r in grow_hnsw(g_old, df, m=6, ef_construction=32).collect()
        }

    assert rows(flagged.repartition(1)) == rows(flagged.repartition(7))
    g_old.unpersist()


def test_grow_heals_orphaned_stored_nodes():
    """Review finding: a stored node with NO adjacency rows (crash between
    the node append and the adjacency swap) must be re-inserted by the
    grow path — the whole-cluster rebuild healed such holes incidentally,
    and grow must not lose that."""
    from modal_vector_db_spark.operators.hnsw import _build_cluster, _grow_cluster

    x = _normalize(_synth(400, seed=13))
    ids = np.arange(400, dtype=np.int64)
    layers_full = _build_cluster(ids[:380], x[:380], m=8, ef_c=64)
    # drop ALL adjacency rows of ten old nodes -> orphans (they stay in
    # the node table but vanished from the graph)
    orphans = set(range(100, 110))
    adj = [
        (int(ids[i]), lc, [int(ids[v]) for v in neigh if v not in orphans])
        for lc, lay in layers_full.items()
        for i, neigh in lay.items()
        if i not in orphans
    ]
    new_mask = np.zeros(400, dtype=bool)
    new_mask[380:] = True
    layers = _grow_cluster(ids, x, adj, new_mask, m=8, ef_c=64)
    assert set(layers[0].keys()) == set(range(400))  # orphans re-linked
    got, _ = hnsw_search_cluster(
        ids,
        x,
        [
            (int(ids[i]), lc, [int(ids[v]) for v in neigh])
            for lc, lay in layers.items()
            for i, neigh in lay.items()
        ],
        x[105],
        k=400,
        ef_search=400,
    )
    found = {v for _, v in got}
    assert found == set(int(i) for i in ids)  # connected, incl. orphans


def test_grown_graph_recall_tracks_fresh_build():
    """HNSW aging check: TEN sequential incremental batches must not
    degrade bounded-ef recall much below a fresh build of the same rows
    (incremental graphs skip the re-pruning a rebuild does; the drift
    must stay marginal or the maintenance economics are a recall tax)."""
    from modal_vector_db_spark.operators.hnsw import _build_cluster, _grow_cluster

    x = _normalize(_synth(700, seed=21))
    ids = np.arange(700, dtype=np.int64)
    # fresh: all 700 in one build
    fresh_layers = _build_cluster(ids, x, m=8, ef_c=64)
    # grown: 500 base + 10 batches of 20 through the incremental path
    layers = _build_cluster(ids[:500], x[:500], m=8, ef_c=64)
    n = 500
    while n < 700:
        adj = [
            (int(ids[i]), lc, [int(ids[v]) for v in neigh])
            for lc, lay in layers.items()
            for i, neigh in lay.items()
        ]
        hi = n + 20
        mask = np.zeros(hi, dtype=bool)
        mask[n:hi] = True
        layers = _grow_cluster(ids[:hi], x[:hi], adj, mask, m=8, ef_c=64)
        n = hi

    def recall(lrs):
        adj = [
            (int(ids[i]), lc, [int(ids[v]) for v in neigh])
            for lc, lay in lrs.items()
            for i, neigh in lay.items()
        ]
        hits = 0
        for qi in range(0, 700, 35):  # 20 queries
            q = x[qi]
            gold = set(np.lexsort((ids, 1.0 - x @ q))[:10].tolist())
            got, _ = hnsw_search_cluster(ids, x, adj, q, k=10, ef_search=64)
            hits += len({v for _, v in got} & gold)
        return hits / (20 * 10)

    r_fresh, r_grown = recall(fresh_layers), recall(layers)
    assert r_grown >= r_fresh - 0.05, (r_fresh, r_grown)
    assert r_grown >= 0.85, r_grown
