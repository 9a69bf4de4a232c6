"""PageRank (operators/pagerank.py) against an exact pure-Python power
iteration: dangling-node mass redistribution, parallel-edge weighting,
no-in-edge nodes, self-loops, and the fixed-iteration arithmetic."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest

from modal_vector_db_spark.operators.pagerank import pagerank


def ref_pagerank(edges, iters=5, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = Counter(u for u, _ in edges)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = defaultdict(float)
        for u, v in edges:
            contrib[v] += r[u] / out[u]
        dm = sum(r[v] for v in nodes if out[v] == 0)
        r = {v: (1 - d) / n + d * (contrib[v] + dm / n) for v in nodes}
    return r


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}
    want = ref_pagerank(edges, kw.get("iters", 5), kw.get("damping", 0.85))
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    # a probability distribution: mass conserved
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    return got


def test_ring_plus_hub(spark):
    n = 40
    edges = [(i, (i + 1) % n) for i in range(n)] + [(i, i % 4) for i in range(n)]
    got = _run(spark, edges)
    # hubs accumulate rank: every hub outranks every non-hub
    assert min(got[h] for h in range(4)) > max(got[v] for v in range(4, n))


def test_dangling_mass_redistribution(spark):
    # node 2 has no out-edges: its mass spreads to ALL nodes each step
    edges = [(0, 1), (1, 2), (3, 2), (2, 2)][:3] + [(3, 0)]
    got = _run(spark, edges)
    assert got[2] == max(got.values())  # the sink still ranks highest


def test_parallel_edges_and_self_loop(spark):
    # duplicate edge 0->1 counts twice in out-degree AND contribution;
    # 1->1 self-loop is legal
    edges = [(0, 1), (0, 1), (0, 2), (1, 1)]
    _run(spark, edges)


def test_no_in_edge_node_gets_base_rank(spark):
    edges = [(0, 1), (1, 0), (2, 0)]  # node 2 has no in-edges
    got = _run(spark, edges)
    # after iteration 1, node 2 holds exactly the teleport base each step
    assert got[2] == pytest.approx(0.15 / 3, abs=1e-12)


def test_many_iterations_checkpoint_path(spark):
    # >10 lazy iterations crosses the depth-bounding checkpoint branch
    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)] + [(0, 5)]
    _run(spark, edges, iters=12)


def test_iters_validation(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)


def test_empty_graph(spark):
    import pyspark.sql.types as T

    df = spark.createDataFrame([], T.StructType([
        T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]))
    assert pagerank(df).collect() == []


def _persisted_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_materialize_releases_all_lineage_cache(spark):
    """materialize=True is the multi-graph hygiene mode: identical ranks,
    and the RUN adds exactly ONE persisted RDD (the returned, checkpointed
    ranks) — releasable with release_local_checkpoint.
    Dataset.unpersist() alone cannot do this: localCheckpoint storage is
    RDD-level (plans/checkpoints.py).  Measured as a DELTA of persisted
    RDD ids: earlier suites in a shared session leave checkpoints the
    async ContextCleaner reclaims at its own pace, so absolute counts
    are racy (observed flake)."""
    from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

    edges = [(i, (i + 1) % 20) for i in range(20)] + [(i, 0) for i in range(20)]
    # node 20 -> dangling sink so the eager-checkpoint branch runs
    edges.append((0, 20))
    df = spark.createDataFrame(edges, "src long, dst long")
    lazy = {r["node"]: r["rank"] for r in pagerank(df, iters=6).collect()}
    spark.catalog.clearCache()  # drop the lazy run's pinned tables

    base = _persisted_ids(spark)
    pr = pagerank(df, iters=6, materialize=True)
    got = {r["node"]: r["rank"] for r in pr.collect()}
    assert got == pytest.approx(lazy)
    added = _persisted_ids(spark) - base
    assert len(added) == 1, added  # ONLY the returned ranks
    assert release_local_checkpoint(pr)
    assert not (_persisted_ids(spark) & added)


@pytest.mark.slow
def test_connected_components_releases_round_checkpoints(spark, monkeypatch):
    """Long-diameter CC must not accumulate one pinned checkpoint per
    round: after completion at most the returned labels stay persisted
    (delta-of-ids measurement, see above)."""
    from modal_vector_db_spark.operators import graph
    from modal_vector_db_spark.operators.graph import connected_components
    from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint

    monkeypatch.setattr(graph, "_MAX_ITER", 40)
    spark.catalog.clearCache()
    base = _persisted_ids(spark)
    chain = [(i, i + 1) for i in range(30)]
    labels = connected_components(spark.createDataFrame(chain, "src long, dst long"))
    assert {r["component"] for r in labels.collect()} == {0}
    added = _persisted_ids(spark) - base
    assert len(added) <= 1, added
    release_local_checkpoint(labels)
    assert not (_persisted_ids(spark) & added)
