"""Link-graph PageRank — the crawl-prioritization / quality-weighting
signal of web-corpus pipelines (CommonCrawl publishes host-level ranks
precisely so downstream curators can weight or prune by them; a 100 TB
crawl curation pass computes this in-cluster from the extracted links).

Spark-first shape — fixed-iteration power method on DataFrames:

- ``edges`` is joined ONCE with its out-degree table and persisted (the
  big, static side); each iteration shuffles only the RANK table
  (|V| rows, keyed by node — orders of magnitude smaller than |E|).
- contributions are one ``groupBy(dst).sum`` per iteration — Catalyst
  plans it as partial (map-side) + final aggregation, so the shuffle
  carries one partial sum per (partition, dst), not one row per edge.
- dangling mass (nodes with no out-links) is a ONE-ROW aggregate,
  broadcast back via crossJoin — never a driver round-trip inside the
  plan; nodes with no in-links get rank via the left join + coalesce(0).
- the iteration count is FIXED (the convergence criterion of a ranking
  signal is "enough iterations", not an epsilon test that would force a
  driver action per step).
- materialization discipline: when the graph HAS dangling nodes, each
  step references the rank table twice (contributions + dangling mass),
  so the lazy plan would re-expand the whole prefix 2^iters times —
  those steps eagerly ``localCheckpoint`` (the Pregel/GraphX
  discipline).  With no dangling nodes (checked once, one count) the
  rank table is referenced ONCE per step, the plan stays LINEAR, and
  the iterations chain lazily into a single job — checkpointing only
  every 10th step to bound plan depth.

Oracle story: a fixed-iteration rank is plain SQL — ``web_link_rank``
unrolls the same iterations as nested CTEs in DuckDB (division before
summation on both engines, rounded 6dp only at the end).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank"]

#: last chain plan captured under SPARK_GRAFT_PR_PLAN_DUMP (evidence hook)
LAST_CHAIN_PLAN: str | None = None

#: node-count ceiling for statically-planned iteration chains.  Below it
#: the rank table is provably tiny (the head job counted it) and AQE's
#: per-stage re-planning across the 2-3 exchanges × iters chain costs more
#: than it can ever save — the chain runs with AQE off and a
#: rank-table-sized static partition count.  Above it (any real web graph)
#: AQE stays on: the per-iteration shuffles are exactly what skew-join
#: handling and partition coalescing are for.  A constant, not a setting:
#: it also bounds the static chain's contributions broadcast.
_STATIC_CHAIN_MAX_NODES = 200_000


@contextlib.contextmanager
def _static_chain_conf(spark, n_nodes: int):
    """Scope AQE-off + a rank-table-sized shuffle width around a SMALL
    graph's fixed-iteration chain (measured: 5 iterations over a 300-node
    fixture spend ~0.5 s in AQE stage re-planning alone).  Partitions
    scale with |V| (one partition per ~25k rank rows, floor 4), never a
    constant tuned to one machine.  Only sound when every chain action
    executes INSIDE the scope — i.e. under ``materialize=True``."""
    parts = max(4, n_nodes // 25_000)
    saved = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    materialize: bool = False,
) -> DataFrame:
    """Rank every node of the directed graph ``edges`` (src, dst) (duplicate edges
    count once each; self-loops are legal).  Returns ``(node, rank)``
    with ranks UNROUNDED (callers round for cross-engine compares).

    r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/outdeg(u) + dangling_mass/N)

    ``materialize=True`` is the multi-graph cache-hygiene mode: the final
    ranks are eagerly localCheckpoint-ed, then EVERY pinned lineage table
    (edges/nodes/degree probe sides) AND every intermediate per-iteration
    checkpoint is released — the session keeps exactly one persisted RDD,
    the returned ranks (free it with
    ``plans.checkpoints.release_local_checkpoint`` when done).  Default
    False preserves the lazy single-job chain for one-shot callers.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint
    # the caller's edge plan (often a whole extraction pipeline) is
    # evaluated ONCE: everything per-iteration reads these cached tables
    # NOTE: under materialize=False these persisted tables back the
    # RETURNED plan, so they cannot be unpersisted here (session-lifetime
    # cache); a caller looping over many graphs passes materialize=True,
    # which checkpoints the result and releases all of them.
    e = edges.select("src", "dst").persist()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("outdeg"))
    ew = e.join(deg, "src").persist()  # static per-iteration probe side
    # node table WITH the dangling flag in one aggregation: max(_has_out)
    # over the tagged src/dst union is TRUE exactly for nodes that appear
    # as a source.  Carrying the flag on the node/rank table (a boolean
    # per row) replaces the previous per-iteration ranks⋈has_out join in
    # the dangling-mass branch with a plain filter, and lets ONE driver
    # action return both scalars (|V| and |has-out|) where the previous
    # shape paid two count jobs (round-12 optimization).
    nodes = (
        e.select(F.col("src").alias("node"), F.lit(True).alias("_has_out"))
        .union(e.select(F.col("dst").alias("node"), F.lit(False).alias("_has_out")))
        .groupBy("node")
        .agg(F.max("_has_out").alias("_has_out"))
        .persist()
    )
    head = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.col("_has_out").cast("long")), F.lit(0)).alias("n_out"),
    ).first()  # one scalar job, once — also materializes e/nodes
    n_nodes, n_out = int(head["n"]), int(head["n_out"])
    if n_nodes == 0:  # empty graph: empty (node, rank), not a div-by-zero
        out = nodes.select("node").withColumn("rank", F.lit(0.0))
        if materialize:
            out = out.localCheckpoint(eager=True)
            for c in (ew, nodes, e):
                c.unpersist()
        return out
    # a graph with no dangling nodes (every node has out-edges) has
    # identically-zero dangling mass: skip that branch's per-iteration job
    any_dangling = n_nodes > n_out

    # statically-planned chain for provably-small graphs: only under
    # materialize=True, because every chain action (intermediate + final
    # localCheckpoint) must execute inside the conf scope — a lazy caller
    # would run the chain after the conf is restored
    static_mode = materialize and n_nodes <= _STATIC_CHAIN_MAX_NODES
    scope = (
        _static_chain_conf(e.sparkSession, n_nodes)
        if static_mode
        else contextlib.nullcontext()
    )
    with scope:
        ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
        base = (1.0 - damping) / n_nodes
        intermediates: list[DataFrame] = []
        for i in range(1, iters + 1):
            contribs = (
                ew.join(ranks.select("node", "rank"), ew.src == F.col("node"))
                .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("contrib"))
            )
            if static_mode:
                # contribs is provably ≤ n_nodes ≤ _STATIC_CHAIN_MAX_NODES
                # rows: broadcast it into the nodes left join.  Without the
                # hint the static chain's later iterations degrade to
                # SortMergeJoin with a DOUBLE exchange per iteration — the
                # dst rollup runs at the static width, then re-exchanges to
                # the nodes cache's width to co-partition, plus two sorts.
                # Measured on the 300-node fixture (interleaved A/B,
                # identical ranks asserted): ~1.1-1.2× the whole query.
                # Broadcasting the RANK side of the contributions join as
                # well was measured SLOWER (2.6 vs 2.3 s median): it turns
                # the build side from the independent cached ew into the
                # chain itself, serializing one extra driver-side broadcast
                # job per iteration without removing the dst exchange —
                # rejected, left to the planner.
                contribs = F.broadcast(contribs)
            new = nodes.join(contribs, nodes.node == contribs.dst, "left")
            if any_dangling:
                # dangling mass: rank held by nodes with no out-edges (1-row
                # agg, broadcast) — empty aggregate sums to NULL, hence
                # coalesce
                dang = ranks.filter(~F.col("_has_out")).agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
                )
                new = new.crossJoin(F.broadcast(dang))
                gain = F.coalesce("contrib", F.lit(0.0)) + F.col("_dm") / n_nodes
            else:
                gain = F.coalesce("contrib", F.lit(0.0))
            ranks = new.select(
                "node", "_has_out", (F.lit(base) + F.lit(damping) * gain).alias("rank")
            )
            if i < iters and (any_dangling or i % 10 == 0):
                # see module docstring: mandatory under double reference,
                # depth-bounding otherwise
                ranks = ranks.localCheckpoint(eager=True)
                intermediates.append(ranks)
        ranks = ranks.select("node", "rank")
        if os.environ.get("SPARK_GRAFT_PR_PLAN_DUMP"):
            # evidence hook (env-gated, zero cost by default): the chain
            # executes inside the materialize checkpoint, so the RETURNED
            # plan is just the readback — expose the pre-checkpoint chain
            # plan for the round's plans/ dumps.
            global LAST_CHAIN_PLAN
            LAST_CHAIN_PLAN = ranks._jdf.queryExecution().executedPlan().toString()
        if materialize:
            ranks = ranks.localCheckpoint(eager=True)  # the one surviving RDD
            for ck in intermediates:  # consumed by the final checkpoint
                release_local_checkpoint(ck)
            for c in (ew, nodes, e):
                c.unpersist()
    return ranks
