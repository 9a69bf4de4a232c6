"""Connected components — the clustering step of a dedup pipeline.

Near-dup detection (MinHash-LSH / SimHash / Jaccard) yields PAIRS; turning
pairs into duplicate CLUSTERS (keep one doc per component) needs connected
components — an inherently iterative algorithm with no single-query SQL
equivalent (the oracle uses a recursive CTE).

Implementation: min-label propagation.  Each node starts labeled with
itself; every iteration each node takes the min label over itself and its
neighbors; fixpoint = components labeled by their min member.

Scale shape: each iteration is one join (edges × labels, partitioned on the
join key) + one groupBy-min — O(E) shuffle per round, converging in
O(diameter) rounds.  Dedup components are tiny (pairs/triangles/short
chains), so 3-5 rounds close almost any real corpus; pathological long
chains are capped by ``_MAX_ITER``.  The per-round ``count()`` convergence
check is one cheap job on the (small) changed-set.

Lineage discipline: each round's labels are ``localCheckpoint``-ed.  Without
it, iteration i's plan contains i copies of the whole chain back to the
scan — every action re-executes O(i²) work and the plan tree grows
exponentially deep past ~10 rounds (optimizer time alone would dominate).
With the checkpoint, round i reads round i-1's materialized partitions:
O(E) work per round, constant plan depth, which is what survives a
long-diameter graph at scale.  (On a real cluster with unreliable executors
you would use ``checkpoint()`` to HDFS instead; localCheckpoint trades
fault-tolerance for speed.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.plans.checkpoints import release_local_checkpoint


#: label-propagation rounds :func:`connected_components` may run
_MAX_ITER = 10


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label each node with the min node id reachable through ``edges``
    (undirected).  Returns (node, component).  Raises when a component's
    diameter exceeds ``_MAX_ITER`` rounds (never silently unconverged)."""
    max_iter = _MAX_ITER
    sym = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).union(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    )
    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev = None
    for i in range(max_iter):
        neigh = (
            sym.join(labels, sym.d == labels.node)
            .select(F.col("s").alias("node"), "component")
        )
        new_labels = (
            labels.select("node", "component")
            .union(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # Truncate lineage every round: the eager localCheckpoint both
        # materializes this round (one O(E) job) and keeps the next round's
        # plan reading materialized partitions instead of replaying i rounds.
        new_labels = new_labels.localCheckpoint(eager=True)
        if prev is not None:
            # release the i-2 round's checkpoint BLOCKS (its last consumer
            # — round i-1's propagation and changed-count — has
            # materialized).  Dataset.unpersist() was a silent no-op here:
            # checkpoint storage is RDD-level, see plans/checkpoints.py.
            release_local_checkpoint(prev)
        prev, labels_old, labels = labels, labels, new_labels
        # A pair/triangle component converges in round 1; checking
        # convergence costs a driver round-trip, so skip the check for
        # round 0 and pay it from round 1 on.  Both sides are checkpointed,
        # so the changed-count job is two cached scans + one join.
        if i >= 1:
            changed = (
                labels.alias("n")
                .join(labels_old.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            if changed == 0:
                break
    else:
        # loop exhausted without an observed fixpoint: min-label
        # propagation needs ~diameter rounds, so a long-chain component
        # would silently return WRONG labels (and break oracle parity /
        # leakage-safety downstream) — fail loudly instead
        if changed:
            # The FINAL budgeted round still moved labels — but it may
            # itself have reached the fixpoint (a chain whose diameter
            # equals exactly max_iter rounds).  One extra verification
            # round distinguishes "converged on the last round" from
            # "genuinely unconverged", so exact-budget graphs don't
            # hard-fail a correct result (review finding).
            verify = (
                sym.join(labels, sym.d == labels.node)
                .select(F.col("s").alias("node"), "component")
                .union(labels.select("node", "component"))
                .groupBy("node")
                .agg(F.min("component").alias("component"))
            )
            still = (
                verify.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            if still:
                raise ValueError(
                    f"connected_components: {still} labels still changing "
                    f"after {max_iter} rounds (_MAX_ITER) — a component's "
                    f"diameter exceeds the budget"
                )
    # the penultimate round's checkpoint has no remaining consumer (its
    # changed-count and propagation jobs have run); only the returned
    # final labels stay persisted
    if labels_old is not None and labels_old is not labels:
        release_local_checkpoint(labels_old)
    return labels


def leakage_safe_split(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str,
    val_pct: int = 20,
    components: DataFrame | None = None,
) -> DataFrame:
    """Leakage-free train/validation split: documents connected by a
    near-duplicate edge always land on the SAME side, so the validation
    set can never contain a near-copy of a training document (the eval-
    contamination failure a per-doc random split guarantees at corpus
    scale, where duplicate clusters are everywhere).

    ``components``: pass a precomputed :func:`connected_components` result
    (node, component) to reuse an iteration the caller already ran.

    Each doc is labeled with its connected component (singletons label
    themselves), and the SPLIT decision hashes the component label, not
    the doc id — ``md5``-derived so the assignment is deterministic and
    engine-independent.  Returns (id, component, side) with side 1 =
    validation (≈ ``val_pct``% of components), 0 = train.

    Scale shape: components via iterative min-label propagation over the
    (sparse) edge set only; the full corpus then takes ONE id-equijoin
    against the (small, dup-docs-only) label table and one codegen hash —
    the corpus itself never enters the iteration."""
    from modal_vector_db_spark.functions.hashing import md5_long

    comp = (
        components
        if components is not None
        else connected_components(edges)
    )
    labeled = (
        docs.select(id_col)
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    )
    # pmod, not %: Spark's % preserves the dividend's sign, so a signed
    # hash implementation (the documented HASH_IMPL='xxhash64' swap) would
    # make every negative remainder satisfy `< val_pct` and inflate the
    # validation side ~3x.  pmod is value-identical for the non-negative
    # md5_long default, so oracle parity is unchanged.
    side = (
        F.pmod(md5_long(F.col("component").cast("string")), F.lit(100)) < val_pct
    ).cast("int")
    return labeled.withColumn("side", side)
