"""Per-partition HNSW graph index (Malkov & Yashunin 2016) — the
graph-ANN regime the reference gets from DuckDB's ``vss`` extension
(``/root/reference/duckvdb.py:37-41``), re-expressed Spark-first.

Why a graph index AT ALL when IVF exists: IVF's recall is bought with
scan fraction (every probed partition is scanned in full), which is the
right trade for batch analytics; a navigable-small-world graph reaches
high recall while TOUCHING O(ef·log n) vectors per query — the
single-query serving regime (recall ~1 at a few hundred distance
evaluations against a full-partition scan's thousands; measured in
``tests/test_hnsw.py`` and BASELINE.md).

Spark-first shape — the graph is a PER-PARTITION artifact, never driver
state:

- :func:`build_hnsw` builds one independent HNSW graph per
  ``cluster_id`` group (the IVF partitioning is reused as the sharding)
  inside ``applyInPandas`` — numpy per executor task, each graph bounded
  by its cluster's size, zero driver state.  The output is a plain
  DataFrame ``(cluster_id, vec_id, layer, neighbors array<bigint>)`` —
  an adjacency TABLE, storable as cluster-partitioned parquet exactly
  like an indexed plain table, so serving reads only probed partitions.
- :func:`hnsw_topk` serves a query by COGROUPING the adjacency and
  vector tables per probed cluster (``groupBy(cluster).cogroup(...)
  .applyInPandas``): each task reconstructs its cluster's graph, runs
  the classic ef-bounded best-first beam search executor-side, and
  emits that cluster's top-k; a global ``TakeOrderedAndProject``
  finishes.  The driver never holds a graph or an adjacency row.
- at 100 TB: graphs build where the vectors live (one task per
  cluster), the search reads only probed clusters' graph+vector files
  (partition pruning on both tables), and per-query work inside a
  cluster is O(ef·log n) distance evaluations instead of O(n).

Determinism (the house invariant): insertion order is ascending vec_id;
levels come from a multiplicative hash of the id (not an RNG); every
heap carries (distance, vec_id) so ties break by id.  The same rows
yield the same graph under any partitioning/row order — test-pinned.

Neighbor selection is the paper's Algorithm 4 (the diversity
heuristic: a candidate is kept only while it is closer to the query
than to every already-kept neighbor, with keep-pruned fill-back to
degree M — the hnswlib construction default).  The heuristic is what
keeps graphs navigable on CLUSTERED corpora, where plain M-nearest
selection degenerates into intra-cluster cliques with no long-range
edges; layer-0 degree cap is 2M per the paper.
"""

from __future__ import annotations

import heapq
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "build_hnsw",
    "grow_hnsw",
    "hnsw_topk",
    "hnsw_topk_multi",
    "hnsw_search_cluster",
]

#: adjacency table schema (the persisted artifact)
HNSW_SCHEMA = "cluster_id int, vec_id bigint, layer int, neighbors array<bigint>"


def _level_of(vec_id: int, m_l: float) -> int:
    """Deterministic HNSW level: Knuth multiplicative hash -> U(0,1) ->
    the paper's floor(-ln(u)·mL) geometric ladder.  No RNG: the same id
    always lands the same level, so graph build is order/partition
    independent."""
    u = (((int(vec_id) * 2654435761) & 0xFFFFFFFF) + 0.5) / 4294967296.0
    return int(-math.log(u) * m_l)


def _dists(x: np.ndarray, q: np.ndarray, idxs) -> np.ndarray:
    """Cosine distance of rows ``idxs`` of (pre-normalized) x vs q."""
    return 1.0 - x[list(idxs)] @ q


def _search_layer(x, adj, q, entries, ef, counter) -> list[tuple[float, int]]:
    """Classic ef-bounded best-first search on one layer (Algorithm 2).
    ``entries`` is [(dist, node)]; returns the candidate set as sorted
    [(dist, node)].  ``counter`` accumulates distance evaluations (the
    serving-cost evidence)."""
    visited = {n for _, n in entries}
    cand = list(entries)  # min-heap by (dist, node)
    heapq.heapify(cand)
    best = [(-d, n) for d, n in entries]  # max-heap of the ef best
    heapq.heapify(best)
    while cand:
        d, n = heapq.heappop(cand)
        if d > -best[0][0] and len(best) >= ef:
            break
        neigh = [v for v in adj.get(n, ()) if v not in visited]
        if not neigh:
            continue
        visited.update(neigh)
        nd = _dists(x, q, neigh)
        counter[0] += len(neigh)
        for dv, v in zip(nd, neigh):
            if len(best) < ef or dv < -best[0][0]:
                heapq.heappush(cand, (float(dv), v))
                heapq.heappush(best, (-float(dv), v))
                if len(best) > ef:
                    heapq.heappop(best)
    return sorted((-bd, n) for bd, n in best)


def _select_neighbors(x, cands: list[tuple[float, int]], m: int) -> list[int]:
    """Algorithm 4 (select-neighbors heuristic): walking candidates in
    (distance, id) order, keep e only while dist(e, q) < dist(e, s) for
    every already-kept s — diverse directions instead of a clique — then
    fill remaining slots from the rejected, nearest first (the paper's
    keepPrunedConnections, hnswlib's construction default: degree stays
    M, connectivity never starves)."""
    kept: list[int] = []
    rejected: list[int] = []
    for d, n in cands:
        if len(kept) >= m:
            break
        if all(1.0 - float(x[n] @ x[s]) > d for s in kept):
            kept.append(n)
        else:
            rejected.append(n)
    for n in rejected:
        if len(kept) >= m:
            break
        kept.append(n)
    return kept


def _insert_point(
    layers: dict,
    x: np.ndarray,
    i: int,
    lvl: int,
    entry: int,
    max_level: int,
    m: int,
    ef_c: int,
    counter: list,
) -> tuple[int, int]:
    """HNSW Algorithm 1 for ONE point: greedy descent above ``lvl``, then
    per-layer ef_construction search + diverse neighbor selection +
    bidirectional linking with cap pruning.  THE insert primitive — the
    fresh build (:func:`_build_cluster`) and the incremental grow path
    (:func:`_grow_cluster`) both loop over it, so a point inserted
    incrementally takes exactly the code path it would in a rebuild.
    Returns the updated ``(entry, max_level)``."""
    caps = lambda lc: (2 * m) if lc == 0 else m  # noqa: E731  (paper: M_max0=2M)
    if entry < 0:
        for lc in range(lvl + 1):
            layers.setdefault(lc, {})[i] = []
        return i, lvl
    q = x[i]
    ep = [(float(_dists(x, q, [entry])[0]), entry)]
    for lc in range(max_level, lvl, -1):  # greedy descent above lvl
        ep = _search_layer(x, layers.get(lc, {}), q, ep, 1, counter)[:1]
    for lc in range(min(max_level, lvl), -1, -1):
        cand = _search_layer(x, layers.get(lc, {}), q, ep, ef_c, counter)
        neigh = _select_neighbors(x, cand, m)
        lay = layers.setdefault(lc, {})
        lay[i] = list(neigh)
        for n in neigh:  # bidirectional, pruned to the layer cap
            lst = lay.setdefault(n, [])
            lst.append(i)
            if len(lst) > caps(lc):
                nd = _dists(x, x[n], lst)
                lay[n] = _select_neighbors(
                    x,
                    sorted((float(d), v) for d, v in zip(nd, lst)),
                    caps(lc),
                )
        ep = cand[:1]
    if lvl > max_level:
        for lc in range(max_level + 1, lvl + 1):
            layers.setdefault(lc, {})[i] = []
        return i, lvl
    return entry, max_level


def _build_cluster(ids: np.ndarray, x: np.ndarray, m: int, ef_c: int):
    """One cluster's graph: {layer: {node_pos: [neighbor_pos, ...]}}.
    ``x`` must be L2-normalized; insertion in ascending-id order."""
    m_l = 1.0 / math.log(m) if m > 1 else 1.0
    layers: dict[int, dict[int, list[int]]] = {}
    entry, max_level = -1, -1
    counter = [0]
    for i in range(len(ids)):
        lvl = _level_of(int(ids[i]), m_l)
        entry, max_level = _insert_point(
            layers, x, i, lvl, entry, max_level, m, ef_c, counter
        )
    return layers


def _grow_cluster(
    ids: np.ndarray,
    x: np.ndarray,
    adj_rows,
    new_mask: np.ndarray,
    m: int,
    ef_c: int,
):
    """Insert the ``new_mask``-flagged points into an EXISTING cluster
    graph (HNSW's native incremental insert — the reference's DuckDB-vss
    HNSW inserts into the live graph under ``ON CONFLICT`` writes,
    ``duckvdb.py:37-41``; it never rebuilds): reconstruct the layer maps
    from the stored adjacency, then run :func:`_insert_point` per new
    node in ascending-id order.  Cost is O(batch · ef · log n) distance
    evaluations instead of the rebuild's O(n · ef · log n).

    The resume entry point is the SERVING rule (min-id node at the top
    layer) — entry choice steers search paths, never graph validity, and
    a new node overtopping ``max_level`` becomes the entry exactly as in
    a fresh build.  Levels are id-hashed (:func:`_level_of`), so an
    incrementally inserted node lands on the same level a rebuild would
    give it.

    Self-healing: a stored node ABSENT from the adjacency (a crash
    between the node append and the adjacency swap left it orphaned) is
    inserted exactly like a new node — the whole-cluster rebuild used to
    heal such holes incidentally; the grow path must not lose that
    (review finding).  Orphans are normally zero, so the cost stays
    batch-scaled."""
    pos = {int(v): i for i, v in enumerate(ids)}
    layers: dict[int, dict[int, list[int]]] = {}
    for vid, lc, neigh in adj_rows:
        if int(vid) not in pos:
            continue  # adjacency row for a vector not in this frame
        layers.setdefault(int(lc), {})[pos[int(vid)]] = [
            pos[int(n)] for n in neigh if int(n) in pos
        ]
    m_l = 1.0 / math.log(m) if m > 1 else 1.0
    counter = [0]
    if layers:
        top = max(layers)
        entry = min(layers[top], key=lambda i: ids[i])
        max_level = top
    else:
        entry, max_level = -1, -1
    present = set()
    for lay in layers.values():
        present.update(lay.keys())
    to_insert = np.asarray(new_mask, dtype=bool).copy()
    for i in range(len(ids)):
        if i not in present:
            to_insert[i] = True  # orphaned stored node: heal by insertion
    for i in np.flatnonzero(to_insert):
        i = int(i)
        if i in present:
            continue  # flagged new but already linked (replayed batch)
        lvl = _level_of(int(ids[i]), m_l)
        entry, max_level = _insert_point(
            layers, x, i, lvl, entry, max_level, m, ef_c, counter
        )
    return layers


def _normalize(mat: np.ndarray) -> np.ndarray:
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def build_hnsw(
    clustered: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ef_construction: int = 64,
) -> DataFrame:
    """One HNSW graph per ``cluster_id`` group -> the adjacency table
    (:data:`HNSW_SCHEMA`).  Write it partitioned by ``cluster_id`` next
    to the vector table; NULL vectors are excluded (they cannot be
    navigated to — same stance as the IVF assign path)."""
    _ship()
    mm, efc = int(m), int(ef_construction)
    vcol, icol, ccol = vec_col, id_col, "cluster_id"
    if mm < 2:
        raise ValueError(f"m must be >= 2, got {m}")

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf[vcol].notna()].sort_values(icol, kind="stable")
        if not len(pdf):
            return pd.DataFrame(
                {"cluster_id": [], "vec_id": [], "layer": [], "neighbors": []}
            )
        ids = pdf[icol].to_numpy(dtype=np.int64)
        x = _normalize(np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vcol]]))
        layers = _build_cluster(ids, x, mm, efc)
        cid = int(pdf[ccol].iloc[0])
        rows = [
            (cid, int(ids[i]), lc, [int(ids[v]) for v in neigh])
            for lc, lay in layers.items()
            for i, neigh in lay.items()
        ]
        out = pd.DataFrame(rows, columns=["cluster_id", "vec_id", "layer", "neighbors"])
        return out

    return (
        clustered.select(ccol, icol, vcol)
        .groupBy(ccol)
        .applyInPandas(_build, HNSW_SCHEMA)
    )


def grow_hnsw(
    graph: DataFrame,
    nodes: DataFrame,
    is_new_col: str = "_is_new",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ef_construction: int = 64,
) -> DataFrame:
    """Incremental HNSW insert, Spark-shaped: cogroup the stored
    adjacency with the cluster's FULL node set (old + new, the new ones
    flagged by ``is_new_col``) and insert only the flagged nodes into the
    live per-cluster graph (:func:`_grow_cluster`).  Emits each touched
    cluster's complete updated adjacency — the caller swaps the
    partitions in, the same I/O as a rebuild, but the COMPUTE is
    O(batch · ef · log n) per cluster instead of O(n · ef · log n).

    Falls back to a fresh :func:`_build_cluster` per cluster when the
    stored adjacency is absent (a brand-new cluster) or when new nodes
    outnumber the existing ones (a rebuild amortizes and yields the
    canonical ascending-id graph).
    """
    _ship()
    mm, efc = int(m), int(ef_construction)
    vcol, icol, ccol, ncol = vec_col, id_col, "cluster_id", is_new_col
    if mm < 2:
        raise ValueError(f"m must be >= 2, got {m}")

    def _grow(gpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        vpdf = vpdf[vpdf[vcol].notna()].sort_values(icol, kind="stable")
        if not len(vpdf):
            return pd.DataFrame(
                {"cluster_id": [], "vec_id": [], "layer": [], "neighbors": []}
            )
        cid = int(vpdf[ccol].iloc[0])
        ids = vpdf[icol].to_numpy(dtype=np.int64)
        x = _normalize(np.stack([np.asarray(v, dtype=np.float64) for v in vpdf[vcol]]))
        new_mask = vpdf[ncol].fillna(False).to_numpy(dtype=bool)
        n_new = int(new_mask.sum())
        n_old = len(ids) - n_new
        if not len(gpdf) or n_old == 0 or n_new >= n_old:
            layers = _build_cluster(ids, x, mm, efc)
        else:
            adj = list(zip(gpdf["vec_id"], gpdf["layer"], gpdf["neighbors"]))
            layers = _grow_cluster(ids, x, adj, new_mask, mm, efc)
        rows = [
            (cid, int(ids[i]), lc, [int(ids[v]) for v in neigh])
            for lc, lay in layers.items()
            for i, neigh in lay.items()
        ]
        return pd.DataFrame(rows, columns=["cluster_id", "vec_id", "layer", "neighbors"])

    return (
        graph.groupBy("cluster_id")
        .cogroup(nodes.select(ccol, icol, vcol, ncol).groupBy(ccol))
        .applyInPandas(_grow, HNSW_SCHEMA)
    )


def hnsw_search_cluster(
    ids: np.ndarray,
    x: np.ndarray,
    adj_rows: Sequence[tuple[int, int, Sequence[int]]],
    q: np.ndarray,
    k: int,
    ef_search: int,
    allowed: np.ndarray | None = None,
) -> tuple[list[tuple[float, int]], int]:
    """Serve one query against ONE cluster's graph (driver/test twin of
    the executor body): greedy descent from the max-layer entry, then an
    ef-bounded layer-0 beam.  Returns (top-k [(distance, vec_id)],
    n_distance_evals).

    ``allowed``: optional boolean mask (aligned with ``ids``) for
    filtered queries.  The beam NAVIGATES the whole graph (removing
    filtered-out nodes would sever connectivity) but only allowed nodes
    can land in the result; when the ef-bounded candidate set holds
    fewer than ``k`` allowed nodes, ``ef`` doubles and the beam re-runs
    — geometric, so the worst case (selective filter) degrades to one
    full-cluster traversal, never a silent short result.  At
    ``ef >= cluster size`` the result is exact over the filtered
    cluster — the same corpus-covering-ef exactness contract as the
    unfiltered path."""
    pos = {int(v): i for i, v in enumerate(ids)}
    layers: dict[int, dict[int, list[int]]] = {}
    for vid, lc, neigh in adj_rows:
        if int(vid) not in pos:
            continue  # adjacency row for a vector not in this frame
        layers.setdefault(int(lc), {})[pos[int(vid)]] = [
            pos[int(n)] for n in neigh if int(n) in pos
        ]
    if not layers:
        return [], 0
    top = max(layers)
    # entry: a node present at the top layer (min id — deterministic)
    entry = min(layers[top], key=lambda i: ids[i])
    counter = [0]
    ep = [(float(_dists(x, q, [entry])[0]), entry)]
    counter[0] += 1
    for lc in range(top, 0, -1):
        ep = _search_layer(x, layers.get(lc, {}), q, ep, 1, counter)[:1]
    n = len(ids)
    ef_eff = max(int(ef_search), int(k))
    if allowed is not None:
        # Selectivity-seeded beam width: every geometric doubling below
        # RESTARTS the layer-0 search, so entering a selective filter at
        # a small ef pays ~log2(1/sel) wasted passes (measured in
        # tools/ann_recall.py).  The allowed mask is right here — seed ef
        # near k/selectivity from the cluster's OWN exact fraction (zero
        # extra jobs, no cross-query coupling); an explicit larger ef is
        # still the floor, never lowered.
        frac = float(allowed.mean())
        if 0.0 < frac < 1.0:
            ef_eff = max(ef_eff, min(int(k / frac * 1.5), n))
    while True:
        cand = _search_layer(x, layers.get(0, {}), q, ep, ef_eff, counter)
        if allowed is not None:
            cand = [(d, i) for d, i in cand if allowed[i]]
        if len(cand) >= k or ef_eff >= n:
            return [(d, int(ids[i])) for d, i in cand[:k]], counter[0]
        ef_eff = min(n, ef_eff * 2)


def hnsw_topk(
    graph: DataFrame,
    clustered: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    ef_search: int = 64,
    allowed_col: str | None = None,
) -> DataFrame:
    """Graph-ANN top-k over ``clustered``'s (cluster_id, vec_id,
    embedding): cogroup (adjacency, vectors) per cluster, beam-search
    each cluster executor-side, take the global k.  Returns
    ``(vec_id, distance)`` with cosine distance, ordered (distance, id).
    Every cluster is searched (still O(ef·log n) per cluster, NOT a
    scan); :func:`hnsw_topk_multi` takes per-query probe lists.

    ``allowed_col``: name of a boolean column on ``clustered`` marking
    filter-passing nodes — filtered-query serving (the predicate is
    compiled JVM-side by the caller; only one boolean per node crosses
    the Arrow boundary).  The beam navigates the full graph and expands
    ``ef`` geometrically until ``k`` allowed nodes are found or the
    cluster is exhausted (:func:`hnsw_search_cluster`)."""
    _ship()
    qv = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    qn = qv / (np.linalg.norm(qv) or 1.0)
    kk, efs = int(k), int(ef_search)
    vcol, icol, ccol, acol = "embedding", "vec_id", "cluster_id", allowed_col
    cols = [ccol, icol, vcol] + ([acol] if acol else [])
    g, c = graph, clustered.select(*cols)

    def _serve(gpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        vpdf = vpdf[vpdf[vcol].notna()]
        if not len(vpdf) or not len(gpdf):
            return pd.DataFrame({"vec_id": [], "distance": []})
        ids = vpdf[icol].to_numpy(dtype=np.int64)
        x = _normalize(np.stack([np.asarray(v, dtype=np.float64) for v in vpdf[vcol]]))
        adj = list(zip(gpdf["vec_id"], gpdf["layer"], gpdf["neighbors"]))
        allowed = (
            vpdf[acol].fillna(False).to_numpy(dtype=bool) if acol else None
        )
        top, _ = hnsw_search_cluster(ids, x, adj, qn, kk, efs, allowed=allowed)
        return pd.DataFrame(
            {"vec_id": [v for _, v in top], "distance": [d for d, _ in top]}
        )

    per_cluster = (
        g.groupBy("cluster_id")
        .cogroup(c.groupBy(ccol))
        .applyInPandas(_serve, "vec_id bigint, distance double")
    )
    return per_cluster.orderBy(F.col("distance").asc(), F.col("vec_id").asc()).limit(kk)


def hnsw_topk_multi(
    graph: DataFrame,
    clustered: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    ef_search: int = 64,
    probes_per_query: dict[int, Sequence[int]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allowed_col: str | None = None,
) -> DataFrame:
    """Graph-ANN top-k for MANY queries in ONE job (the
    ``query_batch``/:func:`ivf_topk_multi` shape): the per-cluster graph
    is reconstructed ONCE per task and beam-searched for every query
    probing that cluster — Q queries cost one cogroup pass plus Q beams,
    not Q jobs.  ``probes_per_query`` maps query index -> probed cluster
    ids (None = every query searches every cluster).  Returns
    ``(q_id, vec_id, distance)``, exactly k rows per query (fewer only
    if the probed clusters hold fewer vectors), ordered within each
    query by (distance, vec_id)."""
    _ship()
    qmat = [np.asarray([float(v) for v in q], dtype=np.float64) for q in query_vecs]
    qnorm = [q / (np.linalg.norm(q) or 1.0) for q in qmat]
    probes_map = (
        None
        if probes_per_query is None
        else {int(qi): {int(c) for c in cs} for qi, cs in probes_per_query.items()}
    )
    kk, efs = int(k), int(ef_search)
    vcol, icol, ccol, acol = vec_col, id_col, "cluster_id", allowed_col
    cols = [ccol, icol, vcol] + ([acol] if acol else [])
    g, c = graph, clustered.select(*cols)
    if probes_map is not None:
        union = sorted({c for cs in probes_map.values() for c in cs})
        g = g.filter(F.col("cluster_id").isin(union))
        c = c.filter(F.col(ccol).isin(union))

    def _serve(gpdf: pd.DataFrame, vpdf: pd.DataFrame) -> pd.DataFrame:
        vpdf = vpdf[vpdf[vcol].notna()]
        if not len(vpdf) or not len(gpdf):
            return pd.DataFrame({"q_id": [], "vec_id": [], "distance": []})
        cid = int(vpdf[ccol].iloc[0])
        ids = vpdf[icol].to_numpy(dtype=np.int64)
        x = _normalize(np.stack([np.asarray(v, dtype=np.float64) for v in vpdf[vcol]]))
        adj = list(zip(gpdf["vec_id"], gpdf["layer"], gpdf["neighbors"]))
        allowed = (
            vpdf[acol].fillna(False).to_numpy(dtype=bool) if acol else None
        )
        qids, vids, ds = [], [], []
        for qi, qn in enumerate(qnorm):
            if probes_map is not None and cid not in probes_map.get(qi, ()):
                continue
            top, _ = hnsw_search_cluster(ids, x, adj, qn, kk, efs, allowed=allowed)
            for d, v in top:
                qids.append(qi)
                vids.append(v)
                ds.append(d)
        return pd.DataFrame({"q_id": qids, "vec_id": vids, "distance": ds})

    per_cluster = (
        g.groupBy("cluster_id")
        .cogroup(c.groupBy(ccol))
        .applyInPandas(_serve, "q_id int, vec_id bigint, distance double")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc()
    )
    return (
        per_cluster.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= kk)
        .drop("_rn")
    )


def _ship() -> None:
    import sys

    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(sys.modules[__name__])
