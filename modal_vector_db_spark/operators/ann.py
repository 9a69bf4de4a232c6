"""Similarity search: exact brute-force + scale-out ANN (IVF / LSH).

The reference's only index is an opt-in DuckDB HNSW (``duckvdb.py:37-41``);
its default query path is exact brute-force cosine.  Spark has no secondary
indexes, so the scale path re-expresses "index" as *data layout*:

- **IVF (inverted file) via MLlib KMeans**: cluster vectors; store
  ``cluster_id`` as a partition column.  A query embeds, finds its
  ``nprobe`` nearest centroids driver-side (tiny), and filters
  ``cluster_id IN (...)`` — Spark partition pruning skips everything else,
  which is exactly what an IVF index probe does.  Recall is tunable via
  nprobe; rerank within probed clusters is exact.

At 100 TB: centroids are O(k·dim) — always broadcastable; the big table is
never shuffled at query time (the layout did the shuffle once at build).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints (srp_band_keys_pandas)
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.distance import (
    cosine_distance,
    cosine_distance_to,
    l2_norm,
    vector_lit,
)
from modal_vector_db_spark.sources.catalog import local_frame


def brute_force_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k (baseline; ties broken by id for determinism).

    ``asc_nulls_last``: zero-norm/NULL embeddings yield NULL distance in
    Spark (vs NaN-sorts-last in DuckDB); keep them out of the top-k."""
    return (
        df.select(
            F.col(id_col),
            cosine_distance_to(F.col(vec_col), query_vec).alias("distance"),
        )
        .orderBy(F.col("distance").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def brute_force_topk_multi(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    *,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Batch top-k for MANY query vectors: broadcast the (small) query set
    against the (huge) corpus — a crossJoin that never shuffles the corpus —
    then per-query top-k via ``row_number() <= k``, which Catalyst plans
    with a **Partial-mode WindowGroupLimit** below the exchange (Spark
    3.5+): each input partition keeps only its local top-k per query
    before shuffling, so ≤ partitions×Q×k rows move, not corpus×Q.
    Plan-asserted in tests/test_plans.py.  ``payload``: see
    :func:`_topk_per_query`."""
    joined = df.crossJoin(F.broadcast(_with_q_norm(queries, q_vec_col)))
    return _topk_per_query(joined, k, vec_col, id_col, q_id_col, q_vec_col, payload)


#: each query's ``l2_norm``, projected on the (small) query side before the
#: join so the corpus-sized scoring does not fold the query vector per row
_Q_NORM = "_q_norm"


def _with_q_norm(queries: DataFrame, q_vec_col: str) -> DataFrame:
    return queries.withColumn(_Q_NORM, l2_norm(F.col(q_vec_col)))


def _topk_per_query(
    joined: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    q_id_col: str,
    q_vec_col: str,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Shared tail of every multi-query top-k: score (row, query) pairs and
    keep each query's k best — ONE definition of the distance expression,
    NULL policy, and tie-break, so the brute-force and IVF paths can never
    silently diverge.  ``joined`` carries each query's norm
    (:func:`_with_q_norm`), the same fold the plain distance would run per
    row, so the distances are bit-identical.  ``payload`` columns ride the
    window with their row, so the caller needs no second scan to resolve
    them.  Returns ``(q_id, id, *payload, distance)``."""
    from pyspark.sql.window import Window

    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        *payload,
        cosine_distance(F.col(vec_col), F.col(q_vec_col), F.col(_Q_NORM)).alias("distance"),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("distance").asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def ivf_topk_multi(
    src: DataFrame,
    probes: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    *,
    payload: Sequence[str] = (),
) -> DataFrame:
    """Batched IVF ANN: per-query partition-pruned top-k in ONE job.

    ``src``: the IVF layout already filtered to the UNION of probed
    clusters (partition pruning did the big I/O win).  ``probes``: tiny
    driver-built (q_id, cluster_id, q_vec) rows — each query once per
    probed cluster, its vector carried along.  The broadcast equi-join on
    ``cluster_id`` restricts every query to ITS probed clusters, so row
    multiplication is (queries probing this row's cluster), roughly
    Q×nprobe/nlist of the brute-force crossJoin's Q× — and since a row
    lives in exactly one cluster and (q_id, cluster_id) pairs are unique,
    no (row, query) pair is ever scored twice.  Per-query top-k plans as
    the same Partial-mode WindowGroupLimit as the brute-force twin
    (shared :func:`_topk_per_query` tail, which also carries
    ``payload``)."""
    joined = src.join(F.broadcast(_with_q_norm(probes, q_vec_col)), "cluster_id")
    return _topk_per_query(joined, k, vec_col, id_col, q_id_col, q_vec_col, payload)


#: Flat-IVF centroid-count bound: the centroid table is a driver-side
#: artifact by design (load() collects it; assign() inlines k×dim plan
#: literals; each query runs a k×dim driver matmul).  4096×1536-d float64 is
#: ~50 MB of plan+driver state — the comfortable ceiling; beyond it the
#: right structure is a two-level coarse quantizer, not a bigger flat table.
MAX_IVF_CLUSTERS = 4096


class IVFIndex:
    """KMeans-IVF: the Spark-native analog of the HNSW index (X1)."""

    def __init__(self, centroids: np.ndarray) -> None:
        self.centroids = np.asarray(centroids, dtype=np.float64)

    @classmethod
    def build(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        k: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IVFIndex":
        """Fit KMeans on the vector column (MLlib, distributed).

        ``k`` is bounded by :data:`MAX_IVF_CLUSTERS`: the centroid table is
        BY DESIGN a driver-side artifact (:meth:`load` collects it; every
        :meth:`assign` embeds k×dim literals into the plan; every query
        runs a k×dim matmul on the driver) — tiny at k ≤ 4096, a silent
        scalability cliff past it.  More clusters than that is the
        hierarchical/two-level IVF regime (coarse quantizer picks a
        centroid SHARD, fine centroids live per shard as data, not plan
        literals) — a different operator, so an oversized k fails loudly
        here instead of degrading.

        ``sample_fraction``: fit the centroids on a seeded sample instead of
        the full table — the standard IVF recipe at corpus scale (KMeans is
        multi-pass; 100 TB of vectors never needs to flow through the fit
        when ~1M sampled rows give statistically identical centroids).
        ASSIGNMENT still covers every row (:meth:`assign` is a single
        scan), so the index is exact over the full corpus either way;
        only centroid placement (and thus recall/probe balance) depends on
        the sample."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        if not 1 <= k <= MAX_IVF_CLUSTERS:
            raise ValueError(
                f"IVF num_clusters={k} out of range [1, {MAX_IVF_CLUSTERS}]: "
                "centroids are a driver-side artifact (collected on load, "
                "inlined into every assign plan, scanned per query) — past "
                f"{MAX_IVF_CLUSTERS} use a hierarchical/two-level coarse "
                "quantizer instead of growing the flat centroid table"
            )
        src = df.sample(fraction=sample_fraction, seed=seed) if sample_fraction else df
        # NULL embeddings crash array_to_vector inside the MLlib fit and
        # contribute nothing to centroids — excluded (assign gives such
        # rows NULL cluster_id; the corrupt-row-never-fails-a-job rule)
        feats = src.filter(F.col(vec_col).isNotNull()).select(
            array_to_vector(F.col(vec_col)).alias("features")
        )
        model = KMeans(k=k, seed=seed, featuresCol="features").fit(feats)
        return cls(np.array([np.asarray(c) for c in model.clusterCenters()]))

    def assign(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Add ``cluster_id`` = argmin centroid cosine distance.

        Computed as a native expression over a broadcast centroid literal
        array — no Python, no shuffle (the later partitioned write is the
        one intentional shuffle)."""
        cents = vector_lit(self.centroids)
        dists = F.transform(cents, lambda c: cosine_distance(F.col(vec_col), c))
        return df.withColumn("cluster_id", F.array_position(dists, F.array_min(dists)).cast("int") - 1)

    def nearest_centroids(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        q = np.asarray(query_vec, dtype=np.float64)
        qn = q / (np.linalg.norm(q) or 1.0)
        cn = self.centroids / np.maximum(
            np.linalg.norm(self.centroids, axis=1, keepdims=True), 1e-12
        )
        d = 1.0 - cn @ qn
        return [int(i) for i in np.argsort(d)[:nprobe]]

    def query(
        self,
        df_clustered: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """IVF probe: partition-prune to nprobe clusters, exact rerank inside.

        ``cluster_id IN (...)`` on a cluster-partitioned table hits Spark's
        partition pruning — the physical scan reads only probed partitions
        (the moral equivalent of an index lookup at any scale)."""
        probes = self.nearest_centroids(query_vec, nprobe)
        pruned = df_clustered.filter(F.col("cluster_id").isin(probes))
        return brute_force_topk(pruned, query_vec, k=k, vec_col=vec_col, id_col=id_col)

    def save(self, path: str, spark: SparkSession) -> None:
        rows = [(i, [float(x) for x in c]) for i, c in enumerate(self.centroids)]
        local_frame(spark, rows, "cluster_id int, centroid array<double>").coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)

    @classmethod
    def load(cls, path: str, spark: SparkSession) -> "IVFIndex":
        """Read the centroid table on the driver — zero Spark jobs.  It is
        one small file (:meth:`save` coalesces, :data:`MAX_IVF_CLUSTERS`
        bounds it), read on every IVF query and index sync."""
        import pyarrow.parquet as pq

        t = pq.read_table(path).sort_by("cluster_id")
        flat = t.column("centroid").combine_chunks().flatten()
        return cls(np.array(flat.to_numpy(), dtype=np.float64).reshape(len(t), -1))


class IVFIndex2L:
    """Two-level (hierarchical) IVF — the documented path past
    :data:`MAX_IVF_CLUSTERS`, where a flat centroid table stops being a
    sane driver-side artifact.

    Structure: ``k1`` COARSE centroids stay a driver artifact (bounded by
    the same flat cap), while the ``k1 × k2`` FINE centroids live as a
    coarse-partitioned TABLE — queries read only the probed coarse shards'
    fine centroids (a bounded ``nprobe1 × k2`` collect), never the full
    set, so total cluster count scales to millions without the driver or
    the plan ever holding them all.

    Build: distributed MLlib KMeans for the coarse level, then ONE
    ``applyInPandas`` pass fitting a per-shard spherical Lloyd's (numpy,
    deterministic: rows sorted, seeded init) — the fine fit never leaves
    the executors.  Assignment: coarse by codegen expression (k1 plan
    literals, same as flat), fine by one Arrow pass against a broadcast of
    the fine matrix grouped by coarse id (build/sync-time only; guarded).

    Metric is cosine throughout (normalized Lloyd ⇒ argmin L2 ≡ argmax
    cos on the sphere), matching :class:`IVFIndex` so the downstream
    probe/rerank machinery is shared unchanged."""

    #: broadcast-size guard for full fine-matrix operations (assign):
    #: k1·k2·dim·8 bytes must stay executor-broadcast sized
    MAX_FINE_BYTES = 2 << 30

    def __init__(
        self,
        coarse: np.ndarray,
        k2: int,
        fine_path: str | None = None,
        fine_rows: list | None = None,
    ) -> None:
        self.coarse = np.asarray(coarse, dtype=np.float64)
        self.k2 = int(k2)
        self.fine_path = fine_path
        # (cluster_id, coarse_id, centroid) rows — populated at build time,
        # lazily (and only fully for assign) after load
        self._fine_rows = fine_rows
        # per-handle shard cache for query-time fine-centroid reads:
        # bounded (≤ k1 shards × k2 rows — the same driver footprint a
        # FLAT index of equal total size would carry), so repeated queries
        # stop paying a parquet listing+read per probed shard.  Handles
        # are per-index-generation (rebuilds construct a new instance and
        # reset the load site), so no invalidation hook is needed.
        self._shard_cache: dict[int, list[tuple[int, list]]] = {}

    # -- build --------------------------------------------------------------
    @classmethod
    def build(
        cls,
        df: DataFrame,
        vec_col: str = "embedding",
        k1: int = 16,
        k2: int = 16,
        seed: int = 42,
        sample_fraction: float | None = None,
    ) -> "IVFIndex2L":
        if not 1 <= k1 <= MAX_IVF_CLUSTERS:
            raise ValueError(f"coarse k1={k1} out of range [1, {MAX_IVF_CLUSTERS}]")
        if k2 < 1:
            raise ValueError(f"fine k2={k2} must be >= 1")
        coarse = IVFIndex.build(
            df, vec_col=vec_col, k=k1, seed=seed, sample_fraction=sample_fraction
        )
        assigned = coarse.assign(df, vec_col).withColumnRenamed(
            "cluster_id", "coarse_id"
        )
        k2_ = int(k2)
        seed_ = int(seed)
        cap_ = 100_000  # fit rows per coarse shard

        def _fit_shard(pdf):
            import numpy as _np
            import pandas as _pd

            cid = int(pdf["coarse_id"].iloc[0])
            X = _np.asarray([list(v) for v in pdf["_v"]], dtype=_np.float64)
            # determinism: executor input order is shuffle-dependent —
            # sort rows before sampling/seeding so rebuilds reproduce
            X = X[_np.lexsort(X.T[::-1])]
            rng = _np.random.default_rng(seed_ + cid)
            if len(X) > cap_:
                X = X[rng.choice(len(X), size=cap_, replace=False)]
            norms = _np.linalg.norm(X, axis=1, keepdims=True)
            Xn = X / _np.maximum(norms, 1e-12)
            uniq = _np.unique(Xn, axis=0)
            k = min(k2_, len(uniq))
            C = uniq[rng.choice(len(uniq), size=k, replace=False)]
            for _ in range(10):  # spherical Lloyd's
                a = _np.argmax(Xn @ C.T, axis=1)
                newC = _np.stack(
                    [
                        Xn[a == j].mean(axis=0) if (a == j).any() else C[j]
                        for j in range(k)
                    ]
                )
                n2 = _np.linalg.norm(newC, axis=1, keepdims=True)
                newC = newC / _np.maximum(n2, 1e-12)
                if _np.allclose(newC, C):
                    break
                C = newC
            return _pd.DataFrame(
                {
                    "coarse_id": cid,
                    "cluster_id": [cid * k2_ + j for j in range(k)],
                    "centroid": [list(map(float, c)) for c in C],
                }
            )

        # applyInPandas materializes each group as ONE pandas frame — at
        # corpus scale a coarse shard is corpus/k1 rows, so the fit input
        # must be pre-sampled BEFORE the groupBy (the in-group rng cap is
        # then just the hard guarantee for skewed coarse distributions).
        # ~3× the per-shard cap in expectation keeps the post-sample cap
        # statistically irrelevant for balanced shards.
        # NULL coarse ids (NULL or zero-norm embeddings: cosine to every
        # centroid is NULL) contribute nothing to centroids — and the
        # NULL group's int(coarse_id) would crash the whole fit (review
        # finding; the flat IVFIndex quietly excludes the same rows)
        fit_src = assigned.filter(F.col("coarse_id").isNotNull()).select(
            "coarse_id", F.col(vec_col).cast("array<double>").alias("_v")
        )
        total = fit_src.count()
        target = 3.0 * k1 * cap_
        if total > target:
            fit_src = fit_src.sample(fraction=target / total, seed=seed)
        fine = fit_src.groupBy("coarse_id").applyInPandas(
            _fit_shard, "coarse_id int, cluster_id int, centroid array<double>"
        )
        rows = fine.collect()  # k1×k2 bounded — build-time driver state
        fine_rows = [
            (int(r["cluster_id"]), int(r["coarse_id"]), list(r["centroid"]))
            for r in rows
        ]
        # Every coarse shard must own at least one fine centroid: the fit
        # input is pre-SAMPLED, so a coarse cluster can be empty at fit
        # time yet still win argmin for some full-corpus row at assign
        # time (or for a later insert) — an unseeded shard would then
        # KeyError the write path.  Seed such shards with their own
        # (normalized) coarse centroid: any row routed there gets the one
        # sane fine assignment that exists.
        present = {co for _, co, _ in fine_rows}
        for cid in range(len(coarse.centroids)):
            if cid not in present:
                c = np.asarray(coarse.centroids[cid], dtype=np.float64)
                c = c / max(float(np.linalg.norm(c)), 1e-12)
                fine_rows.append((cid * k2_, cid, [float(x) for x in c]))
        return cls(
            coarse.centroids,
            k2_,
            fine_rows=fine_rows,
        )

    # -- assignment ----------------------------------------------------------
    def _fine_matrix(self):
        """(cluster_ids, coarse_ids, matrix) — the FULL fine set, loaded on
        demand (assign-time only; queries never call this) on the driver
        with pyarrow, zero Spark jobs."""
        if self._fine_rows is None:
            import pyarrow.parquet as pq

            t = pq.read_table(self.fine_path).sort_by("cluster_id")
            self._fine_rows = list(
                zip(
                    t.column("cluster_id").to_pylist(),
                    t.column("coarse_id").to_pylist(),
                    t.column("centroid").to_pylist(),
                )
            )
        ids = np.array([r[0] for r in self._fine_rows], dtype=np.int64)
        co = np.array([r[1] for r in self._fine_rows], dtype=np.int64)
        mat = np.array([r[2] for r in self._fine_rows], dtype=np.float64)
        if mat.nbytes > self.MAX_FINE_BYTES:
            raise ValueError(
                f"fine centroid matrix is {mat.nbytes >> 20} MiB — past the "
                "broadcast guard; lower k1*k2 or raise MAX_FINE_BYTES "
                "deliberately"
            )
        return ids, co, mat

    def assign(self, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Add the global fine ``cluster_id``: coarse by codegen expression,
        fine by codegen too while the fine set fits the plan-literal budget
        (≤ MAX_IVF_CLUSTERS centroids — the same cap the flat index lives
        under), else by ONE Arrow pass over a broadcast fine matrix (rows
        only ever compare against their own shard's ≤ k2 centroids).

        The codegen path (round-13, guide §4.1) removes the per-batch
        JVM→Python→JVM round-trip that shipped every row's embedding both
        ways; at the scale where a 2L index is mandatory (fine set past the
        literal budget) the Arrow path remains the design.  Assignment
        semantics are identical up to float rounding at exact-tie cluster
        boundaries (numpy row-normalized argmax vs codegen shared-norm
        argmax — the row norm is constant across candidates, so the argmax
        is the same in exact arithmetic); probe/rerank correctness never
        depends on boundary choices (full-probe is exact either way, and
        bounded-probe recall is gated by tests/test_ann.py)."""
        coarse_assigned = IVFIndex(self.coarse).assign(df, vec_col).withColumnRenamed(
            "cluster_id", "_coarse_id"
        )
        ids_all, co_all, mat_all = self._fine_matrix()
        if len(ids_all) <= MAX_IVF_CLUSTERS:
            return self._assign_by_expression(
                coarse_assigned, vec_col, ids_all, co_all, mat_all
            )
        # the fine matrix is immutable per index generation: broadcast it
        # ONCE per handle and reuse across assign calls — the engine
        # assigns every ingest batch, and re-broadcasting up to
        # MAX_FINE_BYTES per batch leaked executor memory and paid the
        # serialization each time
        bc = getattr(self, "_assign_bc", None)
        if bc is None:
            ids, co, mat = self._fine_matrix()
            bc = df.sparkSession.sparkContext.broadcast(
                {int(c): (ids[co == c], mat[co == c]) for c in np.unique(co)}
            )
            self._assign_bc = bc
        out_fields = coarse_assigned.schema.fields
        schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
        ) + ", cluster_id int"
        vcol = vec_col

        def _assign(batches):
            import numpy as _np
            import pandas as _pd

            shards = bc.value
            # fallback for a coarse id with no fine shard (possible only
            # on layouts saved before shards were seeded at build time):
            # the GLOBAL fine set, assembled lazily from the broadcast —
            # globally-nearest fine centroid is the one assignment that
            # keeps the row findable by every probe order
            fb = None
            for pdf in batches:
                cvals = pdf["_coarse_id"].to_numpy()
                # NULL coarse (NULL/zero-norm embedding): keep the row
                # with cluster_id NULL — the flat path's convention; one
                # bad row must never fail the ingest job (review finding)
                valid = _pd.notna(cvals) & pdf[vcol].notna().to_numpy()
                res = None
                if valid.any():
                    X = _np.asarray(
                        [list(v) for v in pdf[vcol][valid]], dtype=_np.float64
                    )
                    n = _np.linalg.norm(X, axis=1, keepdims=True)
                    Xn = X / _np.maximum(n, 1e-12)
                    cv = cvals[valid]
                    res = _np.empty(len(cv), dtype=_np.int64)
                    for c in _np.unique(cv):
                        m = cv == c
                        sh = shards.get(int(c))
                        if sh is None:
                            if fb is None:
                                fb = (
                                    _np.concatenate([v[0] for v in shards.values()]),
                                    _np.vstack([v[1] for v in shards.values()]),
                                )
                            sh = fb
                        fids, fmat = sh
                        res[m] = fids[_np.argmax(Xn[m] @ fmat.T, axis=1)]
                pdf = pdf.copy()
                it = iter(res) if res is not None else iter(())
                pdf["cluster_id"] = _pd.array(
                    [int(next(it)) if v else None for v in valid], dtype="Int32"
                )
                yield pdf

        return (
            coarse_assigned.mapInPandas(_assign, schema)
            .drop("_coarse_id")
        )

    def _assign_by_expression(
        self,
        coarse_assigned: DataFrame,
        vec_col: str,
        ids: np.ndarray,
        co: np.ndarray,
        mat: np.ndarray,
    ) -> DataFrame:
        """Codegen fine assignment (see :meth:`assign`): per coarse shard, a
        first-argmax over dot(vec, normalized fine centroids) as plan
        literals — the row's own norm is a shared positive denominator, so
        it cancels out of the argmax and the row is never normalized.
        Mirrors the Arrow path's conventions exactly: NULL coarse or NULL
        embedding → NULL cluster_id; a coarse id with no fine shard (legacy
        pre-seeded layouts) falls back to the GLOBAL fine set in the same
        cluster-id order; ties pick the first (lowest-cluster-id) match."""
        from modal_vector_db_spark.functions.distance import dot_product

        nmat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)

        def pick(sids: np.ndarray, smat: np.ndarray):
            sims = F.array(
                *[dot_product(F.col(vec_col), vector_lit(c)) for c in smat]
            )
            pos = F.array_position(sims, F.array_max(sims))
            return F.element_at(
                F.array(*[F.lit(int(i)) for i in sids]), pos.cast("int")
            )

        expr = None
        for c in np.unique(co):
            m = co == c
            branch = F.col("_coarse_id") == int(c)
            expr = (
                F.when(branch, pick(ids[m], nmat[m]))
                if expr is None
                else expr.when(branch, pick(ids[m], nmat[m]))
            )
        expr = expr.otherwise(pick(ids, nmat))  # missing-shard fallback
        cluster_id = F.when(
            F.col("_coarse_id").isNull() | F.col(vec_col).isNull(),
            F.lit(None),
        ).otherwise(expr)
        return coarse_assigned.withColumn(
            "cluster_id", cluster_id.cast("int")
        ).drop("_coarse_id")

    # -- query ---------------------------------------------------------------
    def nearest_centroids(self, query_vec: Sequence[float], nprobe: int) -> list[int]:
        """Top-``nprobe`` FINE cluster ids: coarse matmul on the driver
        (k1), then fine centroids of nearest coarse shards read shard-dir
        by shard-dir (bounded collect) until ≥ max(4·nprobe, nprobe+k2)
        candidates, reranked by cosine.  The full fine table is never
        loaded."""
        q = np.asarray(query_vec, dtype=np.float64)
        qn = q / (np.linalg.norm(q) or 1.0)
        cn = self.coarse / np.maximum(
            np.linalg.norm(self.coarse, axis=1, keepdims=True), 1e-12
        )
        order = np.argsort(1.0 - cn @ qn)
        want = max(4 * nprobe, nprobe + self.k2)
        cands: list[tuple[int, float]] = []
        for c in order:
            for cid, vec in self._fine_of_coarse(int(c)):
                v = np.asarray(vec, dtype=np.float64)
                v = v / (np.linalg.norm(v) or 1.0)
                cands.append((cid, float(1.0 - v @ qn)))
            if len(cands) >= want:
                break
        cands.sort(key=lambda t: (t[1], t[0]))
        return [cid for cid, _ in cands[:nprobe]]

    def query(
        self,
        df_clustered: DataFrame,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Same contract as :meth:`IVFIndex.query`: prune to the probed
        FINE clusters, exact rerank inside."""
        probes = self.nearest_centroids(query_vec, nprobe)
        pruned = df_clustered.filter(F.col("cluster_id").isin(probes))
        return brute_force_topk(pruned, query_vec, k=k, vec_col=vec_col, id_col=id_col)

    def _fine_of_coarse(self, coarse_id: int) -> list[tuple[int, list]]:
        if self._fine_rows is not None:
            return [(cid, cen) for cid, co, cen in self._fine_rows if co == coarse_id]
        cached = self._shard_cache.get(coarse_id)
        if cached is not None:
            return cached
        import os as _os

        shard = _os.path.join(self.fine_path, f"coarse_id={coarse_id}")
        if not _os.path.isdir(shard):
            self._shard_cache[coarse_id] = []
            return []
        import pyarrow.parquet as pq

        t = pq.read_table(shard, columns=["cluster_id", "centroid"])
        out = list(zip(t.column("cluster_id").to_pylist(), t.column("centroid").to_pylist()))
        self._shard_cache[coarse_id] = out
        return out

    # -- persistence ----------------------------------------------------------
    def save(self, path: str, spark: SparkSession) -> None:
        """Coarse table at ``path`` (same layout the flat loader uses for
        ITS centroids), fine table partitioned by ``coarse_id`` at
        ``path + '__fine'``, plus a JSON marker ``path + '__2l.json'`` that
        :func:`load_ivf_index` sniffs — a flat loader pointed at ``path``
        without the factory would silently read coarse centroids as the
        whole index, so every engine load site goes through the factory."""
        import json as _json
        import os as _os

        # a load()ed handle has _fine_rows=None until assign() lazily
        # populates it — materialize first, or re-save crashes
        # order-dependently (review finding)
        self._fine_matrix()
        # the coarse table IS the flat layout: one definition (IVFIndex.save)
        IVFIndex(self.coarse).save(path, spark)
        fine_path = path + "__fine"
        local_frame(
            spark,
            [(co, cid, cen) for cid, co, cen in self._fine_rows],
            "coarse_id int, cluster_id int, centroid array<double>",
        ).repartition(1, "coarse_id").write.mode("overwrite").partitionBy(
            "coarse_id"
        ).parquet(fine_path)
        import uuid as _uuid

        marker = {
            "k1": len(self.coarse),
            "k2": self.k2,
            "fine_path": fine_path,
            # ACTUAL emitted fine-cluster count: small / duplicate-heavy
            # shards fit fewer than k2 clusters, so k1*k2 would overcount
            # — index_stats and rebuild sizing must use the real number
            "clusters_total": len(self._fine_rows),
            # unique per build: handle caches key on THIS, not on stat
            # metadata — a same-size rebuild inside one mtime tick must
            # still invalidate (coarse-mtime filesystems)
            "build_id": _uuid.uuid4().hex,
        }
        tmp = path + "__2l.json.tmp"
        with open(tmp, "w") as f:
            _json.dump(marker, f)
        _os.replace(tmp, path + "__2l.json")

    @classmethod
    def load(cls, path: str, spark: SparkSession) -> "IVFIndex2L":
        import json as _json

        with open(path + "__2l.json") as f:
            marker = _json.load(f)
        # coarse table is the flat layout: ONE reader (IVFIndex.load)
        return cls(
            IVFIndex.load(path, spark).centroids,
            int(marker["k2"]),
            fine_path=marker["fine_path"],
        )


def load_ivf_index(path: str, spark: SparkSession):
    """The ONE loader every engine site uses: sniffs the two-level marker
    and returns :class:`IVFIndex2L` or the flat :class:`IVFIndex`."""
    import os as _os

    if _os.path.exists(path + "__2l.json"):
        return IVFIndex2L.load(path, spark)
    return IVFIndex.load(path, spark)


def calibrate_nprobe(
    ivf,
    sampled: list[tuple[Sequence[float], int]],
    total_clusters: int,
    target_recall: float = 0.7,
) -> dict:
    """Derive the default ``nprobe`` from the index's own measured
    recall@k-vs-scan-fraction curve instead of a constant (the FAISS
    autotune stance: the right probe count is a property of THIS corpus's
    cluster geometry, not a universal number).

    ``sampled`` is a bounded, deterministic (vec, cluster_id) sample of
    the clustered corpus; its first 16 rows double as query vectors.
    For each swept nprobe: recall@k (k = 10) = the fraction of each
    query's EXACT cosine top-k (over the sample) whose rows live in the
    probed clusters — exact-rerank-inside-probes means partition
    membership IS recall; scan fraction = probed rows / sample rows (at
    100 TB the scan fraction is the query cost: probed partitions are
    the only bytes read).  Returns ``{"default_nprobe", "target_recall",
    "k", "curve": [{nprobe, recall, scan_fraction}, ...]}`` where
    default_nprobe is the SMALLEST sweep point reaching
    ``target_recall`` (the whole-index point is always swept, so a
    default always exists — recall there is 1.0 by construction).

    Pure driver-side numpy over the bounded sample + one
    ``nearest_centroids`` call per (query, sweep point) — works for flat
    and two-level indexes through the same probe API."""
    if not sampled:
        raise ValueError("calibrate_nprobe: empty sample")
    k = min(10, len(sampled))
    x = np.asarray([list(v) for v, _ in sampled], dtype=np.float64)
    clusters = np.asarray([c for _, c in sampled], dtype=np.int64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rows_per_cluster = {int(c): int(n) for c, n in zip(*np.unique(clusters, return_counts=True))}
    queries = x[:16]
    qn = queries / np.maximum(np.linalg.norm(queries, axis=1, keepdims=True), 1e-12)
    sims = qn @ xn.T  # (Q, N) cosine
    # exact top-k rows per query (ties by index order — deterministic)
    topk = np.argsort(-sims, axis=1, kind="stable")[:, :k]

    sweep: list[int] = []
    p = 1
    while p < total_clusters:
        sweep.append(p)
        p *= 2
    sweep.append(total_clusters)
    curve = []
    default = total_clusters
    for p in sweep:
        recalls, fracs = [], []
        for qi in range(queries.shape[0]):
            probes = set(ivf.nearest_centroids(queries[qi], p))
            hit = sum(1 for i in topk[qi] if int(clusters[i]) in probes)
            recalls.append(hit / k)
            fracs.append(
                sum(rows_per_cluster.get(c, 0) for c in probes) / len(sampled)
            )
        r, f = float(np.mean(recalls)), float(np.mean(fracs))
        curve.append({"nprobe": p, "recall": round(r, 4), "scan_fraction": round(f, 4)})
        if r >= target_recall and p < default:
            default = p
    return {
        "default_nprobe": int(default),
        "target_recall": float(target_recall),
        "k": int(k),
        "curve": curve,
    }


# ---------------------------------------------------------------------------
# Deterministic sign-random-projection (SRP) LSH — the oracle-able
# embedding-dedup scale path.
# ---------------------------------------------------------------------------
# Quantization scale for exact cross-engine arithmetic: component →
# floor(x·10⁶) is an integer-valued double; |qv|≤~10⁶ (unit-norm inputs),
# |w|≤10³, dim≤~10³ ⇒ every dot product stays < 2⁵³, so double summation
# is EXACT in any order on any engine.
_SRP_SCALE = 1_000_000
_SRP_W = 1_000  # hyperplane weights drawn from [-1000, 1000]


def srp_hyperplanes(num_planes: int, dim: int) -> list[list[int]]:
    """Integer hyperplanes derived from md5 — reproducible everywhere with
    no RNG-library dependence (the same formula is trivially re-derivable
    in any engine): w[p][j] = md5_60bit(f"srp_{p}_{j}") % 2001 - 1000.

    Uniform-cube directions are a mild approximation of uniform-sphere
    (classic SRP uses gaussians) — fine for banding: collision probability
    still decreases monotonically with angle, and identical vectors agree
    on every plane regardless."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [h(f"srp_{p}_{j}") % (2 * _SRP_W + 1) - _SRP_W for j in range(dim)]
        for p in range(num_planes)
    ]


def _srp_quantize(vec_col: str) -> Column:
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * F.lit(_SRP_SCALE)).cast("double")
    )


def srp_band_keys(
    vec_col: str, planes: list[list[int]], bands: int
) -> Column:
    """array<struct<band:int, key:int>> of SRP band keys.

    Per band: ``bits_per_band`` sign bits of exact integer projections,
    packed into one int key — 2^bits buckets per band.  Identical vectors
    share every band; the bucket count (and thus pairwise work per bucket)
    is tuned by adding planes, never by the cardinality of a data column."""
    bits_per_band = len(planes) // bands
    qv = _srp_quantize(vec_col)
    dots = [
        F.aggregate(
            F.zip_with(
                qv,
                F.array(*[F.lit(float(w)) for w in plane]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for plane in planes
    ]
    keys = [
        sum(
            (F.when(dots[b * bits_per_band + r] >= 0, F.lit(1 << r)).otherwise(F.lit(0)))
            for r in range(bits_per_band)
        )
        for b in range(bands)
    ]
    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), keys[b].cast("int").alias("key"))
            for b in range(bands)
        ]
    )


def srp_band_keys_pandas(planes: list[list[int]], bands: int):
    """Arrow-vectorized twin of :func:`srp_band_keys`: a pandas_udf whose
    per-batch body is one BLAS matmul (rows × dim @ dim × planes) instead
    of per-element codegen lambdas — measured ~10× faster per row at 16×
    fixture scale, and the gap widens with planes × dim.

    BIT-IDENTICAL to the native expression: quantized components and
    hyperplane weights are integer-valued doubles, every dot product stays
    below 2^53, so float64 matmul is exact in ANY summation order — numpy's
    SIMD blocking cannot change a single sign.  (Pinned by
    ``tests/test_ann.py::test_srp_pandas_keys_match_expr``.)

    Returns a udf mapping the vector column → array<int> of per-band keys
    (index = band id; pair with ``posexplode``)."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (planes, dim)
    bits_per_band = len(planes) // bands
    pow2 = (1 << np.arange(bits_per_band)).astype(np.int64)

    @pandas_udf("array<int>")
    def _keys(vecs: pd.Series) -> pd.Series:
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        Q = np.floor(X * float(_SRP_SCALE))
        S = (Q @ P.T) >= 0.0  # (rows, planes) sign bits — exact, see above
        K = (S.reshape(len(S), -1, bits_per_band) * pow2).sum(axis=2)
        return pd.Series(K.astype("int32").tolist())

    return _keys


def srp_band_keys_sql(
    vec_expr: str, planes: list[list[int]], bands: int
) -> list[tuple[int, str]]:
    """DuckDB transliteration of :func:`srp_band_keys`: per band, the SQL
    expression computing the packed key over ``vec_expr``.  Exactness note
    as above — integer-valued doubles below 2^53 sum exactly."""
    bits_per_band = len(planes) // bands
    qv = f"list_transform({vec_expr}, x -> floor(x::DOUBLE * {_SRP_SCALE}))"
    out = []
    for b in range(bands):
        terms = []
        for r in range(bits_per_band):
            w = planes[b * bits_per_band + r]
            lit = "[" + ", ".join(f"{x}.0" for x in w) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product({qv}, {lit}) >= 0 THEN {1 << r} ELSE 0 END)"
            )
        out.append((b, "(" + " + ".join(terms) + ")"))
    return out


#: :func:`cosine_srp_pairs`' verify-stage skew guard, shared with the
#: text-LSH family (``operators/dedup.py:_capped_pair_frame``): a bucket
#: larger than the cap (near-identical embedding mega-cluster: re-encoded
#: boilerplate, zero vectors from a broken encoder) emits hub-star edges
#: (O(m)) instead of all C(m,2) pairs.  ``None`` keeps the exact contract.
_SRP_BUCKET_CAP: int | None = None
#: :func:`cosine_srp_pairs` carries the embeddings through the band
#: shuffle up to this dim and joins them back above it
_CARRY_VECTORS_MAX_DIM = 512


def cosine_srp_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    *,
    num_planes: int = 24,
    bands: int = 4,
    impl: str = "expr",
    verify_impl: str = "expr",
) -> DataFrame:
    """Embedding near-dup pairs via deterministic SRP-LSH banding + exact
    cosine verify ≥ threshold over ``df``'s (vec_id, embedding) →
    (id_a, id_b, cos_sim).

    ``impl``: ``"expr"`` (native Catalyst HOFs — zero Python, the
    oracle-parity default) or ``"pandas"`` (Arrow-batched numpy matmul via
    :func:`srp_band_keys_pandas` — same bits, ~10× faster per row once
    planes × dim is large; the right choice at real corpus scale).

    ``verify_impl``: same choice for the candidate-pair cosine verify (the
    dominant cost once banding is tuned — candidates scale linearly with
    rows and each pays a dim-length dot product).  The pandas verify is
    exact only to ~1e-12 relative (numpy summation order), so keep
    ``"expr"`` for oracle-compared runs; at corpus scale the threshold is
    physical and the Arrow path is the right default.

    ``dim`` is the (static) embedding dimensionality — array length is data
    in Spark's schema, and hyperplanes must be fixed up front.

    Scale shape: per-row key computation (codegen) → explode ``bands``
    keys → ONE shuffle on (band, key) → within-bucket pairs + inline
    cosine verify.  Shuffle volume O(rows × bands × row_width); bucket
    sizes shrink geometrically with bits-per-band and are tuned by ADDING
    PLANES, never by the cardinality of some low-cardinality data column
    (the quadratic-blocking trap).  Unlike MLlib's approxSimilarityJoin
    the projections are integer-exact and engine-independent, so results
    are oracle-comparable bit-for-bit.

    Up to ``_CARRY_VECTORS_MAX_DIM`` the embedding rides through the band
    shuffle and pairs verify inline in the bucket self-join — one shuffle
    total, both sides served by one ReusedExchange.  Above it bands
    shuffle only (id, band, key) and candidates join back to the vectors,
    trading two extra joins for a dim-independent shuffle width."""
    if bands < 1 or num_planes % bands:
        # the same degenerate-band guard as the minhash engine: a
        # non-divisor silently dropped trailing planes in the expr impl
        # (recall differs from the request) while the 'bit-identical'
        # pandas impl crashed on reshape; bands > num_planes gave
        # 0-bit keys (one global bucket -> O(n²)) — review finding
        raise ValueError(
            f"num_planes ({num_planes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    from modal_vector_db_spark.functions.distance import (
        cosine_similarity,
        cosine_similarity_pandas_udf,
    )
    from modal_vector_db_spark.operators.dedup import _banded_candidates

    vec_col, id_col = "embedding", "vec_id"
    carry_vectors = dim <= _CARRY_VECTORS_MAX_DIM
    bucket_cap = _SRP_BUCKET_CAP
    if impl not in ("expr", "pandas") or verify_impl not in ("expr", "pandas"):
        raise ValueError(f"impl/verify_impl must be 'expr' or 'pandas'")
    if verify_impl == "pandas":
        _pcos = cosine_similarity_pandas_udf()
        cos_fn = lambda a, b: _pcos(a, b)  # noqa: E731
    else:
        cos_fn = cosine_similarity
    planes = srp_hyperplanes(num_planes, dim)
    carry = [vec_col] if carry_vectors else []
    if impl == "pandas":
        keys_udf = srp_band_keys_pandas(planes, bands)
        banded_raw = df.select(
            id_col, *carry, F.posexplode(keys_udf(F.col(vec_col))).alias("band", "key")
        )
    else:
        banded_raw = df.select(
            id_col, *carry, F.explode(srp_band_keys(vec_col, planes, bands)).alias("bk")
        ).select(
            id_col, *carry, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        )
    banded = (
        banded_raw
        # Exchange barrier on the join keys: without it CollapseProject
        # inlines the (large) projection expression into BOTH sides of the
        # bucket self-join, where it leaves whole-stage codegen and is
        # re-evaluated per candidate pair — measured minutes instead of
        # seconds even at sf0.1.  With the barrier each side computes keys
        # once per row map-side, the self-join reuses ONE exchange, and
        # the shuffle already satisfies the join's
        # hashpartitioning(band, key) requirement.
        .repartition("band", "key")
    )
    if carry_vectors:
        from modal_vector_db_spark.operators.dedup import _capped_pair_frame

        cs = cos_fn(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b"))
        return (
            _capped_pair_frame(
                banded, id_col, payload=(vec_col,), bucket_cap=bucket_cap
            )
            .select("id_a", "id_b", cs.alias("cos_sim"))
            .filter(F.col("cos_sim") >= threshold)
            .distinct()
        )
    cand = _banded_candidates(banded, id_col, bucket_cap=bucket_cap)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    cs = cos_fn(F.col("_va"), F.col("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cs)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
