"""Vector-engine core queries: KNN (P1/T1/F1), filtered KNN, DISTINCT
template parity (P2), COUNT (A1), idempotent-insert anti-join (S5).

The query vector is row ``vec_id = 0``'s embedding — deterministic and
available to both engines, standing in for the embedded query text of
``vdb.py:63``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.distance import cosine_distance, vector_lit
from modal_vector_db_spark.harness import load, register, scale_out
from modal_vector_db_spark.operators.knn import knn


_QV_CACHE: dict[tuple[str, int], list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """The demo query vector (row ``vec_id``'s embedding).  Memoized: it is
    an INPUT to the measured query (the reference embeds the query string
    driver-side before the SQL runs, vdb.py:63), so refetching it per call
    would bill an unrelated Spark job to every KNN measurement."""
    key = (sf_dir, vec_id)
    if key not in _QV_CACHE:
        row = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .head()
        )
        _QV_CACHE[key] = [float(x) for x in row["embedding"]]
    return _QV_CACHE[key]


_QV_SQL = "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)"


def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship read path: exact cosine top-10 (duckvdb.py:110-118 template).

    Physical plan: parquet scan (embedding+vec_id only) → codegen'd
    cosine expression → TakeOrderedAndProject(k=10).  No shuffle.
    """
    emb = scale_out(load(spark, sf_dir, "embeddings"))
    out = knn(
        emb,
        _query_vec(spark, sf_dir),
        k=10,
        vec_col="embedding",
        id_cols=("vec_id",),
        tie_break="vec_id",
    )
    return out.withColumn("distance", F.round(F.col("distance"), 6))


def knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered KNN: predicate evaluated BEFORE distance + top-k (the WHERE
    slot of duckvdb.py:113); filter pushed to the parquet scan."""
    emb = scale_out(load(spark, sf_dir, "embeddings"))
    out = knn(
        emb,
        _query_vec(spark, sf_dir),
        k=10,
        vec_col="embedding",
        id_cols=("vec_id",),
        filter_col=F.col("label") == 3,
        tie_break="vec_id",
    )
    return out.withColumn("distance", F.round(F.col("distance"), 6))


@register(
    "knn_topk",
    oracle=f"""
    SELECT * FROM (
      SELECT 'all' AS kind, vec_id,
             round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
      FROM embeddings
      ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}) ASC, vec_id ASC
      LIMIT 10)
    UNION ALL
    SELECT * FROM (
      SELECT 'filtered' AS kind, vec_id,
             round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
      FROM embeddings
      WHERE label = 3
      ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}) ASC, vec_id ASC
      LIMIT 10)
    """,
)
def knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship KNN surface, tagged: the unfiltered exact top-10 and the
    label-filtered top-10 as one driver entry (each branch keeps its own
    TakeOrderedAndProject plan — asserted separately in tests/test_plans.py
    on the underlying :func:`knn_exact` / :func:`knn_filtered`)."""
    a = knn_exact(spark, sf_dir).select(F.lit("all").alias("kind"), "*")
    b = knn_filtered(spark, sf_dir).select(F.lit("filtered").alias("kind"), "*")
    return a.union(b)


@register(
    "knn_distinct_template",
    oracle=f"""
    SELECT DISTINCT vec_id, label,
           round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
    FROM embeddings
    ORDER BY distance ASC, vec_id ASC
    LIMIT 5
    """,
)
def knn_distinct_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full reference template parity incl. the (redundant) SELECT DISTINCT
    before ORDER BY/LIMIT (P2, duckvdb.py:111)."""
    emb = scale_out(load(spark, sf_dir, "embeddings"))
    qv = _query_vec(spark, sf_dir)
    return (
        emb.select(
            "vec_id",
            "label",
            F.round(cosine_distance(F.col("embedding"), vector_lit(qv)), 6).alias("distance"),
        )
        .distinct()
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
        .limit(5)
    )


@register("num_rows", oracle="SELECT count(*) AS n FROM embeddings")
def num_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: COUNT(*) (duckvdb.py:122-123)."""
    return load(spark, sf_dir, "embeddings").agg(F.count(F.lit(1)).alias("n"))


@register(
    "insert_idempotent",
    oracle="""
    SELECT doc_id FROM documents
    WHERE doc_id % 2 = 0
      AND doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id < 100)
    """,
)
def insert_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: ON CONFLICT (id) DO NOTHING as a left-anti join (duckvdb.py:57-61).

    Batch = even doc_ids; existing table = doc_id < 100; result = the rows
    the idempotent insert would actually append.  At scale the incoming
    batch broadcasts; the base table is scanned on its id column only.
    """
    docs = load(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 2 == 0).dropDuplicates(["doc_id"])
    existing = docs.filter(F.col("doc_id") < 100).select("doc_id")
    return batch.join(existing, "doc_id", "left_anti").select("doc_id")


@register(
    "ann_topk_multi",
    oracle="""
    SELECT q_id, vec_id, round(d, 6) AS distance FROM (
      SELECT q.vec_id AS q_id, e.vec_id,
             1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS d,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY 1 - list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) ASC,
                        e.vec_id ASC) AS rn
      FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
    ) t WHERE rn <= 5
    UNION ALL
    SELECT * FROM (
      WITH dl AS (
        SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl FROM documents
      ),
      stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
      tf AS (
        SELECT d.doc_id, term, count(*)::DOUBLE AS tf
        FROM documents d, unnest(string_split(d.text, ' ')) AS u(term)
        WHERE term IN ('spark', 'merge', 'window')
        GROUP BY d.doc_id, term
      ),
      dfreq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY term),
      lex AS (
        SELECT tf.doc_id,
               round(sum( ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                          * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) ), 6) AS score
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s
        GROUP BY tf.doc_id
      ),
      lex_rank AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS r
        FROM lex ORDER BY score DESC, doc_id ASC LIMIT 50
      ),
      qv AS (SELECT embedding FROM embeddings WHERE vec_id = 7),
      vec AS (
        SELECT e.vec_id AS doc_id,
               round(1 - list_cosine_similarity(e.embedding::DOUBLE[], qv.embedding::DOUBLE[]), 6) AS d
        FROM embeddings e CROSS JOIN qv
      ),
      vec_rank AS (
        SELECT doc_id, row_number() OVER (ORDER BY d ASC, doc_id ASC) AS r
        FROM vec ORDER BY d ASC, doc_id ASC LIMIT 50
      )
      SELECT -1 AS q_id, coalesce(l.doc_id, v.doc_id) AS vec_id,
             round(coalesce(1.0 / (60 + l.r), 0) + coalesce(1.0 / (60 + v.r), 0), 6) AS distance
      FROM lex_rank l FULL OUTER JOIN vec_rank v ON l.doc_id = v.doc_id
      ORDER BY distance DESC, vec_id ASC LIMIT 10
    )
    """,
)
def ann_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-search surface, tagged: (a) batch top-5 for 5 query
    vectors at once — the query set broadcast against the corpus (crossJoin
    that never shuffles the big side) + per-query window rank, the
    many-queries shape a retrieval pipeline runs at scale — and (b) a
    ``q_id = -1`` block: HYBRID retrieval (BM25 over ``documents`` fused
    with cosine KNN over the aligned ``embeddings`` by reciprocal-rank
    fusion; :mod:`modal_vector_db_spark.operators.hybrid`), the fused
    top-10 with ``distance`` carrying the RRF score."""
    from modal_vector_db_spark.operators.ann import brute_force_topk_multi
    from modal_vector_db_spark.operators.hybrid import bm25_scores, rrf_fuse

    emb = scale_out(load(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = brute_force_topk_multi(emb, queries, k=5)
    multi = out.withColumn("distance", F.round(F.col("distance"), 6))

    docs = scale_out(load(spark, sf_dir, "documents"))
    lex = bm25_scores(docs, ["spark", "merge", "window"])
    qv = _query_vec(spark, sf_dir, vec_id=7)
    vec = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(cosine_distance(F.col("embedding"), vector_lit(qv)), 6).alias("distance"),
    )
    hybrid = rrf_fuse(lex, vec, top_n=50, k=10).select(
        F.lit(-1).cast("bigint").alias("q_id"),
        F.col("doc_id").alias("vec_id"),
        F.col("score").alias("distance"),
    )
    return multi.union(hybrid)


_IVF_CACHE: dict[str, object] = {}


_IVF_K = 8


def _ivf_query(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Shared IVF probe path.  The KMeans fit is the INDEX BUILD — a
    one-time cost, exactly like the reference's opt-in HNSW build
    (duckvdb.py:37-45) — so the fitted centroids are memoized per sf_dir;
    the measured query path is assign-filter-rerank."""
    from modal_vector_db_spark.operators.ann import IVFIndex

    emb = scale_out(load(spark, sf_dir, "embeddings"))
    ivf = _IVF_CACHE.get(sf_dir)
    if ivf is None:
        ivf = _IVF_CACHE[sf_dir] = IVFIndex.build(emb, k=_IVF_K)
    clustered = ivf.assign(emb)
    out = ivf.query(clustered, _query_vec(spark, sf_dir), k=10, nprobe=nprobe)
    return out.withColumn("distance", F.round(F.col("distance"), 6))


@register(
    "knn_ivf_exact",
    # Probing ALL clusters makes the IVF path exact, so the brute-force KNN
    # SQL is a valid oracle: this drives the full index machinery (assign →
    # cluster filter → rerank) through the driver's hash gate instead of
    # registering an approximate query the oracle can't express.  Two arms,
    # same trick: `flat` (single-level IVF) and `2l` (two-level hierarchical
    # IVF — coarse driver-side, fine centroids a coarse-partitioned table
    # read shard-by-shard; full-probe recovers exact, so the SAME SQL is a
    # valid oracle for the hierarchy's probe→prune→rerank path too).
    oracle=f"""
    (SELECT 'flat' AS kind, vec_id,
            round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
     FROM embeddings
     ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}) ASC, vec_id ASC
     LIMIT 10)
    UNION ALL
    (SELECT '2l' AS kind, vec_id,
            round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
     FROM embeddings
     ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}) ASC, vec_id ASC
     LIMIT 10)
    UNION ALL
    (SELECT 'graph' AS kind, vec_id,
            round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
     FROM embeddings
     ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}) ASC, vec_id ASC
     LIMIT 10)
    UNION ALL
    (SELECT 'graphf' AS kind, vec_id,
            round(1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}), 6) AS distance
     FROM embeddings
     WHERE vec_id % 3 = 0
     ORDER BY 1 - list_cosine_similarity(embedding::DOUBLE[], {_QV_SQL}) ASC, vec_id ASC
     LIMIT 10)
    """,
)
def knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 analog, exact configuration: IVF (KMeans) probe with
    nprobe = num_clusters — every cluster is probed, so the result equals
    brute force and the driver verifies the whole index path end-to-end.
    The ``2l`` arm runs :class:`IVFIndex2L` (the beyond-4096-clusters
    index shape) through the same gate at full probe.  The ``graph`` arm
    (folded — registry full at 50) drives the per-partition HNSW index
    (``operators/hnsw.py``) with every cluster probed and ``ef_search``
    covering the whole corpus: the beam degenerates to an exhaustive
    graph traversal, so the brute-force SQL is a valid oracle for the
    cogrouped build→descend→beam→global-top-k machinery.  The production
    configurations (nprobe < k; bounded ef) are the same code paths;
    their recall/serving-cost gates live in tests/test_ann.py and
    tests/test_hnsw.py.  The ``graphf`` arm (round 11) is the FILTERED
    beam: a predicate compiled to one boolean per node, the beam
    navigating the full graph while only allowed nodes land in the
    result — at corpus-covering ef the candidate order is the exhaustive
    traversal's, so a plain SQL ``WHERE`` is its exact oracle (the
    reference composes WHERE + HNSW in one template, duckvdb.py:110-116;
    the bounded-ef expansion behavior is pinned in
    tests/test_graph_maintenance.py)."""
    flat = _ivf_query(spark, sf_dir, nprobe=_IVF_K).select(
        F.lit("flat").alias("kind"), "vec_id", "distance"
    )
    two = _ivf2l_query(spark, sf_dir).select(
        F.lit("2l").alias("kind"), "vec_id", "distance"
    )
    graph = _hnsw_query(spark, sf_dir).select(
        F.lit("graph").alias("kind"), "vec_id", "distance"
    )
    graphf = _hnsw_query(spark, sf_dir, filtered=True).select(
        F.lit("graphf").alias("kind"), "vec_id", "distance"
    )
    return flat.union(two).union(graph).union(graphf)


def _hnsw_query(
    spark: SparkSession, sf_dir: str, filtered: bool = False
) -> DataFrame:
    """Per-partition HNSW at full probe + corpus-covering ef (exact):
    graph build is the one-time INDEX BUILD (memoized per sf_dir like
    the KMeans fits); the measured path is descend → layer-0 beam per
    cluster (cogrouped) → global top-k.  ``filtered=True`` marks
    ``vec_id % 3 == 0`` as the allowed set — the filtered-beam serving
    path over the SAME cached graph."""
    from modal_vector_db_spark.operators.ann import IVFIndex
    from modal_vector_db_spark.operators.hnsw import build_hnsw, hnsw_topk

    emb = scale_out(load(spark, sf_dir, "embeddings"))
    ivf = _IVF_CACHE.get(sf_dir)
    if ivf is None:
        ivf = _IVF_CACHE[sf_dir] = IVFIndex.build(emb, k=_IVF_K)
    clustered = ivf.assign(emb)
    key = sf_dir + "__hnsw"
    graph = _IVF_CACHE.get(key)
    if graph is None:
        graph = build_hnsw(clustered, m=8, ef_construction=64).persist()
        graph.count()
        _IVF_CACHE[key] = graph
    allowed_col = None
    if filtered:
        clustered = clustered.withColumn("_allowed", F.col("vec_id") % 3 == 0)
        allowed_col = "_allowed"
    out = hnsw_topk(
        graph, clustered, _query_vec(spark, sf_dir), k=10,
        ef_search=1_000_000, allowed_col=allowed_col,
    )
    return out.withColumn("distance", F.round(F.col("distance"), 6))


def _ivf2l_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level IVF probe at FULL probe (exact): coarse fit + per-shard
    fine Lloyd's memoized per sf_dir like the flat build; the measured
    path is coarse-route → fine assign → probe all fine clusters →
    rerank.  Probing every fine cluster makes the hierarchy exact, so the
    brute-force oracle verifies probe ordering, shard routing, and the
    pruned rerank in one gate."""
    from modal_vector_db_spark.operators.ann import IVFIndex2L

    emb = scale_out(load(spark, sf_dir, "embeddings"))
    key = sf_dir + "__2l"
    ivf = _IVF_CACHE.get(key)
    if ivf is None:
        ivf = _IVF_CACHE[key] = IVFIndex2L.build(emb, k1=4, k2=2)
    clustered = ivf.assign(emb)
    out = ivf.query(
        clustered, _query_vec(spark, sf_dir), k=10,
        nprobe=len(ivf._fine_rows),
    )
    return out.withColumn("distance", F.round(F.col("distance"), 6))
