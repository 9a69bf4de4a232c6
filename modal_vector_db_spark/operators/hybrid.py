"""Hybrid retrieval: BM25 lexical scoring fused with vector KNN by
reciprocal-rank fusion (RRF).

The reference engine is vector-only (duckvdb.py:103-120 is a pure cosine
template); production retrieval over a 100 TB corpus is hybrid — a sparse
lexical channel catches exact-term matches that embedding similarity
misses, and RRF combines the two rankings without score calibration
(Cormack et al., SIGIR'09: rrf(d) = Σ 1/(k0 + rank_i(d))).

Scale shape:

- BM25 is one projection of the corpus: each row's text is tokenized
  once (``split``), ``dl`` is the token count, and each query term's
  ``tf`` is ``size(tokens) - size(array_remove(tokens, term))`` — no
  explode, no (doc, term) shuffle, no ``dl`` join.  One global aggregate
  over the same projection yields ``n``, ``avgdl`` and every term's ``df``
  (a 1-row broadcast), and ``arrays_overlap`` keeps only the rows holding
  a query term.  The corpus-sized work is two codegen'd scans; what moves
  between tasks is the aggregate's partial rows.  At 100 TB the
  materialized postings (:func:`build_text_postings`) replace the scan,
  with the same contribution expression.
- Each channel ends in orderBy(...).limit(top_n) — TakeOrderedAndProject,
  a bounded heap, never a full sort.  The rank window then runs over
  ≤ top_n rows (single tiny partition by construction).
- Fusion is a full-outer join of two ≤ top_n row sides — negligible.

Float parity: score expressions are written with the exact parenthesization
the DuckDB oracle uses (IEEE-double op-for-op), and every ranking key is
rounded to 6dp BEFORE ranking with a doc_id tie-break, so both engines rank
identical keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from modal_vector_db_spark.sources.catalog import local_frame

#: BM25's term-frequency saturation and length normalization (the DuckDB
#: oracle's constants); every scoring path shares them
K1 = 1.2
B = 0.75


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BM25 score for a whitespace-tokenized query.

    Returns (id_col, score) for documents containing ≥1 query term; the
    score is rounded to 6dp (ranking key contract, see module docstring).
    Each input row is one document: it counts once toward ``n`` however
    its text reads (a NULL text too), and a row repeated under the same id
    counts toward ``n`` and ``df`` and is scored once per copy, exactly as
    if the copies had distinct ids (one row per id would need a shuffle of
    the hits; the vector channel ranks each copy too).  A repeated query
    term scores once; no terms, no rows.
    """
    term_list = list(dict.fromkeys(terms))
    if not term_list:
        return docs.select(id_col, F.lit(0.0).alias("score")).limit(0)
    toks = docs.select(id_col, F.split(F.col("text"), " ").alias("_toks"))
    tokens = F.col("_toks")
    proj = toks.select(
        id_col,
        F.size(tokens).cast("double").alias("dl"),
        F.arrays_overlap(tokens, F.array(*[F.lit(t) for t in term_list])).alias("_hit"),
        *[
            (F.size(tokens) - F.size(F.array_remove(tokens, t))).cast("double").alias(f"_tf{i}")
            for i, t in enumerate(term_list)
        ],
    )
    tfs = [F.col(f"_tf{i}") for i in range(len(term_list))]
    stats = proj.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.count_if(tf > 0).cast("double").alias(f"_df{i}") for i, tf in enumerate(tfs)],
    )
    score = None
    for i, tf in enumerate(tfs):
        c = F.when(
            tf > 0,
            _bm25_contrib(tf, F.col(f"_df{i}"), F.col("dl"), F.col("n"), F.col("avgdl")),
        ).otherwise(F.lit(0.0))
        score = c if score is None else score + c
    return (
        proj.filter(F.col("_hit"))
        .crossJoin(F.broadcast(stats))
        .select(id_col, F.round(score, 6).alias("score"))
    )


def _bm25_contrib(tf: Column, df: Column, dl: Column, n: Column, avgdl: Column) -> Column:
    """The per-(doc, term) BM25 contribution — ONE definition shared by the
    scan path and the materialized-index path, so the two produce
    bit-identical scores (all inputs are integer-valued doubles; the
    expression mirrors the DuckDB oracle token-for-token:
    ln((n - df + 0.5) / (df + 0.5) + 1) * tf*(K1+1)
    / (tf + K1*((1-B) + B*dl/avgdl)))."""
    idf = F.log((n - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1))
    return idf * tf * F.lit(K1 + 1) / (
        tf + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * dl / avgdl)
    )


#: :func:`_bm25_contrib`'s inputs as the postings paths name their columns
_POSTING_COLS = ("tf", "df", "dl", "n", "avgdl")


def build_text_postings(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 16,
) -> DataFrame:
    """Materialize the inverted-index postings the module docstring
    promises at scale: (bucket, term, id, tf, dl) with one row per
    distinct (doc, term).  ``bucket = crc32(term) % buckets`` is the
    partition key — a term's postings live entirely in ITS bucket, so a
    query reads only its terms' partitions AND per-term document
    frequencies are complete within that read.  ``dl`` (the doc's token
    count, empties included — exactly the scan path's ``size(split)``) is
    denormalized onto every posting so scoring needs no second table.

    Tokenization is the scan path's, verbatim: ``split(text, " ")`` —
    empty tokens are skipped as postings (no query ever asks for ``''``)
    but still count toward ``dl``."""
    split = F.split(F.col(text_col), " ")
    return (
        docs.select(
            F.col(id_col),
            F.size(split).cast("double").alias("dl"),
            F.explode(split).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
        .withColumn("bucket", F.pmod(F.crc32(F.col("term")), F.lit(buckets)).cast("int"))
    )


def term_buckets(terms: Sequence[str], buckets: int) -> list[int]:
    """The bucket ids a term set's postings live in — the ONE definition of
    the ``crc32(term) % buckets`` routing both the writer
    (:func:`build_text_postings`) and every pruned reader must share."""
    import zlib

    return sorted({zlib.crc32(t.encode("utf-8")) % buckets for t in dict.fromkeys(terms)})


def bm25_from_postings(
    postings: DataFrame,
    terms: Sequence[str],
    n: float,
    avgdl: float,
    *,
    id_col: str = "doc_id",
    buckets: int = 16,
) -> DataFrame:
    """BM25 over materialized postings (:func:`build_text_postings`):
    the bucket `isin` prunes partitions BEFORE the scan (only the query
    terms' buckets are read), the term filter prunes rows inside them,
    per-term df comes from the pruned read (complete by the bucketing
    invariant), and (n, avgdl) are corpus constants the caller maintains.
    Scores are expression-identical to :func:`bm25_scores` — all inputs
    are integer-valued doubles, so there is no float drift between the
    scan and index paths."""
    term_list = list(dict.fromkeys(terms))
    bucket_ids = term_buckets(term_list, buckets)
    hits = postings.filter(
        F.col("bucket").isin(bucket_ids) & F.col("term").isin(term_list)
    )
    dfreq = hits.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("df")
    )
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .withColumn("n", F.lit(float(n)))
        .withColumn("avgdl", F.lit(float(avgdl)))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.sum(_bm25_contrib(*map(F.col, _POSTING_COLS))), 6).alias("score")
    )


def _ranked_topn(df: DataFrame, order: list[Column], id_col: str, top_n: int) -> DataFrame:
    """orderBy+limit (bounded heap) then rank the ≤ top_n survivors."""
    top = df.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    return top.withColumn("r", F.row_number().over(w))


def rrf_fuse(
    lexical: DataFrame,
    vector: DataFrame,
    *,
    id_col: str = "doc_id",
    top_n: int = 50,
    k: int = 10,
    k0: int = 60,
) -> DataFrame:
    """Fuse a (id, score DESC-better) lexical channel with a
    (id, distance ASC-better) vector channel: top-k of
    1/(k0 + lex_rank) + 1/(k0 + vec_rank), absent-channel term = 0."""
    lex = _ranked_topn(
        lexical, [F.col("score").desc(), F.col(id_col).asc()], id_col, top_n
    ).select(F.col(id_col).alias("lex_id"), F.col("r").alias("lex_r"))
    # asc_nulls_last: a NULL distance (malformed embedding) must rank
    # WORST, matching the DuckDB default (NULLS LAST), the batched twin,
    # and the _topk_per_query tail — Spark's bare asc() puts NULLs first.
    vec = _ranked_topn(
        vector, [F.col("distance").asc_nulls_last(), F.col(id_col).asc()], id_col, top_n
    ).select(F.col(id_col).alias("vec_id_"), F.col("r").alias("vec_r"))
    fused = lex.join(vec, lex.lex_id == vec.vec_id_, "full_outer").select(
        F.coalesce(F.col("lex_id"), F.col("vec_id_")).alias(id_col),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("lex_r")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("vec_r")), F.lit(0.0)),
            6,
        ).alias("score"),
    )
    return fused.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _qterms_frame(like: DataFrame, pairs: Sequence[tuple[int, str]]) -> DataFrame:
    """The tiny broadcast (q_id, term) routing frame from driver-side
    pairs (the caller tokenized the queries — shipping the list through a
    DataFrame only to collect() it back would cost an extra job)."""
    return local_frame(like.sparkSession, pairs, "q_id int, term string")


def bm25_scores_multi(
    docs: DataFrame,
    pairs: Sequence[tuple[int, str]],
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 for MANY queries over ONE corpus scan.  ``pairs`` is the
    driver-side distinct (q_id, term) list — broadcast — and every
    corpus-side quantity (tf, df, dl, n, avgdl) is query-independent, so
    the batch costs exactly one tokenize+aggregate no matter how many
    queries ride on it; q_id only selects which (doc, term) contributions
    sum into which query's score.  Returns (q_id, id_col, score) with the
    SAME per-(doc, term) contribution expression as :func:`bm25_scores` —
    a batch row is bit-identical to its single-query twin."""
    all_terms = sorted({t for _, t in pairs})
    split = F.split(F.col("text"), " ")
    toks = docs.select(id_col, F.explode(split).alias("term")).filter(
        F.col("term").isin(all_terms)
    )
    dl = docs.select(id_col, F.size(split).cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("dl").alias("avgdl")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("df")
    )
    return (
        tf.join(F.broadcast(_qterms_frame(docs, pairs)), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum(_bm25_contrib(*map(F.col, _POSTING_COLS))), 6).alias("score"))
    )


def bm25_from_postings_multi(
    postings: DataFrame,
    pairs: Sequence[tuple[int, str]],
    n: float,
    avgdl: float,
    *,
    id_col: str = "doc_id",
    buckets: int = 16,
) -> DataFrame:
    """Batched :func:`bm25_from_postings`: one pruned postings read for
    the UNION of every query's term buckets (each term's df is complete
    within its bucket regardless of which queries asked for it), then the
    broadcast (q_id, term) join routes contributions to queries.  Returns
    (q_id, id_col, score), rows bit-identical to the single-query path."""
    term_list = sorted({t for _, t in pairs})
    bucket_ids = term_buckets(term_list, buckets)
    hits = postings.filter(
        F.col("bucket").isin(bucket_ids) & F.col("term").isin(term_list)
    )
    dfreq = hits.groupBy("term").agg(
        F.countDistinct(id_col).cast("double").alias("df")
    )
    return (
        hits.join(F.broadcast(_qterms_frame(postings, pairs)), "term")
        .join(F.broadcast(dfreq), "term")
        .withColumn("n", F.lit(float(n)))
        .withColumn("avgdl", F.lit(float(avgdl)))
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum(_bm25_contrib(*map(F.col, _POSTING_COLS))), 6).alias("score"))
    )


def rrf_fuse_multi(
    lexical: DataFrame,
    vector: DataFrame,
    *,
    id_col: str = "doc_id",
    top_n: int = 50,
    k: int = 10,
    k0: int = 60,
) -> DataFrame:
    """Per-query RRF fusion for batched channels carrying a ``q_id``
    column.  Each channel is ranked WITHIN its query (row_number over a
    q_id-partitioned window, filtered to ≤ top_n — Spark plans the
    filter-over-rank as a WindowGroupLimit, so each shuffle partition
    ships at most top_n rows per query, never a global sort), then a
    per-query full-outer join fuses ranks exactly like :func:`rrf_fuse`.
    Returns (q_id, id_col, score): the top-k rows per query."""
    def ranked(df: DataFrame, order: list[Column], out: str) -> DataFrame:
        w = Window.partitionBy("q_id").orderBy(*order)
        return (
            df.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= top_n)
            .select("q_id", F.col(id_col).alias(out + "_id"), F.col("r").alias(out + "_r"))
        )

    lex = ranked(lexical, [F.col("score").desc(), F.col(id_col).asc()], "lex")
    vec = ranked(vector, [F.col("distance").asc_nulls_last(), F.col(id_col).asc()], "vec")
    fused = lex.join(
        vec,
        (lex["q_id"] == vec["q_id"]) & (lex["lex_id"] == vec["vec_id"]),
        "full_outer",
    ).select(
        F.coalesce(lex["q_id"], vec["q_id"]).alias("q_id"),
        F.coalesce(F.col("lex_id"), F.col("vec_id")).alias(id_col),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("lex_r")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("vec_r")), F.lit(0.0)),
            6,
        ).alias("score"),
    )
    wk = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
