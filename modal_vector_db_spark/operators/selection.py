"""DSIR-style data selection — importance resampling over hashed n-gram
features (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling", NeurIPS — public paper).

The pipeline move: given a RAW crawl pool and a small TARGET exemplar set
(wiki-quality pages, an in-domain corpus), score every raw doc by how much
more likely its hashed n-gram features are under the target's unigram+bigram
multinomial than under the raw pool's, then keep the top slice.  This is the
cheap, model-free selector production pipelines run BEFORE any neural
quality classifier — one feature pass + two bounded count tables.

Scale shape (the lm.py shape, proven at 16×): explode hashed features →
ONE groupBy(bucket) count shuffle (partial agg map-side, output ≤ buckets
rows) → broadcast the log-ratio table → per-doc sum (second shuffle on the
doc id).  Nothing quadratic, nothing driver-side beyond the 2·buckets
count rows.

Cross-engine determinism: buckets come from the md5-derived 60-bit hash
(``functions/hashing.py``) so the DuckDB oracle reproduces the feature
space bit-for-bit; counts are exact ints; the only floats are ln() of
rational numbers of exact ints (ln parity Spark/DuckDB already carries
BM25 and the bigram LM).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.hashing import md5_long, md5_long_sql
from modal_vector_db_spark.functions.text import tokens, tokens_sql


def hashed_ngram_buckets(
    text: Column | str, buckets: int, bigrams: bool = True
) -> Column:
    """Per-doc hashed feature list (``array<long>``): unigram buckets plus
    (optionally) bigram buckets, one entry per OCCURRENCE — multinomial
    features, so repeated n-grams count repeatedly, exactly like the
    paper's bag-of-hashed-ngrams."""
    toks = tokens(text)
    b = F.lit(buckets)
    unis = F.transform(toks, lambda t: F.pmod(md5_long(t), b))
    if not bigrams:
        return unis
    n = F.size(toks)
    left = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    right = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    bis = F.zip_with(
        left, right, lambda a, x: F.pmod(md5_long(F.concat_ws(" ", a, x)), b)
    )
    return F.concat(unis, bis)


def hashed_ngram_buckets_sql(expr: str, buckets: int, bigrams: bool = True) -> str:
    """DuckDB twin of :func:`hashed_ngram_buckets` (same md5 hash, same
    separator, same occurrence semantics).

    ``expr`` should be a COLUMN holding the token list (compute the
    ``tokens_sql`` split once in a prior CTE): a raw text expression here
    would be re-evaluated per lambda index by the bigram subscripting —
    O(tokens²) per doc, measured ~10× slower on fixture text."""
    unis = f"list_transform({expr}, t -> ({md5_long_sql('t')} % {buckets}))"
    if not bigrams:
        return unis
    elem = f"({expr})[i] || ' ' || ({expr})[i+1]"
    bis = (
        f"list_transform(generate_series(1, len({expr}) - 1), "
        f"i -> ({md5_long_sql(elem)} % {buckets}))"
    )
    return f"list_concat({unis}, {bis})"


#: DSIR's add-alpha smoothing and feature space (unigrams + bigrams),
#: shared by the Spark operator and its DuckDB twin
_ALPHA = 1.0
_BIGRAMS = True


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    *,
    buckets: int = 1024,
) -> DataFrame:
    """(id, log_weight): per-doc importance log-ratio under add-``_ALPHA``
    smoothed hashed-ngram multinomials — target docs (``target`` boolean
    column over ``df``) define p_target, the rest define p_raw, and

        log_weight(doc) = Σ_g  ln p_t(bucket(g)) − ln p_r(bucket(g))

    over every n-gram occurrence g.  Docs with no tokens produce no row
    (nothing to weigh).  Selection is the caller's policy: threshold,
    top-k, or Gumbel resampling over the weights."""
    # persist: the tokenize+hash explode (the expensive pass) feeds the
    # bucket counts, the totals, AND the final join — without this it
    # re-executes up to 3× per call (review finding; incremental_dedup
    # documents the same discipline)
    feats = df.select(
        F.col(id_col),
        target.cast("int").alias("_t"),
        F.explode(hashed_ngram_buckets(text_col, buckets, _BIGRAMS)).alias("_b"),
    ).persist()
    per_bucket = feats.groupBy("_b").agg(
        F.sum("_t").cast("double").alias("_tn"),
        F.sum(1 - F.col("_t")).cast("double").alias("_rn"),
    )
    totals = per_bucket.agg(
        F.sum("_tn").alias("_T"), F.sum("_rn").alias("_R")
    )
    alpha = _ALPHA
    ab = alpha * buckets
    ratio = (
        per_bucket.crossJoin(F.broadcast(totals))
        .select(
            "_b",
            (
                F.log((F.col("_tn") + alpha) / (F.col("_T") + ab))
                - F.log((F.col("_rn") + alpha) / (F.col("_R") + ab))
            ).alias("_lr"),
        )
    )
    return (
        feats.join(F.broadcast(ratio), "_b")
        .groupBy(id_col)
        .agg(F.sum("_lr").alias("log_weight"))
    )


def dsir_log_weights_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    target_expr: str,
    *,
    buckets: int = 1024,
) -> str:
    """DuckDB twin emitting ``(doc_id, log_weight)`` — a CTE-bodied SELECT
    the oracle splices; identical feature space, counts, and smoothing.
    The token split runs ONCE per doc in its own CTE (see
    :func:`hashed_ngram_buckets_sql`'s column contract)."""
    feats_list = hashed_ngram_buckets_sql("toks", buckets, _BIGRAMS)
    alpha = _ALPHA
    ab = alpha * buckets
    return f"""
    WITH _d AS (
      SELECT {id_expr} AS doc_id, ({target_expr})::INT AS t,
             {tokens_sql(text_expr)} AS toks
      FROM {table}
    ),
    _f AS (
      SELECT doc_id, t, unnest({feats_list}) AS b FROM _d
    ),
    _pb AS (SELECT b, sum(t)::DOUBLE AS tn, sum(1 - t)::DOUBLE AS rn
            FROM _f GROUP BY b),
    _tot AS (SELECT sum(tn) AS T, sum(rn) AS R FROM _pb),
    _ratio AS (
      SELECT b, ln((tn + {alpha}) / (T + {ab})) - ln((rn + {alpha}) / (R + {ab})) AS lr
      FROM _pb, _tot
    )
    SELECT f.doc_id, sum(r.lr) AS log_weight
    FROM _f f JOIN _ratio r USING (b)
    GROUP BY f.doc_id
    """
