"""Training-data pipeline operators: deterministic sampling / source
mixing, and token-budget sequence packing.

These are the corpus-construction steps between "deduplicated documents"
and "training shards": choose how much of each stratum/source enters the
mix, then pack variable-length documents into fixed token-budget groups.
Neither exists in the reference (batch vector search only); both are
first-class at 100 TB and both are pure Catalyst expressions here, so the
DuckDB oracle checks exact semantics.

Determinism contract: sampling uses an md5-derived hash of the row key —
NOT ``rand()`` — so (a) both engines compute the identical sample, (b) a
re-run over the same corpus reproduces the same mix (lineage matters for
training data), (c) the sample decision is a per-row expression that
pushes into the scan stage with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from modal_vector_db_spark.functions import text as T
from modal_vector_db_spark.harness import load, register
from modal_vector_db_spark.scratch import scratch_root


def hash_pct(key) -> F.Column:
    """Deterministic uniform [0,100) bucket from a key column: first 4 hex
    digits of md5(key as string).  The Spark twin of the oracle's
    ``('0x' || substr(md5(k::VARCHAR), 1, 4))::INT % 100``."""
    return (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )


def _hash_pct_sql(key: str) -> str:
    return f"('0x' || substr(md5({key}::VARCHAR), 1, 4))::INT % 100"


_ZORDER_CACHE: dict[str, str] = {}


def _zorder_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write lineitem's key columns as a z-order-clustered parquet layout
    (``operators/layout.py:write_zordered`` over (l_partkey, l_suppkey)) —
    fixture setup, once per process per sf_dir.  The registered arm then
    reads it back through a two-column point-ish predicate, so the Morton
    rewrite's CONTENT fidelity is driver-checked (the footer-stat pruning
    effect itself is pinned by tests/test_layout.py)."""
    import os

    hit = _ZORDER_CACHE.get(sf_dir)
    if hit is not None:
        return hit
    from modal_vector_db_spark.operators.layout import write_zordered

    out = os.path.join(
        scratch_root(), "sparkvdb_zorder", sf_dir.strip("/").replace("/", "_")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_suppkey")
    write_zordered(li, out, cols=["l_partkey", "l_suppkey"])
    _ZORDER_CACHE[sf_dir] = out
    return out


# DSIR arm constants: hashed-ngram bucket count and the selection
# threshold — tail FINER than the 6dp rounding so rounded weights can
# never tie the cut (the lm-arm rule).
_DSIR_BUCKETS = 512
_DSIR_THRESHOLD = 5e-7


def _dsir_oracle_arms() -> str:
    from modal_vector_db_spark.operators.selection import dsir_log_weights_sql

    w = dsir_log_weights_sql(
        "documents", "doc_id", "text", "lang = 'en'", buckets=_DSIR_BUCKETS
    )
    # ONE evaluation of the weights pipeline serves both arms (unpivoted
    # count + checksum) — splicing it twice doubled the oracle's cost
    return f"""
    UNION ALL
    SELECT CASE WHEN k.kind = 1 THEN 'dsir' ELSE 'dsirsum' END, t.key,
           CASE WHEN k.kind = 1 THEN t.c ELSE t.s END
    FROM (
      SELECT d.source AS key, count(*)::BIGINT AS c, sum(d.doc_id)::BIGINT AS s
      FROM ({w}) w JOIN documents d USING (doc_id)
      WHERE round(w.log_weight, 6) > {_DSIR_THRESHOLD}
      GROUP BY d.source
    ) t, (SELECT unnest([1, 2]) AS kind) k
    """


@register(
    "data_sampling_mix",
    oracle=f"""
    SELECT 'stratified' AS kind, label::VARCHAR AS key, count(*) AS n
    FROM embeddings
    WHERE {_hash_pct_sql('vec_id')} < 10 + label * 5
    GROUP BY label
    UNION ALL
    SELECT 'mix', source, count(*)
    FROM documents
    WHERE {_hash_pct_sql('doc_id')} < 20 + (length(source) * 7) % 60
    GROUP BY source
    UNION ALL
    SELECT 'zorder_' || what, 'lineitem', v FROM (
      SELECT unnest(['count', 'sum']) AS what,
             unnest([count(*), sum(l_orderkey)])::BIGINT AS v
      FROM lineitem
      WHERE l_partkey % 50 = 3 AND l_suppkey % 20 = 7
    )
    UNION ALL
    SELECT 'temp', d.source, count(*) FROM documents d JOIN (
      SELECT source, round(least(100.0, 40.0 * sqrt(tot / n)), 6) AS rate
      FROM (SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source),
           (SELECT count(*)::DOUBLE AS tot FROM documents)
    ) r ON d.source = r.source
    WHERE {_hash_pct_sql('doc_id')} < r.rate
    GROUP BY d.source
    UNION ALL
    SELECT 'quota', source, sum(doc_id)::BIGINT FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY round({T.quality_score_sql('text')}, 6) DESC,
                                         doc_id ASC) AS rk
      FROM documents) q
    WHERE rk <= 25
    GROUP BY source
    {_dsir_oracle_arms()}
    """,
)
def data_sampling_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged sampling surface: (1) stratified sampling — each label stratum
    keeps its own rate (10% + 5%/label), the class-rebalancing shape; (2)
    weighted source mixing — per-source keep-rates over ``documents``, the
    "X% web, Y% code" training-mix shape.  Both are scan-stage predicates:
    no shuffle, no rand(), reproducible across engines and re-runs.
    (3) per-domain QUALITY QUOTA — keep the top-25 docs per source by
    quality score (domain caps, the anti-boilerplate mix control): grouped
    top-k planned with WindowGroupLimit, so each input partition keeps at
    most 25 rows per source BEFORE the shuffle — never a full sort; the
    checked value is the kept-id checksum per source."""
    emb = load(spark, sf_dir, "embeddings")
    stratified = (
        emb.filter(hash_pct("vec_id") < 10 + F.col("label") * 5)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit("stratified").alias("kind"),
            F.col("label").cast("string").alias("key"),
            "n",
        )
    )
    docs = load(spark, sf_dir, "documents")
    mix = (
        docs.filter(hash_pct("doc_id") < 20 + (F.length("source") * 7) % 60)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("mix").alias("kind"), F.col("source").alias("key"), "n")
    )
    w = Window.partitionBy("source").orderBy(
        F.round(T.quality_score("text"), 6).desc(), F.col("doc_id").asc()
    )
    quota = (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
        .groupBy("source")
        .agg(F.sum("doc_id").cast("long").alias("n"))
        .select(F.lit("quota").alias("kind"), F.col("source").alias("key"), "n")
    )
    zread = spark.read.parquet(_zorder_fixture_dir(spark, sf_dir)).filter(
        (F.col("l_partkey") % 50 == 3) & (F.col("l_suppkey") % 20 == 7)
    )
    zorder = (
        zread.agg(
            F.count(F.lit(1)).alias("zorder_count"),
            F.sum("l_orderkey").cast("long").alias("zorder_sum"),
        )
        .unpivot([], ["zorder_count", "zorder_sum"], "kind", "n")
        .select("kind", F.lit("lineitem").alias("key"), F.col("n").cast("long"))
    )
    # (4) TEMPERATURE sampling (α = 0.5): each domain's keep-rate ∝
    # n^(α−1) = 1/sqrt(n) — the multilingual-LM rebalancing that upsamples
    # small domains (capped at 100%) and downsamples big ones.  The
    # normalizer is a global constant folded into the base rate (40), so
    # the only float ops are sqrt (IEEE correctly-rounded — bit-identical
    # across engines, unlike pow) and one division; the rate rounds to 6dp
    # before the integer hash-percent comparison.
    tot_df = docs.agg(F.count(F.lit(1)).cast("double").alias("tot"))
    rates = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .crossJoin(F.broadcast(tot_df))
        .select(
            "source",
            F.round(
                F.least(F.lit(100.0), F.lit(40.0) * F.sqrt(F.col("tot") / F.col("n"))),
                6,
            ).alias("rate"),
        )
    )
    temp = (
        docs.join(F.broadcast(rates), "source")
        .filter(hash_pct("doc_id") < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("temp").alias("kind"), F.col("source").alias("key"), "n")
    )
    # (5) DSIR importance selection (Xie et al. 2023): hashed-ngram
    # multinomial log-ratio weights with lang='en' docs as the target
    # exemplars; the selected slice (weight > ~0) is summarized per source
    # as count + kept-id checksum.  One bucket-count shuffle + broadcast
    # ratio + per-doc sum — the model-free selector a pipeline runs before
    # any neural quality classifier (operators/selection.py).
    from modal_vector_db_spark.operators.selection import dsir_log_weights

    weights = dsir_log_weights(
        docs, "doc_id", "text", F.col("lang") == "en", buckets=_DSIR_BUCKETS
    )
    selected = (
        docs.join(weights, "doc_id")
        .filter(F.round("log_weight", 6) > _DSIR_THRESHOLD)
    )
    dsir = (
        selected.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("dsir").alias("kind"), F.col("source").alias("key"), "n")
    )
    dsirsum = (
        selected.groupBy("source")
        .agg(F.sum("doc_id").cast("long").alias("n"))
        .select(F.lit("dsirsum").alias("kind"), F.col("source").alias("key"), "n")
    )
    return (
        stratified.union(mix).union(zorder).union(quota).union(temp)
        .union(dsir).union(dsirsum)
    )


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, doc_id % 32 AS bucket, {T.token_count_sql('text')} AS tokens
      FROM documents),
    c AS (
      SELECT bucket, tokens,
             sum(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - tokens AS prior
      FROM t)
    SELECT bucket, (prior // 2048)::BIGINT AS pack_id,
           count(*) AS n_docs, sum(tokens)::BIGINT AS sum_tokens
    FROM c GROUP BY 1, 2
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign documents to fixed token-budget
    (2048) packs by running token count, then summarize per pack.

    Scale shape: packing is inherently sequential, so it runs WITHIN hash
    buckets (``doc_id % 32``) — each bucket's running sum is an independent
    window partition; 100 TB packs with exactly one shuffle (by bucket) and
    bounded per-task state.  One global ordered window would serialize the
    corpus through a single task; the bucket count is the parallelism knob.
    The streaming-pack rule (a doc whose tokens straddle the boundary opens
    the next pack) matches the oracle's window transliteration exactly."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 32).alias("bucket"),
        T.token_count("text").alias("tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("prior", F.sum("tokens").over(w) - F.col("tokens"))
    return (
        c.groupBy("bucket", F.floor(F.col("prior") / 2048).cast("long").alias("pack_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").cast("long").alias("sum_tokens"),
        )
    )
