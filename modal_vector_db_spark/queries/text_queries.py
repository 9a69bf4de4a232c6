"""Text-analysis pipeline queries over ``documents`` — language ID, quality
scoring, token counting, fingerprinting (the LLM-training-data extension
surface; the reference's only text op is embedding, ``embedders.py``).

Every heuristic is a pure Catalyst expression with an exact DuckDB
transliteration, so these are strong oracle checks of the whole
expression pipeline, not just row plumbing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.functions import text as T
from modal_vector_db_spark.harness import load, register, scale_out


# PII plant: the fixture corpus is synthetic and PII-free, so the PII
# columns are computed over text with a planted suffix for every 7th doc
# (email + IPv4 + phone — one of each) — both engines build the identical
# augmented string, so counts and the redacted-text checksum are exact
# cross-engine checks, with the other 6/7 of docs pinning the
# zero-false-positive side.
_PII_SUFFIX = (
    "' contact u' || doc_id::VARCHAR || '@mail.example.com at 10.'"
    " || (doc_id % 200)::VARCHAR || '.0.7 tel 555-123-' || (1000 + doc_id % 9000)::VARCHAR"
)
_AUG_PII = f"(CASE WHEN doc_id % 7 = 1 THEN text || {_PII_SUFFIX} ELSE text END)"

# Repetition plant: the synthetic corpus has near-uniform token draws, so the
# repetition columns are additionally exercised on a planted variant — every
# 11th doc gets a generation-loop-style suffix (one trigram repeated 4×),
# pushing dup3_frac and top_token_frac up for exactly those docs while the
# rest pin the natural baseline.
_REP_SUFFIX = "' loop loop loop loop loop loop loop loop loop loop loop loop'"
_AUG_REP = f"(CASE WHEN doc_id % 11 = 2 THEN text || {_REP_SUFFIX} ELSE text END)"

# C4 plant: the corpus has no newlines or punctuation, so the C4 line/page
# rules are exercised on a planted multi-line variant — every 13th doc gets
# a block with 5 keepable sentences, one too-short line, and one boilerplate
# ("cookie") line; the rest pin the all-dropped side.
_C4_PLANT = (
    "\nFirst planted sentence ends here."
    "\nshort line"
    "\nthis line mentions a cookie banner."
    "\nSecond good line stays right here!"
    "\nThird planted sentence is here too."
    "\nFourth decent sentence lands here?"
    "\nFifth and final sentence stays here."
)
_C4_PLANT_SQL = " || ".join(
    f"chr(10) || '{line}'" for line in _C4_PLANT.strip("\n").split("\n")
)
_AUG_C4 = f"(CASE WHEN doc_id % 13 = 3 THEN text || {_C4_PLANT_SQL} ELSE text END)"

# Langid plant: documents.lang is RANDOM w.r.t. its text — every language
# shares the same synthetic English-ish vocabulary (verified: 'zh' rows read
# "scan hash agg table ..."), so gating a trainable classifier on those
# labels would reward memorization capacity, not language ID.  The arm
# therefore builds a PLANTED corpus with real signal: doc_id < _LANGID_LIMIT,
# lang = langs[doc_id % 5] (closed-form for the oracle), text = words drawn
# deterministically from that language's top-frequency vocabulary (public
# common-word lists; zh uses the most frequent hanzi).  The classifier
# trains on even doc_ids and is gated on HELD-OUT odd doc_ids — a real
# generalization check, not trainset recall.  Construction is pure Catalyst
# (element_at over literal arrays inside transform(sequence(...))) — no
# driver-side rows, the same expressions would plant 10^9 docs.
_LANGID_LIMIT = 400
_LANGID_VOCAB = {
    "de": "der die und in den von zu das mit ist nicht ein auf auch sich werden aber wurde mehr durch".split(),
    "en": "the a and of to in is it for on was with as his they be at one have this".split(),
    "es": "el la de que y en un por con los se del las una su para como mas pero sus".split(),
    "fr": "le la et les des en un du une que dans qui pour sur pas plus par avec son ne".split(),
    "zh": "的 一 是 在 不 了 有 和 人 这 中 大 为 上 个 国 我 以 要 他".split(),
}
_LANGID_LANGS = sorted(_LANGID_VOCAB)  # index order = doc_id % 5
assert all(len(v) == 20 for v in _LANGID_VOCAB.values())


#: langid training hyperparameters (shared by the trainer and the cache key)
_LANGID_PARAMS = {"num_features": 4096, "ns": (1, 2), "max_iter": 15}
#: bump when the plant FORMULA (word j of doc i, train split) changes —
#: the cache key can only see data the spec tuple carries
_LANGID_CACHE_V = "v1"


def _langid_model_cached(lang_corpus: DataFrame):
    """Train-once-per-spec language-ID model (review finding: the arm
    trained a real MLlib classifier per INVOCATION — ~10 s of fixed cost
    in every bench run).  The trained ``PipelineModel`` persists under a
    key derived from the full planted-corpus spec (vocab, limit,
    hyperparameters, cache version); any spec change misses and
    retrains.  Identical semantics: L-BFGS on this planted corpus is
    deterministic, and the arm's oracle gates held-out accuracy, which
    is a pure function of the (cached or fresh) model's predictions."""
    import hashlib
    import shutil
    import uuid as _uuid

    from pyspark.ml import PipelineModel

    from modal_vector_db_spark.operators.langid import train_language_classifier

    spec = repr(
        (sorted(_LANGID_VOCAB.items()), _LANGID_LIMIT,
         sorted(_LANGID_PARAMS.items()), _LANGID_CACHE_V)
    )
    path = (
        "/tmp/sparkvdb_langid_cache/"
        + hashlib.sha256(spec.encode()).hexdigest()[:16]
    )
    if os.path.isdir(path):
        try:
            return PipelineModel.load(path)
        except Exception:  # torn write from a crashed saver: retrain
            shutil.rmtree(path, ignore_errors=True)
    model = train_language_classifier(
        lang_corpus.filter(F.col("doc_id") % 2 == 0), **_LANGID_PARAMS
    )
    tmp = f"{path}.tmp{_uuid.uuid4().hex[:8]}"
    model.write().overwrite().save(tmp)
    try:
        os.rename(tmp, path)  # atomic publish; a racer's rename loses
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return model


def _langid_corpus(doc_ids: DataFrame) -> DataFrame:
    """(doc_id) -> (doc_id, lang, text) planted language corpus (see the
    plant comment above).  Word j of doc i is vocab[(13i + 7j) % 20],
    24 + i % 8 words per doc — deterministic, varied within a class."""
    lang_arr = F.array(*[F.lit(lang) for lang in _LANGID_LANGS])
    vocab = F.when(F.lit(False), F.lit(None))
    for i, lang in enumerate(_LANGID_LANGS):
        vocab = vocab.when(
            F.col("doc_id") % 5 == i, F.array(*[F.lit(w) for w in _LANGID_VOCAB[lang]])
        )
    words = F.transform(
        F.sequence(F.lit(0), (F.lit(23) + F.col("doc_id") % 8).cast("int")),
        lambda j: F.element_at(
            vocab, ((F.col("doc_id") * 13 + j * 7) % 20 + 1).cast("int")
        ),
    )
    return doc_ids.select(
        "doc_id",
        F.element_at(lang_arr, (F.col("doc_id") % 5 + 1).cast("int")).alias("lang"),
        F.array_join(words, " ").alias("text"),
    )


# Gopher plant: every 19th doc gets a '#'-heavy suffix (symbol ratio and
# alpha-word ratio both blow the thresholds); elsewhere the rules split the
# corpus naturally on word count (docs are 10-99 words vs min 50) and on
# the required-stop-words rule.
_GOPHER_PLANT = " " + "# " * 29 + "#"
_AUG_GOPHER = f"(CASE WHEN doc_id % 19 = 4 THEN text || ' ' || repeat('# ', 29) || '#' ELSE text END)"

# Bullet plant for the LINE-level Gopher rules: every 23rd doc becomes 1
# original line + 10 bullet lines = 10/11 > 90% bulleted → discard.
_BULLET_PLANT = "\n- planted bullet item" * 10
_AUG_BULLETS = (
    "(CASE WHEN doc_id % 23 = 5 THEN text || "
    "repeat(chr(10) || '- planted bullet item', 10) ELSE text END)"
)

# CRLF plant: every 29th doc gets a WINDOWS-line-ending block — one keepable
# sentence and three ellipsis-trailing lines.  Pins the \r?\n split on both
# engines (the review-found bug: with split('\n') every line kept a trailing
# '\r', so the C4 terminal-punctuation test rejected ALL CRLF lines and the
# Gopher ellipsis rule never fired): planted docs must show c4-kept CRLF
# lines AND trip the >30%-ellipsis discard; the other 28/29 pin both noops.
_CRLF_LINES = [
    "Planted crlf sentence stays right here.",
    "first one trails off like this...",
    "second one also trails away...",
    "third line trails off too...",
]
_CRLF_PLANT = "".join("\r\n" + l for l in _CRLF_LINES)
_CRLF_PLANT_SQL = " || ".join(f"chr(13) || chr(10) || '{l}'" for l in _CRLF_LINES)
_AUG_CRLF = f"(CASE WHEN doc_id % 29 = 6 THEN text || {_CRLF_PLANT_SQL} ELSE text END)"


@register(
    "text_profile",
    oracle=f"""
    SELECT doc_id,
           {T.token_count_sql('text')} AS n_tokens,
           {T.bpe_ish_token_count_sql('text')} AS n_bpe_ish,
           {T.language_id_sql('text')} AS lang_pred,
           round({T.quality_score_sql('text')}, 6) AS quality,
           {T.fingerprint_sql('text')} AS fp,
           {T.dup_ngram_frac_sql(_AUG_REP, 3)} AS dup3_frac,
           {T.top_token_frac_sql(_AUG_REP)} AS top_tok_frac,
           {T.pii_count_sql(_AUG_PII)} AS n_pii,
           md5({T.redact_pii_sql(_AUG_PII)}) AS red_fp,
           len({T._c4_kept_lines_sql(_AUG_C4)})::BIGINT AS c4_kept,
           md5({T.c4_clean_sql(_AUG_C4)}) AS c4_fp,
           {T.c4_keep_sql(_AUG_C4)} AS c4_page_keep,
           {T.gopher_keep_sql(_AUG_GOPHER, min_stops=1)} AS gopher_ok,
           {T.gopher_lines_ok_sql(_AUG_BULLETS)} AS gopher_lines_ok,
           len({T._c4_kept_lines_sql(_AUG_CRLF)})::BIGINT AS crlf_kept,
           {T.gopher_lines_ok_sql(_AUG_CRLF)} AS crlf_lines_ok
    FROM documents
    """,
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-document text-analysis profile in ONE scan: whitespace +
    BPE-ish regex token counts, stopword-overlap language ID, composite
    quality score (length/alpha-ratio/repetition), the
    sorted-distinct-token md5 fingerprint, the Gopher-style repeated-content
    pair — duplicate-trigram fraction + most-frequent-token fraction, over a
    planted generation-loop variant (every 11th doc; the Spark side computes
    top-token by sorted-run fold, the oracle by count-each-distinct — same
    value, different algorithm), and the PII audit pair — match count + md5
    of the redacted text — over a planted-PII variant (every 7th doc gets an
    email+IPv4+phone suffix; the rest pin the no-false-positive side), plus
    the standard corpus-cleaning rule sets: the C4 line filter / page rule
    (kept-line count, cleaned-text md5, page keep — over a planted
    multi-line variant, every 13th doc) and the Gopher document-quality
    rules (word count / mean word length / symbol ratio / alpha-word ratio
    / required stop words — '#'-plant every 19th doc).  All pure Catalyst
    expressions in one codegen stage — the shape of a corpus-annotation
    pass at 100 TB (one read, thirteen derived columns, no shuffle;
    ``scale_out`` spreads the regex-heavy per-row work across cores in the
    single-file fixture regime — a no-op on a real multi-split scan)."""
    docs = scale_out(load(spark, sf_dir, "documents"))
    aug_rep = F.when(
        F.col("doc_id") % 11 == 2,
        F.concat(F.col("text"), F.lit(" loop" * 12)),
    ).otherwise(F.col("text"))
    aug = F.when(
        F.col("doc_id") % 7 == 1,
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com at 10."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".0.7 tel 555-123-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"),
        ),
    ).otherwise(F.col("text"))
    aug_c4 = F.when(
        F.col("doc_id") % 13 == 3, F.concat(F.col("text"), F.lit(_C4_PLANT))
    ).otherwise(F.col("text"))
    aug_gopher = F.when(
        F.col("doc_id") % 19 == 4, F.concat(F.col("text"), F.lit(_GOPHER_PLANT))
    ).otherwise(F.col("text"))
    aug_crlf = F.when(
        F.col("doc_id") % 29 == 6, F.concat(F.col("text"), F.lit(_CRLF_PLANT))
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.bpe_ish_token_count("text").alias("n_bpe_ish"),
        T.language_id("text").alias("lang_pred"),
        F.round(T.quality_score("text"), 6).alias("quality"),
        T.fingerprint("text").alias("fp"),
        T.dup_ngram_frac(aug_rep, 3).alias("dup3_frac"),
        T.top_token_frac(aug_rep).alias("top_tok_frac"),
        T.pii_count(aug).cast("long").alias("n_pii"),
        F.md5(T.redact_pii(aug)).alias("red_fp"),
        F.size(T.c4_kept_lines(aug_c4)).cast("long").alias("c4_kept"),
        F.md5(T.c4_clean(aug_c4)).alias("c4_fp"),
        T.c4_keep(aug_c4).alias("c4_page_keep"),
        # min_stops=1: the synthetic corpus holds 'the' but not the rest of
        # the required set — the default 2 would pin every row False
        T.gopher_keep(aug_gopher, min_stops=1).alias("gopher_ok"),
        T.gopher_lines_ok(
            F.when(
                F.col("doc_id") % 23 == 5, F.concat(F.col("text"), F.lit(_BULLET_PLANT))
            ).otherwise(F.col("text"))
        ).alias("gopher_lines_ok"),
        # CRLF plant (every 29th doc): kept-line count + ellipsis discard
        # over WINDOWS line endings — the \r?\n split pinned cross-engine
        F.size(T.c4_kept_lines(aug_crlf)).cast("long").alias("crlf_kept"),
        T.gopher_lines_ok(aug_crlf).alias("crlf_lines_ok"),
    )


_LM_THRESH = -3.386543  # 6dp tail: 5dp-rounded scores can never tie it
_LM_ALPHA = 0.5  # interpolated into the oracle AND passed to the operator


@register(
    "text_quality_filtered_agg",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang,
                         {T.tokens_sql('text')} AS l FROM documents),
    pairs AS (
      SELECT doc_id, z[1] AS w1, z[2] AS w2
      FROM (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
            FROM toks WHERE len(l) >= 2)
    ),
    c2 AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM pairs GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*)::DOUBLE AS c1 FROM pairs GROUP BY w1),
    v AS (SELECT count(DISTINCT t)::DOUBLE AS v
          FROM (SELECT unnest(l) AS t FROM toks)),
    perdoc AS (
      SELECT p.doc_id, round(avg(ln((c2.c2 + {_LM_ALPHA}) / (c1.c1 + {_LM_ALPHA} * v.v))), 5) AS lp
      FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY p.doc_id
    )
    SELECT 'q' AS kind, lang, count(*) AS n,
           round(avg({T.token_count_sql('text')}), 6) AS stat
    FROM documents
    WHERE {T.quality_score_sql('text')} > 0.5
    GROUP BY lang
    UNION ALL
    SELECT 'lm', t.lang,
           count(*) FILTER (WHERE pd.lp >= {_LM_THRESH}),
           round(avg(pd.lp), 3)
    FROM perdoc pd JOIN toks t USING (doc_id)
    GROUP BY t.lang
    UNION ALL
    SELECT 'corpus', '_all',
           (SELECT count(*) FROM pairs),
           (SELECT v FROM v)
    UNION ALL
    SELECT 'langid' AS kind,
           (['de','en','es','fr','zh'])[(doc_id % 5) + 1] AS lang,
           count(*) AS n, 1.0::DOUBLE AS stat
    FROM documents WHERE doc_id < {_LANGID_LIMIT} AND doc_id % 2 = 1
    GROUP BY 2
    UNION ALL
    SELECT 'wf', word, freq, rank::DOUBLE FROM (
      SELECT t AS word, count(*)::BIGINT AS freq,
             row_number() OVER (ORDER BY count(*) DESC, t ASC) AS rank
      FROM (SELECT unnest({T.tokens_sql('text')}) AS t FROM documents)
      GROUP BY t
      ORDER BY freq DESC, word ASC
      LIMIT 5
    )
    UNION ALL
    SELECT 'useed', piece, freq, rank::DOUBLE FROM (
      SELECT piece, freq,
             row_number() OVER (ORDER BY freq DESC, piece ASC) AS rank
      FROM (
        SELECT piece, sum(wfreq)::BIGINT AS freq FROM (
          SELECT substr(w.word, s.s::INT, l.l::INT) AS piece, w.wfreq
          FROM (SELECT t AS word, count(*)::BIGINT AS wfreq
                FROM (SELECT unnest({T.tokens_sql('text')}) AS t FROM documents)
                GROUP BY t) w,
               range(2, 5) l(l), range(1, 64) s(s)
          WHERE s.s + l.l - 1 <= length(w.word)
        ) GROUP BY piece
      )
      ORDER BY freq DESC, piece ASC
      LIMIT 5
    )
    """,
)
def text_quality_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition, tagged union of two corpus-pruning shapes:

    - ``q`` — quality filter → per-lang group stats (one codegen stage
      pre-shuffle);
    - ``lm`` — the CCNet-style LM-perplexity signal
      (``operators/lm.py:bigram_logprob``): an add-α bigram LM trained on
      the corpus ITSELF in one pass scores every doc, then per-lang
      fluent-doc counts (integer — hash-exact) and mean score; ``corpus``
      carries the LM's training totals (bigrams, vocabulary) as the
      counting-layer check;
    - ``wf`` — the BPE trainer's corpus pass (``operators/bpe.py:
      word_frequencies``, the ONLY stage of tokenizer training that
      touches the corpus): top-5 words by exact frequency with the
      deterministic (freq desc, word asc) order — the merge learner is
      iterative-argmax (non-SQL, test-pinned), but its input table is
      now cross-engine exact;
    - ``langid`` — the trainable fastText-style language classifier
      (``operators/langid.py``): trained on the even half of the planted
      language corpus (``_langid_corpus``; ``documents.lang`` itself is
      random w.r.t. text — see the plant comment), gated on per-language
      counts AND accuracy over the HELD-OUT odd half; the oracle's
      closed-form labels are ``langs[doc_id % 5]`` with stat pinned 1.0,
      so a single misprediction on unseen docs fails the arm;
    - ``useed`` — the unigram-LM tokenizer's SEED pass
      (``operators/unigram.py:substring_frequencies``): top-5 substring
      pieces (len 2-4) by frequency-weighted count, deterministic
      (freq desc, piece asc)."""
    from modal_vector_db_spark.operators.bpe import word_frequencies
    from modal_vector_db_spark.operators.langid import predict_language
    from modal_vector_db_spark.operators.lm import bigram_logprob, corpus_bigram_stats

    docs = load(spark, sf_dir, "documents")
    q = (
        docs.filter(T.quality_score("text") > 0.5)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(T.token_count("text")), 6).alias("stat"),
        )
        .select(F.lit("q").alias("kind"), "lang", "n", "stat")
    )
    lp = bigram_logprob(docs, id_col="doc_id", text_col="text", alpha=_LM_ALPHA)
    lm = (
        lp.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.when(F.col("bigram_lp") >= _LM_THRESH, 1)).alias("n"),
            F.round(F.avg("bigram_lp"), 3).alias("stat"),
        )
        .select(F.lit("lm").alias("kind"), "lang", "n", "stat")
    )
    corpus = corpus_bigram_stats(docs, text_col="text").select(
        F.lit("corpus").alias("kind"),
        F.lit("_all").alias("lang"),
        F.col("n_bigrams").alias("n"),
        F.col("vocab").cast("double").alias("stat"),
    )
    from pyspark.sql.window import Window

    wf = (
        word_frequencies(docs, "text")
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(5)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("word").asc())
            ),
        )
        .select(
            F.lit("wf").alias("kind"),
            F.col("word").alias("lang"),
            F.col("freq").alias("n"),
            F.col("rk").cast("double").alias("stat"),
        )
    )
    lang_corpus = _langid_corpus(
        docs.filter(F.col("doc_id") < _LANGID_LIMIT).select("doc_id")
    )
    model = _langid_model_cached(lang_corpus)
    li = (
        predict_language(model, lang_corpus.filter(F.col("doc_id") % 2 == 1))
        .groupBy(F.col("lang_pred"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.avg(F.when(F.col("lang_pred") == F.col("lang"), 1.0).otherwise(0.0)),
                6,
            ).alias("stat"),
        )
        .select(F.lit("langid").alias("kind"), F.col("lang_pred").alias("lang"), "n", "stat")
    )
    from modal_vector_db_spark.operators.unigram import substring_frequencies

    useed = (
        substring_frequencies(
            word_frequencies(docs, "text"), max_piece_len=4, min_piece_len=2
        )
        .orderBy(F.col("freq").desc(), F.col("piece").asc())
        .limit(5)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("freq").desc(), F.col("piece").asc())
            ),
        )
        .select(
            F.lit("useed").alias("kind"),
            F.col("piece").alias("lang"),
            F.col("freq").alias("n"),
            F.col("rk").cast("double").alias("stat"),
        )
    )
    return q.union(lm).union(corpus).union(wf).union(li).union(useed)


_DECON_N, _DECON_HITS = 8, 3
_DUPSPAN_MIN = 16  # Lee et al. use 50 tokens at corpus scale; 16 keeps sf0.01 arms non-trivial
_BENCH_SQL = "SELECT substr(text, 1, 120) AS text FROM documents WHERE doc_id % 17 = 0"


@register(
    "text_decontaminate",
    oracle=f"""
    WITH bench AS ({_BENCH_SQL}),
    bsh AS (SELECT DISTINCT unnest({T.hashed_shingles_sql('text', _DECON_N)}) AS h
            FROM bench),
    tsh AS (SELECT doc_id, unnest({T.hashed_shingles_sql('text', _DECON_N)}) AS h
            FROM documents),
    hits_arm AS (
      SELECT t.doc_id, count(DISTINCT t.h) AS n_hits
      FROM tsh t JOIN bsh b ON t.h = b.h
      GROUP BY t.doc_id
      HAVING count(DISTINCT t.h) >= {_DECON_HITS}
    ),
    tpos AS (
      SELECT doc_id, u.p AS pos, u.h AS h FROM (
        SELECT doc_id,
               unnest(list_transform(
                 {T.hashed_shingles_positional_sql('text', _DECON_N)},
                 (x, i) -> struct_pack(p := i, h := x))) AS u
        FROM documents) _t
    ),
    phits AS (
      SELECT DISTINCT t.doc_id, t.pos FROM tpos t JOIN bsh b ON t.h = b.h
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {_DECON_N - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(pos + {_DECON_N - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS new_span
      FROM phits
    ),
    islands AS (
      SELECT doc_id, pos,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    per_island AS (
      SELECT doc_id, island,
             max(pos) + {_DECON_N - 1} - min(pos) + 1 AS covered
      FROM islands GROUP BY doc_id, island
    ),
    spans_arm AS (
      SELECT doc_id, count(*) AS n_spans, sum(covered)::BIGINT AS covered_tokens
      FROM per_island GROUP BY doc_id
    ),
    duph AS (
      SELECT h FROM tpos GROUP BY h HAVING count(*) > 1
    ),
    dhits AS (
      SELECT t.doc_id, t.pos FROM tpos t JOIN duph d ON t.h = d.h
    ),
    dflagged AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {_DECON_N - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(pos + {_DECON_N - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS new_span
      FROM dhits
    ),
    dislands AS (
      SELECT doc_id, pos,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
      FROM dflagged
    ),
    dper_island AS (
      SELECT doc_id, island,
             max(pos) + {_DECON_N - 1} - min(pos) + 1 AS covered
      FROM dislands GROUP BY doc_id, island
    ),
    dupspans_arm AS (
      SELECT doc_id, count(*) AS n_dup_spans, sum(covered)::BIGINT AS dup_tokens
      FROM dper_island WHERE covered >= {_DUPSPAN_MIN} GROUP BY doc_id
    ),
    ccut AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
        FROM tpos) _r
      WHERE rk > 1
    ),
    cflagged AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + {_DECON_N - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR pos > max(pos + {_DECON_N - 1}) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                  THEN 1 ELSE 0 END AS new_span
      FROM ccut
    ),
    cislands AS (
      SELECT doc_id, pos,
             sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS island
      FROM cflagged
    ),
    cper_island AS (
      SELECT doc_id, island,
             max(pos) + {_DECON_N - 1} - min(pos) + 1 AS covered
      FROM cislands GROUP BY doc_id, island
    ),
    ctoklen AS (
      SELECT doc_id, len({T.tokens_sql('text')}) AS tl FROM documents
    ),
    cut_arm AS (
      SELECT i.doc_id,
             (max(t.tl) - sum(least(i.covered, t.tl)))::BIGINT AS kept_tokens,
             sum(least(i.covered, t.tl))::BIGINT AS cut_tokens
      FROM cper_island i JOIN ctoklen t ON i.doc_id = t.doc_id
      WHERE i.covered >= {_DUPSPAN_MIN}
      GROUP BY i.doc_id
      HAVING sum(least(i.covered, t.tl)) > 0
    )
    SELECT 'hits' AS tag, doc_id, n_hits::BIGINT AS a, NULL::BIGINT AS b
    FROM hits_arm
    UNION ALL
    SELECT 'spans', doc_id, n_spans::BIGINT, covered_tokens FROM spans_arm
    UNION ALL
    SELECT 'dupspans', doc_id, n_dup_spans::BIGINT, dup_tokens FROM dupspans_arm
    UNION ALL
    SELECT 'cut', doc_id, kept_tokens, cut_tokens FROM cut_arm
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, tagged — the "eval suite" is the 120-char
    prefix of every 17th document:

    - ``hits`` (operators/dedup.py:contamination_report): training docs
      sharing ≥ 3 distinct 8-gram shingles with the eval set, the
      DOC-level drop list.  Benchmark shingles distinct+broadcast; the
      corpus is one scan + explode and never shuffles (only hits do).
    - ``spans`` (operators/dedup.py:contaminated_spans): per contaminated
      doc, merged contaminated token intervals (n_spans, covered_tokens)
      — the SPAN-level cut list real pipelines use instead of dropping
      whole docs.  Gaps-and-islands merge over only the (rare) hit
      positions; the DuckDB oracle replays the same merge with window
      functions.
    - ``dupspans`` (operators/dedup.py:duplicated_spans): INTRA-corpus
      exact substring duplication (Lee et al. 2022 ExactSubstr) — token
      spans appearing verbatim ≥ 2 times anywhere in the corpus, merged
      per doc, islands under _DUPSPAN_MIN tokens dropped.  No broadcast
      side exists: the duplicated-hash set comes from a count-only
      partial aggregate over the shingle stream (the distributed analog
      of the paper's suffix-array global sort).
    - ``cut`` (operators/dedup.py:remove_duplicated_spans): the REMOVAL
      side — every duplicated span keeps its first occurrence corpus-wide,
      later occurrences are cut from the text; the arm reports per-doc
      (kept_tokens, cut_tokens) for docs that lost text.  The oracle is a
      DIFFERENT algorithm on purpose: Spark actually rewrites the text
      (higher-order-function token filter) and recounts, DuckDB computes
      kept = token_len − Σ min(island, len) arithmetically from the same
      rank>1 islands."""
    from modal_vector_db_spark.operators.dedup import (
        contaminated_spans,
        contamination_report,
        duplicated_spans,
        remove_duplicated_spans,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.substring("text", 1, 120).alias("text")
    )
    hits = contamination_report(
        docs, bench, "doc_id", "text", shingle_n=_DECON_N, min_hits=_DECON_HITS
    ).select(
        F.lit("hits").alias("tag"),
        "doc_id",
        F.col("n_hits").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
    )
    spans = contaminated_spans(
        docs, bench, "doc_id", "text", shingle_n=_DECON_N
    ).select(
        F.lit("spans").alias("tag"),
        "doc_id",
        F.col("n_spans").cast("long").alias("a"),
        F.col("covered_tokens").alias("b"),
    )
    dupspans = duplicated_spans(
        docs, "doc_id", "text", shingle_n=_DECON_N, min_covered=_DUPSPAN_MIN
    ).select(
        F.lit("dupspans").alias("tag"),
        "doc_id",
        F.col("n_dup_spans").cast("long").alias("a"),
        F.col("dup_tokens").alias("b"),
    )
    cleaned = remove_duplicated_spans(
        docs, "doc_id", "text", shingle_n=_DECON_N, min_covered=_DUPSPAN_MIN
    )
    cut = (
        cleaned.select("doc_id", T.token_count("text").alias("_kept"))
        .join(docs.select("doc_id", T.token_count("text").alias("_tl")), "doc_id")
        .filter(F.col("_tl") > F.col("_kept"))
        .select(
            F.lit("cut").alias("tag"),
            "doc_id",
            F.col("_kept").cast("long").alias("a"),
            (F.col("_tl") - F.col("_kept")).cast("long").alias("b"),
        )
    )
    return hits.union(spans).union(dupspans).union(cut)
