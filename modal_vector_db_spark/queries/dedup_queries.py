"""Deduplication suite — the core training-data-pipeline extension
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine).

The fixture corpus has no natural duplicates, so each query PLANTS them by
augmenting the input identically in both engines (exact copies at
``doc_id+100000``, near-copies with one appended token at
``doc_id+200000``) — the pipelines must then find exactly the planted
structure, which both engines verify independently.

Cross-engine determinism comes from the md5-derived 60-bit hash
(``functions/hashing.py``): Spark ``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT``.

Scale shape (100 TB): every pipeline here is
``per-row signature (codegen) → explode bands (×const) → shuffle on band
key → within-bucket pairs → verify join`` — the standard LSH layout whose
shuffle volume is O(rows × bands), never O(rows²); only within-bucket
verification is quadratic, bounded by bucket size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.hashing import minhash_signature_from_hashes_sql
from modal_vector_db_spark.functions.text import (
    hashed_shingles_sql,
    tokens,
    tokens_sql,
)
from modal_vector_db_spark.harness import load, register, scale_out

_AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || ' zz7' AS text
    FROM documents WHERE doc_id % 10 = 5
"""


def _augmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    exact = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near = docs.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz7")).alias("text"),
    )
    # The signature pipelines downstream are CPU-bound per row; spread the
    # (small) text corpus across all cores before hashing.
    return scale_out(docs.union(exact).union(near))


# ---------------------------------------------------------------------------
# 1. Exact dedup: hash-groupBy (the S5 idempotent-insert generalized to
#    content equality rather than id equality)
# ---------------------------------------------------------------------------
def _url_oracle_fragment() -> str:
    from modal_vector_db_spark.functions.url import url_normalize_sql

    canon_q = (
        "'http://site' || (doc_id % 50)::VARCHAR || '.example.com/p' "
        "|| (doc_id % 20)::VARCHAR || '?q=' || (doc_id % 7)::VARCHAR"
    )
    messy = (
        "'HTTP://Site' || (doc_id % 50)::VARCHAR || '.Example.COM:80/p' "
        "|| (doc_id % 20)::VARCHAR || '?q=' || (doc_id % 7)::VARCHAR "
        "|| '&utm_source=feed#sec' || (doc_id % 3)::VARCHAR"
    )
    slashy = (
        "'http://site' || (doc_id % 50)::VARCHAR || '.example.com/p' "
        "|| (doc_id % 20)::VARCHAR || '/'"
    )
    tracky = (
        "'http://site' || (doc_id % 50)::VARCHAR || '.example.com/p' "
        "|| (doc_id % 20)::VARCHAR || '?utm_campaign=z' "
        "|| (doc_id % 5)::VARCHAR"
    )
    return f"""
    u_all AS (
      SELECT doc_id AS uid,
             CASE WHEN doc_id % 8 = 0 THEN {messy}
                  WHEN doc_id % 8 = 4 THEN {slashy}
                  ELSE {canon_q} END AS url
      FROM documents
      UNION ALL
      SELECT doc_id + 950000, {canon_q} FROM documents WHERE doc_id % 8 = 0
      UNION ALL
      SELECT doc_id + 950000, {tracky} FROM documents WHERE doc_id % 8 = 4
    ),
    u_grp AS (
      SELECT 'url' AS kind, min(uid) AS keep_id, count(*) AS n_copies
      FROM (SELECT uid, {url_normalize_sql('url')} AS nurl FROM u_all)
      GROUP BY nurl HAVING count(*) > 1
    )
    """


@register(
    "dedup_exact",
    oracle=f"""
    WITH aug AS ({_AUG_SQL}),
    grp AS (
      SELECT 'grp' AS kind, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM aug GROUP BY md5(text) HAVING count(*) > 1
    ),
    batch AS (
      SELECT doc_id + 800000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 2
      UNION ALL
      SELECT doc_id + 900000 AS doc_id, text || ' bb5' AS text
      FROM documents WHERE doc_id % 7 = 3
    ),
    -- NOT EXISTS, not NOT IN: the twin of left-anti join semantics
    -- (NULL-key rows survive on both engines)
    bl AS (
      SELECT 'bloom' AS kind, b.doc_id AS keep_id, 1::BIGINT AS n_copies
      FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.text = b.text)
    ),
    {_url_oracle_fragment()}
    SELECT * FROM grp UNION ALL SELECT * FROM bl
    UNION ALL SELECT * FROM u_grp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact-dedup regimes, one result frame (`kind` discriminates
    — `grp` single-corpus content groups, `bloom` cross-corpus admission,
    `url` stage-zero normalized-URL groups):

    - ``grp``: single-corpus duplicate groups by content hash; keeper =
      min id.  One shuffle on the hash; partial agg map-side.
    - ``bloom``: CROSS-CORPUS admission via the Bloom anti-join
      (operators/bloom.py) — a synthetic batch (half verbatim copies of
      corpus docs, half genuinely new) admitted only where the text was
      never seen in `documents`.  The bloom path's result is contractually
      byte-identical to a plain left-anti join (no false negatives; false
      positives die in the candidate-only verify), which is exactly what
      the DuckDB twin computes — the oracle gates the EXACTNESS guarantee,
      not just the happy path.  Scale shape: the probe batch is never
      shuffled; only bloom candidates reach the verify anti-join."""
    from modal_vector_db_spark.operators.bloom import bloom_anti_join
    from modal_vector_db_spark.operators.dedup import exact_dup_groups

    aug = _augmented_docs(spark, sf_dir)
    grp = exact_dup_groups(aug, "doc_id", "text").select(
        F.lit("grp").alias("kind"), "keep_id", "n_copies"
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 7 == 2)
        .select((F.col("doc_id") + 800000).alias("doc_id"), "text")
        .union(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 900000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" bb5")).alias("text"),
            )
        )
    )
    surv = bloom_anti_join(
        batch, docs.select("text"), ["text"],
        num_bits=1 << 21, num_hashes=5, seed=8,
    )
    bloom = surv.select(
        F.lit("bloom").alias("kind"),
        F.col("doc_id").alias("keep_id"),
        F.lit(1).cast("long").alias("n_copies"),
    )

    # url arm: stage-zero web-pipeline dedup — planted URL VARIANTS
    # (mixed-case host + default port + fragment + utm params + trailing
    # slash) must collapse to one canonical key under the pure-Catalyst
    # url_normalize chain; the DuckDB twin applies the same rule chain
    # (functions/url.py keeps both dialects side by side).
    from modal_vector_db_spark.functions.url import url_normalize

    d = F.col("doc_id")
    site, path = (d % 50).cast("string"), (d % 20).cast("string")
    q = (d % 7).cast("string")
    canon_q = F.concat(
        F.lit("http://site"), site, F.lit(".example.com/p"), path,
        F.lit("?q="), q,
    )
    messy = F.concat(
        F.lit("HTTP://Site"), site, F.lit(".Example.COM:80/p"), path,
        F.lit("?q="), q, F.lit("&utm_source=feed#sec"),
        (d % 3).cast("string"),
    )
    slashy = F.concat(
        F.lit("http://site"), site, F.lit(".example.com/p"), path, F.lit("/")
    )
    tracky = F.concat(
        F.lit("http://site"), site, F.lit(".example.com/p"), path,
        F.lit("?utm_campaign=z"), (d % 5).cast("string"),
    )
    u_all = docs.select(
        d.alias("uid"),
        F.when(d % 8 == 0, messy).when(d % 8 == 4, slashy)
        .otherwise(canon_q).alias("url"),
    ).union(
        docs.filter(d % 8 == 0).select((d + 950000).alias("uid"),
                                       canon_q.alias("url"))
    ).union(
        docs.filter(d % 8 == 4).select((d + 950000).alias("uid"),
                                       tracky.alias("url"))
    )
    url_arm = (
        u_all.withColumn("_nurl", url_normalize("url"))
        .groupBy("_nurl")
        .agg(F.min("uid").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select(F.lit("url").alias("kind"), "keep_id", "n_copies")
    )
    return grp.unionByName(bloom).unionByName(url_arm)


# ---------------------------------------------------------------------------
# 2. MinHash + LSH banding near-dup pairs
# ---------------------------------------------------------------------------
_NUM_HASHES, _BANDS, _JACC_T = 8, 4, 0.4

_SH = hashed_shingles_sql("text", 3)
_SIG = minhash_signature_from_hashes_sql("sh", _NUM_HASHES)

# Bucket-cap adversarial arm: a planted boilerplate mega-cluster (the
# templated-pages shape exact pre-collapse can't remove) run through the
# CAPPED pipeline — buckets past _CAP emit hub-star edges, both engines.
_CAP = 16
_CAP_N = 300
_CAP_TEMPLATE = " ".join(f"tpl{i}" for i in range(20))

_MINHASH_ORACLE = f"""
WITH aug AS ({_AUG_SQL}),
d0 AS (SELECT doc_id, {_SH} AS sh FROM aug),
d AS (SELECT doc_id, sh, {_SIG} AS sig FROM d0),
bands AS (
  SELECT doc_id, sh, i AS band,
         sig[2*i + 1]::VARCHAR || '_' || sig[2*i + 2]::VARCHAR AS key
  FROM d, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS i) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(da.sh, db.sh))::DOUBLE
           / len(list_distinct(da.sh || db.sh))::DOUBLE AS jacc
  FROM cand c JOIN d da ON da.doc_id = c.doc_a
              JOIN d db ON db.doc_id = c.doc_b
),
mega AS (
  SELECT (500000 + i)::BIGINT AS doc_id,
         '{_CAP_TEMPLATE} unique' || i::VARCHAR AS text
  FROM (SELECT unnest(generate_series(0, {_CAP_N - 1})) AS i) s
),
md0 AS (SELECT doc_id, {_SH} AS sh FROM mega),
md AS (SELECT doc_id, sh, {_SIG} AS sig FROM md0),
mbands AS (
  SELECT doc_id, i AS band,
         sig[2*i + 1]::VARCHAR || '_' || sig[2*i + 2]::VARCHAR AS key
  FROM md, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS i) t
),
bsz AS (
  SELECT band, key, count(*) AS m, min(doc_id) AS hub
  FROM mbands GROUP BY band, key
),
mcand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM mbands a
    JOIN bsz sa ON sa.band = a.band AND sa.key = a.key AND sa.m <= {_CAP}
    JOIN mbands b ON a.band = b.band AND a.key = b.key
                 AND a.doc_id < b.doc_id
    UNION ALL
    SELECT s.hub AS doc_a, b.doc_id AS doc_b
    FROM mbands b
    JOIN bsz s ON s.band = b.band AND s.key = b.key AND s.m > {_CAP}
    WHERE b.doc_id != s.hub
  ) u
),
mverified AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(da.sh, db.sh))::DOUBLE
           / len(list_distinct(da.sh || db.sh))::DOUBLE AS jacc
  FROM mcand c JOIN md da ON da.doc_id = c.doc_a
               JOIN md db ON db.doc_id = c.doc_b
)
SELECT 'pairs' AS tag, doc_a, doc_b, round(jacc, 6) AS jaccard
FROM verified WHERE jacc >= {_JACC_T}
UNION ALL
SELECT 'capped' AS tag, doc_a, doc_b, round(jacc, 6) AS jaccard
FROM mverified WHERE jacc >= {_JACC_T}
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) → 4 bands × 2 rows → band-bucket join → exact-Jaccard
    verify ≥ 0.4.

    The band explode carries ONLY (doc_id, band, key) into the shuffle —
    shingle sets are re-joined after candidate dedup, keeping shuffle volume
    O(rows×bands), which is what survives 100 TB.

    ``capped`` arm: the verify-stage skew guard ON the oracle gate — a
    planted boilerplate mega-cluster (``_CAP_N`` = 300 near-identical
    templated docs) run with ``bucket_cap`` = ``_CAP`` = 16; oversized
    (band, key) buckets emit hub-star edges instead of C(m, 2) pairs, and
    the DuckDB twin mirrors the star fallback exactly (same hub = bucket
    min id, same strictly-sub-cap full-pairs branch), so the capped
    candidate semantics themselves are cross-engine verified — not just
    exercised in a unit test."""
    from modal_vector_db_spark.operators.dedup import minhash_lsh_pairs

    aug = _augmented_docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        aug,
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=3,
        threshold=_JACC_T,
    )
    mega = spark.range(_CAP_N).select(
        (F.col("id") + 500000).alias("doc_id"),
        F.concat(
            F.lit(_CAP_TEMPLATE + " unique"), F.col("id").cast("string")
        ).alias("text"),
    )
    capped = minhash_lsh_pairs(
        scale_out(mega),
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=3,
        threshold=_JACC_T,
        bucket_cap=_CAP,
    )
    out = pairs.select(F.lit("pairs").alias("tag"), "id_a", "id_b", "jaccard")
    out = out.unionByName(
        capped.select(F.lit("capped").alias("tag"), "id_a", "id_b", "jaccard")
    )
    return out.select(
        "tag",
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# 3. SimHash near-dup pairs (hamming-banded)
# ---------------------------------------------------------------------------
_SIMHASH_BITS, _HAMMING_T = 60, 6
# DuckDB sim expression over a pre-hashed token list `hs` (md5 once per
# token, 60 cheap integer passes — mirrors the Spark single-pass structure).
_SIMH_FROM_HS = "(" + " + ".join(
    f"CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x & {1 << j}) != 0 "
    f"THEN 1 ELSE -1 END)) > 0 THEN {1 << j}::BIGINT ELSE 0 END"
    for j in range(_SIMHASH_BITS)
) + ")"

_SIMHASH_ORACLE = f"""
WITH aug AS ({_AUG_SQL}),
hsrc AS MATERIALIZED (
  SELECT doc_id,
         list_transform({tokens_sql('text')}, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
  FROM aug
),
d AS MATERIALIZED (SELECT doc_id, {_SIMH_FROM_HS} AS sim FROM hsrc),
bands AS (
  SELECT doc_id, sim, 0 AS band, sim >> 45 AS key FROM d
  UNION ALL
  SELECT doc_id, sim, 1 AS band, (sim >> 30) & 32767 AS key FROM d
  UNION ALL
  SELECT doc_id, sim, 2 AS band, (sim >> 15) & 32767 AS key FROM d
  UNION ALL
  SELECT doc_id, sim, 3 AS band, sim & 32767 AS key FROM d
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.sim AS sim_a, b.sim AS sim_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id
),
iids AS (
  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id + 700000, doc_id FROM documents WHERE doc_id % 12 = 0
),
imgd AS MATERIALIZED (
  SELECT id,
         SUM(CASE WHEN pr > pl THEN
               CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)::BIGINT
                    ELSE (1::BIGINT << bit::INT) END
             ELSE 0::BIGINT END)::BIGINT AS dh
  FROM (
    SELECT i.id, (gy * 8 + gx) AS bit,
           CASE WHEN i.id >= 700000 AND gx = 0 AND gy = 0
                THEN ((i.base * 7 + (11 + i.base % 89) * gx + 29 * gy) % 256 + 128) % 256
                ELSE (i.base * 7 + (11 + i.base % 89) * gx + 29 * gy) % 256 END AS pl,
           (i.base * 7 + (11 + i.base % 89) * (gx + 1) + 29 * gy) % 256 AS pr
    FROM iids i,
         (SELECT unnest(generate_series(0, 7)) AS gx) xs,
         (SELECT unnest(generate_series(0, 7)) AS gy) ys
  )
  GROUP BY id
),
ibands AS (
  SELECT id, dh, unnest([0, 1, 2, 3]) AS band,
         unnest([(dh >> 48) & 65535, (dh >> 32) & 65535,
                 (dh >> 16) & 65535, dh & 65535]) AS key
  FROM imgd
),
aids AS (
  SELECT doc_id AS id, doc_id AS base FROM documents
  WHERE doc_id % 3 = 2 AND length(text) >= 65
  UNION ALL
  SELECT doc_id + 700000, doc_id FROM documents
  WHERE (doc_id % 12 = 2 OR doc_id % 12 = 11) AND length(text) >= 65
),
apcm0 AS (
  SELECT a.id, a.base,
         list_transform(string_split(substr(d.text, 1, 512), ''),
                        ch -> ord(ch)) AS p
  FROM aids a JOIN documents d ON d.doc_id = a.base
),
apcm AS MATERIALIZED (
  SELECT id, base,
         CASE WHEN id >= 700000
              THEN list_concat([(p[1] + 64) % 256], p[2:len(p)])
              ELSE p END AS pcm
  FROM apcm0
),
-- per-frame loudness list: 16-bit stereo docs (base%6=5, >=130 bytes)
-- pair the text bytes into |131*b1 + 57*b2 - 11000| channel-sum mixdown
-- amplitudes; 8-bit mono docs keep |b - 128|
aamp AS MATERIALIZED (
  SELECT id,
         CASE WHEN base % 6 = 5 AND len(pcm) >= 130
              THEN list_transform(generate_series(1, len(pcm) // 2),
                     j -> abs(pcm[2*j - 1] * 131 + pcm[2*j] * 57 - 11000))
              ELSE list_transform(pcm, x -> abs(x - 128)) END AS amps
  FROM apcm
),
aslc AS (
  SELECT id, i AS slc,
         list_sum(amps[(i * n) // 65 + 1 : ((i + 1) * n) // 65]) AS s,
         ((i + 1) * n) // 65 - (i * n) // 65 AS c
  FROM (SELECT id, amps, len(amps) AS n FROM aamp) t,
       (SELECT unnest(generate_series(0, 64)) AS i) u
),
adh AS MATERIALIZED (
  SELECT a.id,
         SUM(CASE WHEN b.s * a.c > a.s * b.c THEN
               CASE WHEN a.slc = 63 THEN (-9223372036854775807 - 1)::BIGINT
                    ELSE (1::BIGINT << a.slc::INT) END
             ELSE 0::BIGINT END)::BIGINT AS dh
  FROM aslc a JOIN aslc b ON b.id = a.id AND b.slc = a.slc + 1
  GROUP BY a.id
),
abands AS (
  SELECT id, dh, unnest([0, 1, 2, 3]) AS band,
         unnest([(dh >> 48) & 65535, (dh >> 32) & 65535,
                 (dh >> 16) & 65535, dh & 65535]) AS key
  FROM adh
),
-- video: middle-frame dHash over 9x8 DC-only blocks — block (gx, gy) of
-- doc base is (base*7 + (11 + base%89)*gx + 29*gy + 13*mid) % 256 with
-- mid = (3 + base%4) // 2; twins (id >= 700000) perturb block (0, 0)
vids AS (
  SELECT doc_id AS id, doc_id AS base FROM documents WHERE doc_id % 6 = 1
  UNION ALL
  SELECT doc_id + 700000, doc_id FROM documents WHERE doc_id % 12 = 1
),
vdh AS MATERIALIZED (
  SELECT id,
         SUM(CASE WHEN pr > pl THEN
               CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)::BIGINT
                    ELSE (1::BIGINT << bit::INT) END
             ELSE 0::BIGINT END)::BIGINT AS dh
  FROM (
    SELECT i.id, (gy * 8 + gx) AS bit,
           CASE WHEN i.id >= 700000 AND gx = 0 AND gy = 0
                THEN ((i.base * 7 + (11 + i.base % 89) * gx + 29 * gy
                       + 13 * ((3 + i.base % 4) // 2)) % 256 + 128) % 256
                ELSE (i.base * 7 + (11 + i.base % 89) * gx + 29 * gy
                      + 13 * ((3 + i.base % 4) // 2)) % 256 END AS pl,
           (i.base * 7 + (11 + i.base % 89) * (gx + 1) + 29 * gy
            + 13 * ((3 + i.base % 4) // 2)) % 256 AS pr
    FROM vids i,
         (SELECT unnest(generate_series(0, 7)) AS gx) xs,
         (SELECT unnest(generate_series(0, 7)) AS gy) ys
  )
  GROUP BY id
),
vbands AS (
  SELECT id, dh, unnest([0, 1, 2, 3]) AS band,
         unnest([(dh >> 48) & 65535, (dh >> 32) & 65535,
                 (dh >> 16) & 65535, dh & 65535]) AS key
  FROM vdh
)
SELECT 'text' AS kind, doc_a, doc_b, bit_count(xor(sim_a, sim_b))::INT AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {_HAMMING_T}
UNION ALL
SELECT 'image', doc_a, doc_b, bit_count(xor(ha, hb))::INT
FROM (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b, a.dh AS ha, b.dh AS hb
  FROM ibands a JOIN ibands b
       ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
WHERE bit_count(xor(ha, hb)) <= {_HAMMING_T}
UNION ALL
SELECT 'audio', doc_a, doc_b, bit_count(xor(ha, hb))::INT
FROM (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b, a.dh AS ha, b.dh AS hb
  FROM abands a JOIN abands b
       ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
WHERE bit_count(xor(ha, hb)) <= {_HAMMING_T}
UNION ALL
SELECT 'video', doc_a, doc_b, bit_count(xor(ha, hb))::INT
FROM (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b, a.dh AS ha, b.dh AS hb
  FROM vbands a JOIN vbands b
       ON a.band = b.band AND a.key = b.key AND a.id < b.id
)
WHERE bit_count(xor(ha, hb)) <= {_HAMMING_T}
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOUR near-dup-signature modalities through ONE banding engine
    (`kind` discriminates):

    - ``text``: SimHash(60) per doc; candidate pairs share one of four
      15-bit bands (pigeonhole: hamming ≤ 3 ⇒ some band is IDENTICAL, so
      true near-dups are guaranteed candidates; wider hamming up to the
      verify threshold 6 is probabilistic — the standard banding recall
      trade, same O(rows×bands) shuffle as MinHash-LSH); verify
      hamming ≤ 6 exactly.
    - ``image``: PERCEPTUAL near-dup over planted 9×8 grayscale PNGs —
      real stdlib decode → dHash64
      (``operators/multimodal.py:dhash64``, channel-sum grayscale,
      integer-exact box compares, signed bit-63 packing) → the SAME
      generic ``signature_hamming_pairs`` banding (4×16-bit slices).
      Every 12th doc plants a TWIN image with one perturbed pixel (a
      near-dup a hash-equality dedup can never see); the oracle recomputes
      each dHash closed-form from the pixel formula and replays the
      band-join + bit_count verify in SQL.
    - ``audio``: amplitude-profile dHash over planted WAVs (8-bit mono
      AND 16-bit stereo — real stdlib ``wave`` decode + channel-sum
      mixdown); oracle recomputes the slice loudness closed-form from
      the text bytes.
    - ``video``: middle-frame dHash over planted MJPEG AVIs (real RIFF
      walk + baseline-JPEG entropy decode of exactly one frame); DC-only
      8×8 blocks align 1:1 with the dHash grid, so the oracle recomputes
      the hash closed-form from the block formula."""
    from modal_vector_db_spark.operators.dedup import (
        signature_hamming_pairs,
        simhash_pairs,
    )

    aug = _augmented_docs(spark, sf_dir)
    pairs = simhash_pairs(
        aug,
        "doc_id",
        "text",
        bits=_SIMHASH_BITS,
        band_bits=15,
        hamming_threshold=_HAMMING_T,
    )
    text_arm = pairs.select(
        F.lit("text").alias("kind"),
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming",
    )

    import pandas as pd

    import modal_vector_db_spark.operators.multimodal as MM

    MM._ship_by_value()
    from modal_vector_db_spark.operators.multimodal import (
        encode_png,
        extract_image_dhash,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    ids = docs.filter(F.col("doc_id") % 3 == 0).union(
        docs.filter(F.col("doc_id") % 12 == 0).select(
            (F.col("doc_id") + 700000).alias("doc_id")
        )
    )

    def _synth(batches):
        for pdf in batches:
            blobs = []
            for i in pdf["doc_id"]:
                i = int(i)
                base, tweak = (i - 700000, True) if i >= 700000 else (i, False)
                # doc-dependent gradient SLOPE: a pure mod-256 offset
                # would leave only 256 distinct hash patterns and pair
                # unrelated docs quadratically at scale
                px = bytearray(
                    (base * 7 + (11 + base % 89) * x + 29 * y) % 256
                    for y in range(8) for x in range(9)
                )
                if tweak:
                    px[0] = (px[0] + 128) % 256
                blobs.append(encode_png(9, 8, bytes(px), channels=1))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    # fused synth+decode (one Python pass, guide §4) over a scaled-out
    # id list (single-split parquet otherwise serializes the decode)
    img_pairs = signature_hamming_pairs(
        extract_image_dhash(scale_out(ids), synth=_synth), "doc_id", "dhash",
        bits=64, band_bits=16, hamming_threshold=_HAMMING_T,
    )
    image_arm = img_pairs.select(
        F.lit("image").alias("kind"),
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming",
    )

    # audio modality: planted WAVs whose PCM derives from the doc text's
    # bytes (truncated to 512) — real stdlib wave decode → amplitude-
    # profile dHash (multimodal.audio_dhash64) → the SAME banding engine;
    # every 12th audio doc plants a twin with ONE perturbed byte.  Docs
    # with base%6==5 and ≥130 bytes plant a 16-BIT STEREO variant whose
    # samples derive from the text bytes PAIRWISE (left = b·131−8000,
    # right = b·57−3000 — exercises the int16 decode + channel-sum
    # mixdown); the rest stay 8-bit mono.  The oracle recomputes each
    # hash closed-form from the text characters (the awave-arm
    # convention: ASCII fixture, ord(ch) == byte).
    from modal_vector_db_spark.operators.multimodal import extract_audio_dhash

    adocs = load(spark, sf_dir, "documents").select("doc_id", "text").filter(
        (F.col("doc_id") % 3 == 2) & (F.length("text") >= 65)
    )
    # twins: %12==2 perturbs an 8-bit doc, %12==11 a 16-bit one (11 ≡ 5
    # mod 6) — BOTH decode paths must survive the pair gate
    aids = adocs.union(
        adocs.filter(
            (F.col("doc_id") % 12 == 2) | (F.col("doc_id") % 12 == 11)
        ).select((F.col("doc_id") + 700000).alias("doc_id"), "text")
    )

    def _synth_wav(batches):
        import io
        import struct
        import wave

        for pdf in batches:
            blobs = []
            for i, t in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                pcm = bytearray(str(t).encode("utf-8")[:512])
                if i >= 700000:
                    pcm[0] = (pcm[0] + 64) % 256
                base = i - 700000 if i >= 700000 else i
                if base % 6 == 5 and len(pcm) >= 130:
                    nfr = len(pcm) // 2
                    inter = []
                    for j in range(nfr):
                        inter += [pcm[2 * j] * 131 - 8000,
                                  pcm[2 * j + 1] * 57 - 3000]
                    nch, sw = 2, 2
                    data = struct.pack(f"<{len(inter)}h", *inter)
                else:
                    nch, sw, data = 1, 1, bytes(pcm)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(nch)
                    wf.setsampwidth(sw)
                    wf.setframerate(8000)
                    wf.writeframes(data)
                blobs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    aud_pairs = signature_hamming_pairs(
        extract_audio_dhash(scale_out(aids), synth=_synth_wav), "doc_id", "dhash",
        bits=64, band_bits=16, hamming_threshold=_HAMMING_T,
    )
    audio_arm = aud_pairs.select(
        F.lit("audio").alias("kind"),
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming",
    )

    # video modality: planted MJPEG AVIs — only the MIDDLE frame carries
    # content (the other frames share one 8×8 filler JPEG that
    # video_dhash64 never entropy-decodes): a 72×64 GRAYSCALE frame of
    # 9×8 DC-only 8×8 blocks whose values follow the image-arm slope
    # formula (+13·mid frame offset).  With qtable all-1s and dc a
    # multiple of 8, every decoded pixel equals its block value EXACTLY,
    # and the dHash 9×8 grid cells align 1:1 with the blocks — so the
    # DuckDB twin recomputes the middle-frame hash closed-form from the
    # block formula, no pixel math.  Every video doc with %12==1 plants
    # a twin with one perturbed corner block (hamming ≤ 1).
    import modal_vector_db_spark.operators.avi as AVI
    import modal_vector_db_spark.operators.jpeg as JPEG

    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(AVI, JPEG)
    from modal_vector_db_spark.operators.avi import (
        encode_mjpeg_avi,
        extract_video_dhash,
    )
    from modal_vector_db_spark.operators.jpeg import encode_jpeg_blocks

    # the per-doc synth+decode is ~2 ms of Python (JPEG bit-writer + one
    # entropy-decoded frame) — two orders heavier than the PNG/WAV arms —
    # so spread the id list across every core before the mapInPandas
    # (parquet gives this small table only 2-3 input splits)
    vids = docs.filter(F.col("doc_id") % 6 == 1).union(
        docs.filter(F.col("doc_id") % 12 == 1).select(
            (F.col("doc_id") + 700000).alias("doc_id")
        )
    ).repartition(spark.sparkContext.defaultParallelism)

    def _synth_avi(batches):
        filler = encode_jpeg_blocks(8, 8, [[0] * 64])
        for pdf in batches:
            blobs = []
            for i in pdf["doc_id"]:
                i = int(i)
                base = i - 700000 if i >= 700000 else i
                n = 3 + base % 4
                mid = n // 2
                slope = 11 + base % 89
                blocks = []
                for gy in range(8):
                    for gx in range(9):
                        v = (base * 7 + slope * gx + 29 * gy + 13 * mid) % 256
                        if i >= 700000 and gx == 0 and gy == 0:
                            v = (v + 128) % 256
                        blocks.append([(v - 128) * 8] + [0] * 63)
                frames = [filler] * n
                frames[mid] = encode_jpeg_blocks(72, 64, blocks)
                blobs.append(encode_mjpeg_avi(frames, 72, 64))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    vid_pairs = signature_hamming_pairs(
        extract_video_dhash(vids, synth=_synth_avi), "doc_id", "dhash",
        bits=64, band_bits=16, hamming_threshold=_HAMMING_T,
    )
    video_arm = vid_pairs.select(
        F.lit("video").alias("kind"),
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming",
    )
    return (text_arm.unionByName(image_arm).unionByName(audio_arm)
            .unionByName(video_arm))


# ---------------------------------------------------------------------------
# 4. n-gram (unigram-set) Jaccard — MinHash-banded with metadata blocking
#    folded into the band key
# ---------------------------------------------------------------------------
_NG_SH = hashed_shingles_sql("text", 1)  # unigram token hashes
_NG_SIG = minhash_signature_from_hashes_sql("sh", _NUM_HASHES)

_NGRAM_ORACLE = f"""
WITH d0 AS (SELECT doc_id, lang, source, {_NG_SH} AS sh FROM documents),
d AS (SELECT doc_id, lang, source, sh, {_NG_SIG} AS sig FROM d0),
bands AS (
  SELECT doc_id, sh, i AS band,
         lang || '_' || source || '_'
           || sig[2*i + 1]::VARCHAR || '_' || sig[2*i + 2]::VARCHAR AS key
  FROM d, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS i) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                           AND a.doc_id < b.doc_id
),
ver AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(da.sh, db.sh))::DOUBLE
           / len(list_distinct(da.sh || db.sh))::DOUBLE AS jacc
  FROM cand c JOIN d0 da ON da.doc_id = c.doc_a
              JOIN d0 db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, round(jacc, 6) AS jaccard FROM ver WHERE jacc >= 0.5
"""


@register("dedup_ngram_jaccard", oracle=_NGRAM_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-set Jaccard ≥ 0.5 pairs via MinHash bands with (lang, source)
    folded INTO the band key (operators/dedup.py:minhash_lsh_pairs
    ``block_cols``).

    Round-2 verdict fix: the previous shape was a plain (lang, source)
    self-join — dozens of blocks, so within-block pairwise Jaccard went
    quadratic at 100×.  Folding the metadata into the LSH band key keeps
    the blocking semantics (candidates still must share lang+source) while
    bucket sizes are governed by the minhash bits, O(rows×bands) shuffle."""
    from modal_vector_db_spark.operators.dedup import minhash_lsh_pairs

    docs = scale_out(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "text"
    )
    pairs = minhash_lsh_pairs(
        docs,
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=1,
        threshold=0.5,
        block_cols=("lang", "source"),
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-dup pairs — deterministic SRP-LSH banding
# ---------------------------------------------------------------------------
_EMB_DIM, _SRP_PLANES, _SRP_BANDS, _COS_T = 64, 24, 4, 0.95

_EMB_AUG_SQL = """
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 20 = 0
"""


def _emb_cos_oracle() -> str:
    """DuckDB mirror of the SRP-banded pipeline: same integer-exact
    projections (see operators/ann.py:srp_band_keys_sql), same band keys,
    same cosine ≥ 0.95 verification — bit-identical candidates."""
    from modal_vector_db_spark.operators.ann import srp_band_keys_sql, srp_hyperplanes

    planes = srp_hyperplanes(_SRP_PLANES, _EMB_DIM)
    keys = srp_band_keys_sql("embedding", planes, _SRP_BANDS)
    band_arms = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, {expr} AS key FROM aug" for b, expr in keys
    )
    return f"""
WITH aug AS ({_EMB_AUG_SQL}),
bands AS (
{band_arms}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                           AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       round(list_cosine_similarity(va.embedding::DOUBLE[],
                                    vb.embedding::DOUBLE[]), 6) AS cos_sim
FROM cand c JOIN aug va ON va.vec_id = c.vec_a
            JOIN aug vb ON vb.vec_id = c.vec_b
WHERE list_cosine_similarity(va.embedding::DOUBLE[], vb.embedding::DOUBLE[])
      >= {_COS_T}
"""


@register("dedup_embedding_cosine", oracle=_emb_cos_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs ≥ 0.95 via deterministic sign-random-
    projection LSH (operators/ann.py:cosine_srp_pairs): 24 integer
    hyperplanes → 4 bands × 6 sign bits → band-bucket join → exact cosine
    verify.  Finds the planted identical copies (identical vectors share
    every band — recall 1.0 for exact dups by construction).

    Round-2 verdict fix: the previous shape self-joined on the 10-value
    ``label`` column — quadratic within blocks at 100×.  Bucket counts here
    are 2^bits per band, tuned by adding planes, independent of any data
    column's cardinality; shuffle is O(rows × bands)."""
    from modal_vector_db_spark.operators.ann import cosine_srp_pairs

    emb = scale_out(load(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    # Plant exact copies in ONE scan (explode beats a union of two scans:
    # half the file reads, half the repartition exchanges).
    aug = emb.select(
        F.explode(
            F.when(
                F.col("vec_id") % 20 == 0,
                F.array(F.col("vec_id"), F.col("vec_id") + 100000),
            ).otherwise(F.array(F.col("vec_id")))
        ).alias("vec_id"),
        "embedding",
    )
    pairs = cosine_srp_pairs(
        aug,
        _COS_T,
        _EMB_DIM,
        num_planes=_SRP_PLANES,
        bands=_SRP_BANDS,
    )
    return pairs.select(
        F.col("id_a").alias("vec_a"),
        F.col("id_b").alias("vec_b"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# 6. Pairs → clusters: connected components over near-dup edges
# ---------------------------------------------------------------------------
_CC_AUG_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, text || ' zz7' AS text
    FROM documents WHERE doc_id % 20 = 0
"""

_CC_TOKS = f"list_distinct({tokens_sql('text')})"

_CC_ORACLE = f"""
WITH RECURSIVE aug AS ({_CC_AUG_SQL}),
d AS (SELECT doc_id, md5(substr(text, 1, 40)) AS blk, {_CC_TOKS} AS toks FROM aug),
edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
  WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
        / len(list_distinct(a.toks || b.toks))::DOUBLE >= 0.4
),
sym AS (SELECT src AS s, dst AS t FROM edges UNION ALL SELECT dst, src FROM edges),
reach AS (
  SELECT DISTINCT s AS node, s AS label FROM sym
  UNION
  SELECT sym.s, reach.label FROM sym JOIN reach ON sym.t = reach.node
),
cc AS (SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node),
labeled AS (
  SELECT a.doc_id, coalesce(c.component, a.doc_id) AS component
  FROM aug a LEFT JOIN cc c ON a.doc_id = c.doc_id
),
sided AS (
  SELECT doc_id, component,
         CASE WHEN ('0x' || substr(md5(component::VARCHAR), 1, 15))::BIGINT % 100 < 20
              THEN 1 ELSE 0 END AS side
  FROM labeled
),
leak AS (
  SELECT count(*)::BIGINT AS n
  FROM edges e
  JOIN sided x ON e.src = x.doc_id
  JOIN sided y ON e.dst = y.doc_id
  WHERE x.side != y.side
)
SELECT 'cc' AS tag, doc_id, component AS val FROM cc
UNION ALL
SELECT 'side', doc_id, side::BIGINT FROM sided
UNION ALL
SELECT 'leak', -1::BIGINT, n FROM leak
"""


@register("dedup_components", oracle=_CC_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS → leakage-free SPLIT, tagged:

    - ``cc``: prefix-blocked Jaccard edges (orig — exact copy — near copy
      form 3-node components) resolved by iterative min-label propagation
      (operators/graph.py).  The DuckDB oracle computes the same fixpoint
      with a recursive CTE — cross-checking an iterative DataFrame
      algorithm against declarative recursion.
    - ``side``: leakage-safe train/val assignment for EVERY doc
      (operators/graph.py:leakage_safe_split) — the split hashes the
      COMPONENT label, so near-duplicates can never straddle the split.
    - ``leak``: the property itself, asserted cross-engine — the count of
      edges whose endpoints landed on different sides (must be 0)."""
    from modal_vector_db_spark.operators.graph import (
        connected_components,
        leakage_safe_split,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    plant = docs.filter(F.col("doc_id") % 20 == 0)
    aug = scale_out(
        docs.union(plant.select((F.col("doc_id") + 100000).alias("doc_id"), "text")).union(
            plant.select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz7")).alias("text"),
            )
        )
    )
    d = aug.select(
        "doc_id",
        F.md5(F.substring("text", 1, 40)).alias("blk"),
        F.array_distinct(tokens("text")).alias("toks"),
    )
    a, b = d.alias("a"), d.alias("b")
    jac = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks"))).cast("double") / F.size(
        F.array_union(F.col("a.toks"), F.col("b.toks"))
    ).cast("double")
    edges = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(jac >= 0.4)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    # Materialize the blocked self-join ONCE: the label iteration re-reads
    # edges every round and the leak check reads them again — localCheckpoint
    # (not persist: a query function cannot unpersist its lazy result, and
    # leaked cache entries would pile up across bench iterations).
    edges = edges.localCheckpoint(eager=True)
    # ... and run the label iteration once, shared by the cc arm and the
    # split (its result is itself checkpoint-materialized).
    comp = connected_components(edges)
    cc = comp.select(
        F.lit("cc").alias("tag"),
        F.col("node").alias("doc_id"),
        F.col("component").alias("val"),
    )
    sided = leakage_safe_split(aug, edges, "doc_id", val_pct=20, components=comp)
    side = sided.select(
        F.lit("side").alias("tag"), "doc_id", F.col("side").cast("long").alias("val")
    )
    x, y = sided.alias("x"), sided.alias("y")
    leak = (
        edges.join(x, F.col("src") == F.col("x.doc_id"))
        .join(y, F.col("dst") == F.col("y.doc_id"))
        .filter(F.col("x.side") != F.col("y.side"))
        .agg(F.count(F.lit(1)).cast("long").alias("val"))  # global agg: one row, 0 when clean
        .select(
            F.lit("leak").alias("tag"),
            F.lit(-1).cast("long").alias("doc_id"),
            "val",
        )
    )
    return cc.union(side).union(leak)


# ---------------------------------------------------------------------------
# 7. Incremental (batch-vs-corpus) dedup — the steady-state pipeline shape
# ---------------------------------------------------------------------------
#: Planted batch vs the document corpus: exact copies (+300k), near copies
#: (+400k, one-token suffix), novel docs (+500k, reversed text — shares no
#: shingles with the original), a within-batch exact pair (+600k/+650k) and
#: a within-batch near pair (+700k/+750k).  Expected survivors: the novel
#: arm and the min id of each within-batch pair.
_INCR_ORACLE = f"""
WITH RECURSIVE corpus AS (SELECT doc_id, text FROM documents),
batch AS (
  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 20 = 1
  UNION ALL
  SELECT doc_id + 400000, text || ' zz9' FROM documents WHERE doc_id % 20 = 3
  UNION ALL
  SELECT doc_id + 500000, reverse(text) FROM documents WHERE doc_id % 20 = 7
  UNION ALL
  SELECT doc_id + 600000, reverse(text) FROM documents WHERE doc_id % 20 = 9
  UNION ALL
  SELECT doc_id + 650000, reverse(text) FROM documents WHERE doc_id % 20 = 9
  UNION ALL
  SELECT doc_id + 700000, reverse(text) FROM documents WHERE doc_id % 20 = 11
  UNION ALL
  SELECT doc_id + 750000, reverse(text) || ' qq8' FROM documents WHERE doc_id % 20 = 11
),
-- pass 1: within-batch exact (keep min id per content hash)
b1 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
    FROM batch) t
  WHERE doc_id = keep
),
-- pass 2: exact vs corpus
b2 AS (
  SELECT doc_id, text FROM b1
  WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)
),
-- pass 3a: near-dup vs corpus (MinHash bands, exact-Jaccard verified)
c_d AS (SELECT doc_id, sh, {_SIG} AS sig
        FROM (SELECT doc_id, {_SH} AS sh FROM corpus) t),
b_d AS (SELECT doc_id, sh, {_SIG} AS sig
        FROM (SELECT doc_id, {_SH} AS sh FROM b2) t),
c_bands AS (
  SELECT doc_id, i AS band,
         sig[2*i + 1]::VARCHAR || '_' || sig[2*i + 2]::VARCHAR AS key
  FROM c_d, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS i) t
),
b_bands AS (
  SELECT doc_id, i AS band,
         sig[2*i + 1]::VARCHAR || '_' || sig[2*i + 2]::VARCHAR AS key
  FROM b_d, (SELECT unnest(generate_series(0, {_BANDS - 1})) AS i) t
),
cand AS (
  SELECT DISTINCT c.doc_id AS id_a, b.doc_id AS id_b
  FROM c_bands c JOIN b_bands b ON c.band = b.band AND c.key = b.key
),
cross_dup AS (
  SELECT DISTINCT cand.id_b
  FROM cand JOIN c_d ca ON ca.doc_id = cand.id_a
            JOIN b_d bb ON bb.doc_id = cand.id_b
  WHERE len(list_intersect(ca.sh, bb.sh))::DOUBLE
        / len(list_distinct(ca.sh || bb.sh))::DOUBLE >= {_JACC_T}
),
b3 AS (SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT id_b FROM cross_dup)),
-- pass 3b: within-batch near-dup pairs + connected-components min-keep
w_bands AS (SELECT * FROM b_bands WHERE doc_id IN (SELECT doc_id FROM b3)),
wver AS (
  SELECT DISTINCT p.id_a, p.id_b
  FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM w_bands a JOIN w_bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id) p
  JOIN b_d da ON da.doc_id = p.id_a
  JOIN b_d db ON db.doc_id = p.id_b
  WHERE len(list_intersect(da.sh, db.sh))::DOUBLE
        / len(list_distinct(da.sh || db.sh))::DOUBLE >= {_JACC_T}
),
edges AS (SELECT id_a AS a, id_b AS b FROM wver
          UNION SELECT id_b, id_a FROM wver),
reach(src, dst) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT doc_id FROM b3
WHERE doc_id NOT IN (SELECT DISTINCT src FROM reach WHERE dst < src)
"""


@register("dedup_incremental", oracle=_INCR_ORACLE)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus admission (operators/dedup.py:incremental_dedup):
    the steady-state training-data shape — each crawl increment is checked
    against the accepted corpus (exact by content hash, near by MinHash
    band join with the small batch broadcast) and against itself, never
    re-clustered with the corpus.  Returns surviving batch doc_ids."""
    from modal_vector_db_spark.operators.dedup import incremental_dedup

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def arm(mod: int, off: int, text_expr):
        return docs.filter(F.col("doc_id") % 20 == mod).select(
            (F.col("doc_id") + off).alias("doc_id"), text_expr.alias("text")
        )

    rev = F.reverse(F.col("text"))
    batch = (
        arm(1, 300000, F.col("text"))
        .union(arm(3, 400000, F.concat(F.col("text"), F.lit(" zz9"))))
        .union(arm(7, 500000, rev))
        .union(arm(9, 600000, rev))
        .union(arm(9, 650000, rev))
        .union(arm(11, 700000, rev))
        .union(arm(11, 750000, F.concat(rev, F.lit(" qq8"))))
    )
    out = incremental_dedup(
        scale_out(docs),
        batch,
        "doc_id",
        "text",
        num_hashes=_NUM_HASHES,
        bands=_BANDS,
        shingle_n=3,
        threshold=_JACC_T,
    )
    return out.select("doc_id")
