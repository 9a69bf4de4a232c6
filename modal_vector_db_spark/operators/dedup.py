"""Reusable dedup operators — the library surface behind
``queries/dedup_queries.py`` (which binds them to fixtures + oracles).

Pipeline shape shared by every near-dup variant (the layout that survives
100 TB):

    per-row signature (codegen) → explode O(1) band keys → shuffle on the
    band key → within-bucket candidate pairs → verify join → [connected
    components → keep-one-per-cluster]

Shuffle volume is O(rows × bands); only within-bucket verification is
quadratic, bounded by bucket size.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.hashing import simhash64
from modal_vector_db_spark.functions.text import hashed_shingles, tokens


def _jaccard(a: str, b: str):
    """Exact Jaccard over two DISTINCT-element arrays (every ``sh`` column
    here comes from ``hashed_shingles`` = ``array_distinct(...)``):
    |a ∪ b| = |a| + |b| − |a ∩ b|, so ONE array_intersect pass per pair
    replaces intersect + union — the union built and hashed the combined
    array per candidate pair, the most expensive expression in the verify
    stage (round-13; measured ~1.15× on the ngram arm at sf0.1).  Integer
    arithmetic on exact set sizes — bit-identical to the array_union form."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter).cast("double")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash → (keep_id, n_copies), groups
    with one member excluded.  One shuffle; partial agg runs map-side.
    NULL-text rows are excluded — md5(NULL)=NULL would group all of them
    into one FALSE 'duplicate' group of distinct, non-equal rows."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(F.md5(text_col).alias("h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .drop("h")
    )


#: skew guards production leaves off (``None`` = exact).  A simhash band
#: bucket larger than ``_SIMHASH_BUCKET_CAP`` emits hub-star edges (see
#: :func:`_capped_pair_frame`); ``_CORPUS_BUCKET_CAP`` bounds the corpus
#: members of one colliding band key in :func:`incremental_dedup`.
_SIMHASH_BUCKET_CAP: int | None = None
_CORPUS_BUCKET_CAP: int | None = None
#: rows of the similarity matrix :func:`semdedup_pairs` computes at a time
_MATMUL_BLOCK = 2048


def _capped_pair_frame(
    bands: DataFrame,
    id_col: str,
    *,
    payload: Sequence[str] = (),
    bucket_cap: int | None = None,
) -> DataFrame:
    """Within-bucket candidate pairs (id_a < id_b), with the verify-stage
    skew guard: buckets holding more than ``bucket_cap`` members emit a
    HUB-STAR (every member paired with the bucket's min id) instead of all
    C(m,2) pairs.  Output may repeat a pair across bands — callers
    ``distinct()`` after attaching their verify columns.

    ``payload``: columns riding the bands frame (e.g. the simhash value or
    the embedding) carried through as ``{c}_a`` / ``{c}_b`` so the caller's
    verify expression runs inline without re-joining the corpus.

    Why a star is the right oversize fallback for DEDUP: the pair set
    feeds connected components + keep-one-per-cluster, which needs the
    near-identical mega-cluster (templated boilerplate pages — the one
    real 100-TB skew case) to be CONNECTED, not complete.  m−1 hub edges
    connect it at O(m) cost where the full self-join is O(m²) — 10k
    near-identical docs in one bucket is 50M candidate pairs without the
    cap, 9,999 with it.  The hub is the bucket's min id, so the emitted
    edge set (and the downstream keeper choice) stays deterministic.
    Recall caveat (documented contract): a member whose verify similarity
    to the HUB falls below threshold loses only its intra-bucket edges —
    every band it shares with a true near-dup in a small-enough bucket
    still yields the pair.  Use :func:`band_bucket_stats` to surface the
    suppressed-pair count — capping is never silent.

    Shape (round 12, optimization): ONE groupBy on (band, key) collecting
    the bucket members, then in-bucket pair generation from the sorted
    member array.  The previous shape — a bands-self-join (plus, when
    capped, a third sizes pass joined back) — duplicated the ENTIRE
    upstream signature pipeline into both join branches whenever the
    planner broadcast one side (BroadcastExchange is never reused against
    a shuffle exchange), so minhash/simhash/dhash signatures were computed
    2-3x per run (measured in the dedup_ngram_jaccard plan: two full
    scan→shingle→explode→8x-min subtrees).  The groupBy evaluates the
    banding lineage exactly once and needs ONE exchange instead of 2-3.
    Memory bound is unchanged: the sort-merge self-join already buffered
    each bucket's matching rows per key; ``collect_list`` holds the same
    bucket, and pair generation is TWO chained explodes (left member,
    then its partner slice) so no value ever materializes the C(m,2)
    pair set at once — peak per-row state stays O(bucket), same as the
    old join's per-key buffer.  Members sort ascending by id (struct
    comparison is field-order lexicographic and the id field leads;
    (band, key, id) is unique), so position(a) < position(b)  ⇔
    id_a < id_b, and the capped hub is member[0] — the bucket's min id,
    exactly the old ``min``/``min_by`` hub (the star keeps only the
    i == 0 left member, whose partner slice is every other member)."""
    member = F.struct(
        F.col(id_col).alias("_id"), *[F.col(p).alias(p) for p in payload]
    )
    # NULL band keys never pair: the old self-join's equi-condition dropped
    # them implicitly, but groupBy treats NULLs as equal — without this
    # guard a future caller with nullable keys would pair every NULL-key
    # row with every other (round-12 advice; current callers never emit
    # NULL keys, so this filter is a no-op for them).
    grouped = (
        bands.filter(F.col("band").isNotNull() & F.col("key").isNotNull())
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(member)).alias("ms"))
    )
    lefts = grouped.select("ms", F.posexplode("ms").alias("i", "a"))
    if bucket_cap is not None:
        lefts = lefts.filter(
            (F.size("ms") <= F.lit(int(bucket_cap))) | (F.col("i") == 0)
        )
    pairs = lefts.select(
        F.col("a"), F.explode(F.expr("slice(ms, i + 2, size(ms))")).alias("b")
    )
    return pairs.select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        *[F.col(f"a.{p}").alias(f"{p}_a") for p in payload],
        *[F.col(f"b.{p}").alias(f"{p}_b") for p in payload],
    )


def band_bucket_stats(bands: DataFrame, bucket_cap: int) -> DataFrame:
    """Skew report for a banded frame: the oversized (band, key) buckets a
    ``bucket_cap`` would star, with the candidate-pair counts the cap
    suppresses — ``members``, ``full_pairs`` (= C(m,2)), ``emitted_pairs``
    (= m−1), ``suppressed_pairs``.  Run this alongside any capped dedup at
    a new corpus/parameterization: capping must be a MEASURED decision,
    never a silent one."""
    m = F.col("members")
    return (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("members"))
        .filter(m > bucket_cap)
        .select(
            "band",
            "key",
            "members",
            (m * (m - 1) / 2).cast("long").alias("full_pairs"),
            (m - 1).cast("long").alias("emitted_pairs"),
            (m * (m - 1) / 2 - (m - 1)).cast("long").alias("suppressed_pairs"),
        )
    )


def _banded_candidates(
    bands: DataFrame, id_col: str, *, bucket_cap: int | None = None
) -> DataFrame:
    """Self-join band buckets → distinct candidate id pairs (a < b).
    ``bucket_cap``: see :func:`_capped_pair_frame`."""
    return _capped_pair_frame(bands, id_col, bucket_cap=bucket_cap).distinct()


def _shingled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """(id, [blocks...], sh): hashed shingles — tokens md5'd once, n-grams
    derived by integer folds; no shingle strings materialized, no crypto
    hash per shingle."""
    return df.select(
        id_col, *block_cols, hashed_shingles(text_col, shingle_n).alias("sh")
    )


def _minhash_bands(
    d0: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Shingled rows → exploded LSH band keys (id, band, key).

    ``block_cols`` values are folded INTO the band key, so metadata
    blocking (e.g. (lang, source)) composes with LSH instead of replacing
    it: candidates must share the block AND a minhash band.  Blocking
    alone is quadratic within each block at 100 TB; folded into the band
    key it only *sharpens* bucket granularity.

    Signature via explode + groupBy-min rather than nested array lambdas:
    generator input is evaluated once per row and aggregate expressions
    CSE normally, whereas HOF lambda bodies re-evaluate captured
    expressions per element (no cross-lambda CSE — measured 2-4× slower).
    Partial (map-side) min aggregation keeps the shuffle at one row per
    (doc, partition), so this is also the shape that scales.
    """
    if bands < 1 or num_hashes % bands:
        # bands > num_hashes would give rows_per_band = 0: EVERY band key
        # degenerates to the empty string and the band join becomes one
        # full O(n²) corpus self-join; a non-divisor would silently
        # ignore the trailing hashes (recall differs from the request)
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})"
        )
    rows_per_band = num_hashes // bands
    from modal_vector_db_spark.functions.hashing import minhash_perm

    ex = d0.select(id_col, *block_cols, F.explode("sh").alias("h"))
    mins = ex.groupBy(id_col, *block_cols).agg(
        *[
            F.min(minhash_perm(F.col("h"), i)).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.concat_ws(
                    "_",
                    *[F.col(c).cast("string") for c in block_cols],
                    *[
                        F.col(f"m{i * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )
    return mins.select(id_col, F.explode(band_keys).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.4,
    block_cols: Sequence[str] = (),
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding → exact-Jaccard-verified near-dup pairs
    (id_a, id_b, jaccard).  ``num_hashes`` must equal ``bands × rows_per_band``.

    ``block_cols``: metadata columns folded into the band key (candidates
    must match on them as well as on a band) — composes blocking with LSH
    without a quadratic within-block self-join.

    ``bucket_cap``: verify-stage skew guard — buckets larger than this emit
    a hub-star (O(m) edges) instead of all C(m,2) pairs, bounding the one
    quadratic stage against near-identical boilerplate mega-clusters that
    exact pre-collapse can't remove (see :func:`_capped_pair_frame`; report
    what a cap suppresses with :func:`band_bucket_stats`).  ``None`` (the
    default) keeps the exact all-pairs contract.  Measured guidance
    (``tools/hubstar_recall.py``, BASELINE.md round 7): **64** is the
    production default — on a graded-similarity planted cluster it emits
    pairs identical to uncapped while keeping the mega-bucket blowup flat;
    lower caps lose pair-level recall on graded buckets (0.565 @16,
    0.139 @8 vs uncapped) though CONNECTED COMPONENTS — what
    keep-one-per-cluster dedup consumes — stayed intact at every cap
    tested (spokes reconnect through other bands)."""
    d0 = _shingled(df, id_col, text_col, shingle_n, block_cols)
    banded = _minhash_bands(d0, id_col, num_hashes, bands, block_cols)
    cand = _banded_candidates(banded, id_col, bucket_cap=bucket_cap)
    da = d0.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sha"))
    db = d0.select(F.col(id_col).alias("id_b"), F.col("sh").alias("shb"))
    jacc = _jaccard("sha", "shb")
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("jaccard", jacc)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 60,
    band_bits: int = 15,
    hamming_threshold: int = 6,
) -> DataFrame:
    """SimHash + hamming banding → verified near-dup pairs
    (id_a, id_b, hamming).  Pairs within hamming ≤ bands−1 are guaranteed
    candidates (pigeonhole: some band identical).

    ``_SIMHASH_BUCKET_CAP``: see :func:`minhash_lsh_pairs` — the simhash
    value rides the bands frame, so starred pairs verify hamming inline
    against the hub's signature with no corpus re-join."""
    d = df.select(id_col, simhash64(tokens(text_col), bits).alias("sim"))
    return signature_hamming_pairs(
        d, id_col, "sim", bits=bits, band_bits=band_bits,
        hamming_threshold=hamming_threshold, bucket_cap=_SIMHASH_BUCKET_CAP,
    )


def signature_hamming_pairs(
    d: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    bits: int = 64,
    band_bits: int = 16,
    hamming_threshold: int = 6,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Banded hamming near-dup pairs over ANY precomputed integer
    signature column — the engine behind :func:`simhash_pairs` (text) and
    the perceptual image-dHash family
    (``operators/multimodal.py:extract_image_dhash``).  ``d`` is an
    (id, signature) frame; candidates share one of ``bits/band_bits``
    bit-slices (pigeonhole: hamming ≤ bands−1 ⇒ guaranteed candidate),
    the verify is a codegen ``bit_count(xor)`` — one O(rows×bands)
    shuffle, no all-pairs anywhere.  NULL signatures (undecodable blobs)
    are dropped, not paired."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    d = d.filter(F.col(sig_col).isNotNull()).select(
        id_col, F.col(sig_col).alias("sim")
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("sim", bits - band_bits * (i + 1))
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    banded = d.select(id_col, "sim", F.explode(band_keys).alias("bk")).select(
        id_col, "sim", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    # filter BEFORE distinct: hamming is deterministic per (sim_a, sim_b),
    # so the dedup shuffle carries only surviving pairs, not every band
    # collision the threshold will discard (review finding)
    return (
        _capped_pair_frame(banded, id_col, payload=("sim",), bucket_cap=bucket_cap)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= hamming_threshold)
        .distinct()
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.4,
) -> DataFrame:
    """Admit only NEW content from ``batch`` given an already-deduplicated
    ``corpus`` — the steady-state shape of a training-data pipeline (each
    crawl increment is checked against 100 TB of accepted corpus, not
    re-clustered with it).  Returns the surviving batch rows.

    ``_CORPUS_BUCKET_CAP``: skew guard for the cross-corpus band join —
    only corpus rows in COLLIDING buckets participate, and buckets larger
    than the cap contribute their ``cap`` min-id members (a boilerplate
    mega-cluster in the accepted corpus sharing a band key with one batch
    doc would otherwise emit one candidate per member).  Capped buckets
    can under-reject a batch doc whose only near-dup sits past the cap —
    the same bounded-recall trade as ``bucket_cap`` in the pair paths;
    an already-DEDUPLICATED corpus (this operator's contract) keeps such
    buckets rare.  ``None`` = uncapped.

    Three rejection passes, cheapest first:

    1. exact within batch: content-hash groupBy keeps the min id;
    2. exact vs corpus: left-anti join on the content hash — the corpus
       side is a column-pruned scan of ONE derived column;
    3. near-dup vs corpus ∪ within batch: MinHash band keys for the batch
       join the corpus's band keys (shuffle O(rows × bands), batch side is
       tiny and broadcastable), candidates verified by exact Jaccard ≥
       ``threshold``; batch-internal near-dup pairs keep the min id.

    At 100 TB the corpus band keys / content hashes are precomputed once
    and stored (they are pure per-row expressions, appended with each
    admitted batch); here they are derived inline from ``corpus``.

    Lineage discipline: the surviving batch is ``localCheckpoint``-ed after
    the exact passes and again after the cross-corpus near-dup pass.  The
    batch frame is reused by 5+ downstream joins (shingling, band join,
    verify, within-batch pairs, final anti-join); without truncation each
    reuse re-analyzes and re-executes the whole upstream chain — measured
    ~30× slower at sf0.01.  The batch is small by the operator's contract
    (an increment, not the corpus), so materializing it is cheap.
    """
    h = F.md5(text_col).alias("_h")

    # NULL-text rows are duplicates of NOTHING: set them aside up front
    # and re-attach as survivors (md5(NULL)=NULL would otherwise fall out
    # of the non-null-safe _h equi-join below — silent data loss)
    b_all = batch.withColumn("_h", F.md5(text_col))
    null_rows = b_all.filter(F.col("_h").isNull()).drop("_h")

    # 1 + 2: exact, within batch then vs corpus
    b = b_all.filter(F.col("_h").isNotNull())
    w_min = b.groupBy("_h").agg(F.min(id_col).alias("_keep"))
    b = b.join(w_min, "_h").filter(F.col(id_col) == F.col("_keep")).drop("_keep")
    b = b.join(corpus.select(h), "_h", "left_anti").drop("_h")
    b = b.localCheckpoint(eager=True)

    # 3: near-dup — corpus bands ⋈ batch bands, then within-batch pairs
    c_sh = _shingled(corpus, id_col, text_col, shingle_n)
    b_sh = _shingled(b, id_col, text_col, shingle_n)
    c_bands = _minhash_bands(c_sh, id_col, num_hashes, bands)
    b_bands = _minhash_bands(b_sh, id_col, num_hashes, bands)
    if _CORPUS_BUCKET_CAP is not None:
        from pyspark.sql import Window

        # rank only within COLLIDING buckets (semi-join first, so the
        # window never shuffles the full corpus band table)
        hot = b_bands.select("band", "key").distinct()
        c_hit = c_bands.join(F.broadcast(hot), ["band", "key"], "left_semi")
        w = Window.partitionBy("band", "key").orderBy(F.col(id_col))
        c_bands = (
            c_hit.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= int(_CORPUS_BUCKET_CAP))
            .drop("_rn")
        )
    cross = (
        c_bands.alias("c")
        .join(
            F.broadcast(b_bands.alias("b")),
            (F.col("c.band") == F.col("b.band")) & (F.col("c.key") == F.col("b.key")),
        )
        .select(
            F.col(f"c.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    jacc = _jaccard("sha", "shb")
    cross_dups = (
        cross.join(c_sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sha")), "id_a")
        .join(b_sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("shb")), "id_b")
        .filter(jacc >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    b = b.join(cross_dups, id_col, "left_anti").localCheckpoint(eager=True)
    within = minhash_lsh_pairs(
        b,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
    )
    return deduplicate(b, within, id_col).unionByName(null_rows)


def deduplicate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Apply near-dup PAIRS to the corpus: cluster by connected components
    and keep ONE row per cluster (the min id — deterministic).  Rows in no
    pair survive untouched.  This is the actual "drop the duplicates" step
    a training-data pipeline runs after any pair detector above."""
    from modal_vector_db_spark.operators.graph import connected_components

    comp = connected_components(pairs, src="id_a", dst="id_b")
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 8,
    min_hits: int = 3,
) -> DataFrame:
    """Benchmark decontamination check: which training docs share ≥
    ``min_hits`` distinct ``shingle_n``-gram token shingles with ANY
    benchmark/eval document.  Returns (id, n_hits) for contaminated docs.

    Long shingles (8-grams by convention) make incidental overlap rare, so
    a hit means verbatim leakage, not shared phrasing.

    Scale shape: the benchmark shingle set is small (eval suites are MBs
    against a 100 TB corpus) — distinct-ed and **broadcast**; the train
    side is one scan + explode, the join discards all non-matching
    shingles map-side, and only the (rare) hits shuffle for the per-doc
    distinct count.  The corpus is never shuffled.
    """
    bsh = benchmark.select(
        F.explode(hashed_shingles(text_col, shingle_n)).alias("_h")
    ).distinct()
    tsh = train.select(id_col, F.explode(hashed_shingles(text_col, shingle_n)).alias("_h"))
    return (
        tsh.join(F.broadcast(bsh), "_h")
        .groupBy(id_col)
        .agg(F.count_distinct("_h").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )


def contaminated_spans(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 8,
) -> DataFrame:
    """SPAN-level decontamination report: per contaminated training doc, the
    number of merged contaminated token intervals and the total tokens they
    cover → (id, n_spans, covered_tokens).

    Doc-level dropping (:func:`contamination_report`) wastes clean text
    when only a quote leaked; real pipelines CUT the contaminated spans.
    Each benchmark-matching shingle at token position p covers
    [p, p+n−1]; overlapping/adjacent covers merge (gaps-and-islands over a
    running max of interval ends).

    Scale shape: same as :func:`contamination_report` — benchmark shingles
    distinct+broadcast, corpus one scan + posexplode, non-matching
    positions discarded map-side; ONLY the rare hit positions shuffle into
    the per-doc window (partitioned by doc id, each partition a handful of
    rows).  The corpus never shuffles."""
    from modal_vector_db_spark.functions.text import hashed_shingles_positional

    bsh = benchmark.select(
        F.explode(hashed_shingles(text_col, shingle_n)).alias("_h")
    ).distinct()
    tpos = train.select(
        F.col(id_col),
        F.posexplode(hashed_shingles_positional(text_col, shingle_n)).alias("pos", "_h"),
    )
    hits = tpos.join(F.broadcast(bsh), "_h").select(id_col, "pos")
    return _merged_span_islands(hits, id_col, shingle_n).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("covered").cast("long").alias("covered_tokens"),
    )


def _merged_span_islands(hits: DataFrame, id_col: str, shingle_n: int) -> DataFrame:
    """Gaps-and-islands interval merge shared by the span-level operators:
    each hit shingle at token position p covers [p, p+n−1];
    overlapping/adjacent covers merge via a running max of interval ends →
    (id, island, covered).  Runs over hit positions only — the window
    partitions by doc id, a handful of rows each."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (shingle_n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "new_span",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("start"),
        (F.max("pos") + (shingle_n - 1) - F.min("pos") + 1).alias("covered"),
    )


def duplicated_spans(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 8,
    min_covered: int | None = None,
) -> DataFrame:
    """INTRA-corpus exact substring duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    operator, arXiv:2107.06499): token spans that appear verbatim in ≥ 2
    places anywhere in the corpus — across documents or repeated inside
    one — merged per doc → (id, n_dup_spans, dup_tokens).  The reference
    engine has no analog; this is the span-level complement to the
    doc-level MinHash/SimHash families above.

    A shingle position is duplicated when its n-gram hash occurs ≥ 2 times
    corpus-wide; maximal runs of duplicated positions merge with the same
    gaps-and-islands pass the decontamination operator uses, and
    ``min_covered`` (Lee et al. use 50 tokens) drops incidental short
    repeats (common phrases) so only substantive verbatim spans count.

    Scale shape: corpus self-similarity needs a GLOBAL grouping on shingle
    hash — the distributed analog of the paper's suffix-array global sort;
    no broadcast exists on either side.  The plan is two shuffles of the
    shingle stream, both safe at any frequency skew: (1) a count-only
    partial aggregate per hash (map-side combine collapses repeats early;
    nothing is ever collected into a list, so a degenerate stop-phrase
    shingle cannot OOM an executor), (2) a hash join of positions against
    the duplicated-hash set (sort-merge under AQE skew handling).  The
    window then runs over DUPLICATED positions only."""
    from modal_vector_db_spark.functions.text import hashed_shingles_positional

    tpos = corpus.select(
        F.col(id_col),
        F.posexplode(hashed_shingles_positional(text_col, shingle_n)).alias("pos", "_h"),
    )
    dup_h = (
        tpos.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h")
    )
    hits = tpos.join(dup_h, "_h").select(id_col, "pos")
    per_island = _merged_span_islands(hits, id_col, shingle_n)
    if min_covered is not None:
        per_island = per_island.filter(F.col("covered") >= min_covered)
    return per_island.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum("covered").cast("long").alias("dup_tokens"),
    )


def cut_spans(
    docs: DataFrame, islands: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Remove token intervals from each doc's text: ``islands`` is
    (id, start, covered) — the :func:`_merged_span_islands` shape — and
    every token whose 0-based position falls inside [start, start+covered)
    is dropped; the survivors re-join space-separated.  Output is
    TOKEN-normalized text (lowercased, whitespace-collapsed) — consistent
    with every other token-level operator here; byte-exact cutting would
    need original offsets the shingle pipeline deliberately discards.

    Scale shape: intervals collect per doc (a handful of structs each —
    they are MERGED islands, disjoint by construction), broadcast-join
    against the corpus when small, and the cut itself is one
    higher-order-function pass per row inside codegen — no shuffle of the
    corpus, no Python."""
    from modal_vector_db_spark.functions.text import tokens

    ivs = islands.groupBy(id_col).agg(
        F.collect_list(F.struct("start", "covered")).alias("_ivs")
    )
    joined = docs.join(ivs, id_col, "left")
    toks = tokens(text_col)
    kept = F.when(F.col("_ivs").isNull(), toks).otherwise(
        F.filter(
            toks,
            lambda t, i: ~F.exists(
                F.col("_ivs"),
                lambda iv: (i >= iv["start"]) & (i < iv["start"] + iv["covered"]),
            ),
        )
    )
    return joined.withColumn(text_col, F.array_join(kept, " ")).drop("_ivs")


def remove_duplicated_spans(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 8,
    min_covered: int | None = None,
) -> DataFrame:
    """The REMOVAL side of :func:`duplicated_spans` (Lee et al. 2022
    ExactSubstr-dedup): every duplicated span keeps exactly its FIRST
    occurrence corpus-wide (global (id, pos) order) and every later
    occurrence is cut from the text.  Returns the corpus with ``text_col``
    rewritten (token-normalized, see :func:`cut_spans`); other columns
    pass through.

    Plan: rank shingle occurrences per hash with one window (row_number
    over a single shuffle by hash — no join with a duplicated-hash set
    needed: rank 1 IS the canonical copy, unique hashes never rank > 1),
    merge the rank>1 positions into islands per doc, drop islands under
    ``min_covered``, cut.  The rank window is streaming (sort-spillable),
    so a degenerate stop-phrase shingle costs sort time, not memory."""
    from pyspark.sql.window import Window

    from modal_vector_db_spark.functions.text import hashed_shingles_positional

    tpos = corpus.select(
        F.col(id_col),
        F.posexplode(hashed_shingles_positional(text_col, shingle_n)).alias("pos", "_h"),
    )
    w = Window.partitionBy("_h").orderBy(id_col, "pos")
    cuts = (
        tpos.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(id_col, "pos")
    )
    islands = _merged_span_islands(cuts, id_col, shingle_n)
    if min_covered is not None:
        islands = islands.filter(F.col("covered") >= min_covered)
    return cut_spans(corpus, islands, id_col, text_col)


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Drop training docs flagged by :func:`contamination_report` — the
    standard pre-training hygiene pass against eval-set leakage."""
    rep = contamination_report(train, benchmark, id_col, text_col)
    return train.join(rep.select(id_col), id_col, "left_anti")


def semdedup_pairs(
    df: DataFrame,
    id_col: str,
    *,
    num_clusters: int = 64,
    eps: float = 0.05,
    cluster_cap: int = 20_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-blocked semantic near-dup
    pairs ``(id_a, id_b, cos_sim)`` over the ``embedding`` column, with
    ``cos_sim >= 1 - eps``.  The
    paper's shape exactly: KMeans blocks the corpus so the quadratic
    verify runs WITHIN clusters (~(n/k)² per cluster, embarrassingly
    parallel across them), trading the cross-cluster pair tail — two
    near-dups split by a cluster boundary are missed, the method's
    documented recall caveat (complementary to ``cosine_srp_pairs``,
    whose multi-band LSH has no blocking boundary but pays band
    shuffles).

    100-TB posture:

    - cluster sizes are checked BEFORE any group materializes: small
      clusters (≤ ``cluster_cap``) run a BLOCKED numpy matmul per
      cluster via ``applyInPandas`` — ``_MATMUL_BLOCK`` rows of the
      similarity matrix at a time, so executor peak memory is
      O(block × m) ≈ ``_MATMUL_BLOCK * cluster_cap * 8`` bytes (~330 MB
      at the defaults), never the O(m²) dense matrix a 100k cluster
      would need (~80 GB); OVERSIZED clusters never materialize — they
      route to a hub-star computed JVM-side (broadcast hub vectors +
      codegen cosine), the same skew stance as the LSH ``bucket_cap``
      (O(m) edges, bucket connectivity preserved, sub-threshold-to-hub
      spokes lose edges — measured in BASELINE.md round 7);
    - assignment is the k-literal codegen expression — no Python in the
      assign path.
    """
    from modal_vector_db_spark.functions.distance import cosine_distance
    from modal_vector_db_spark.operators.ann import IVFIndex

    vec_col = "embedding"
    ivf = IVFIndex.build(df, vec_col=vec_col, k=num_clusters, seed=42)
    # NULL embeddings are EXPLICITLY excluded (the signature_hamming_pairs
    # convention): they can't be near anything, and relying on NULL
    # cluster_id falling out of the sizes equi-join would be an accident
    # a null-safe-join refactor could silently break (review finding)
    assigned = ivf.assign(df.filter(F.col(vec_col).isNotNull()), vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        "cluster_id",
    )
    sizes = assigned.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("_m"))
    tagged = assigned.join(F.broadcast(sizes), "cluster_id")
    small = tagged.filter(F.col("_m") <= int(cluster_cap)).drop("_m")
    big = tagged.filter(F.col("_m") > int(cluster_cap)).drop("_m")
    thr = 1.0 - float(eps)

    blk = _MATMUL_BLOCK

    def _pairs(pdf):
        import numpy as _np
        import pandas as _pd

        if len(pdf) < 2:
            return _pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": pdf["_id"].dtype, "id_b": pdf["_id"].dtype,
                 "cos_sim": "float64"}
            )
        order = _np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        X = _np.asarray([list(v) for v in pdf["_v"]], dtype=_np.float64)[order]
        n = _np.linalg.norm(X, axis=1, keepdims=True)
        Xn = X / _np.maximum(n, 1e-12)
        m = len(ids)
        # blocked upper-triangle scan: one (blk × (m−i0)) strip of
        # Xn[i0:i1] @ Xn[i0:].T at a time — peak memory O(blk × m), never
        # the O(m²) matrix.  The right operand starts at i0 because
        # columns < i0 are ALWAYS discarded by the upper-triangle keep —
        # computing them doubled the FLOPs across the scan (review
        # finding); local column j0 maps to global index j0 + i0.
        ia_parts, ib_parts, sim_parts = [], [], []
        for i0 in range(0, m - 1, blk):
            i1 = min(i0 + blk, m)
            strip = Xn[i0:i1] @ Xn[i0:].T
            ii, jj = _np.nonzero(strip >= thr)
            keep = jj > ii  # strictly upper triangle (both local to i0)
            ii, jj = ii[keep], jj[keep]
            ia_parts.append(ii + i0)
            ib_parts.append(jj + i0)
            sim_parts.append(strip[ii, jj])
        iu = _np.concatenate(ia_parts) if ia_parts else _np.array([], dtype=int)
        ju = _np.concatenate(ib_parts) if ib_parts else _np.array([], dtype=int)
        sims = (
            _np.concatenate(sim_parts) if sim_parts else _np.array([], dtype=float)
        )
        return _pd.DataFrame({"id_a": ids[iu], "id_b": ids[ju], "cos_sim": sims})

    id_type = dict(df.dtypes)[id_col]
    small_pairs = small.groupBy("cluster_id").applyInPandas(
        _pairs, f"id_a {id_type}, id_b {id_type}, cos_sim double"
    )
    # hub-star for oversized clusters, JVM-side end to end: hub = min id
    # per cluster (deterministic), sims via the codegen cosine expression
    hubs = big.groupBy("cluster_id").agg(F.min("_id").alias("_hub"))
    hub_vecs = big.join(F.broadcast(hubs), "cluster_id").filter(
        F.col("_id") == F.col("_hub")
    ).select("cluster_id", F.col("_v").alias("_hv"))
    big_pairs = (
        big.join(F.broadcast(hubs), "cluster_id")
        .join(F.broadcast(hub_vecs), "cluster_id")
        .filter(F.col("_id") != F.col("_hub"))
        .withColumn("cos_sim", 1.0 - cosine_distance(F.col("_v"), F.col("_hv")))
        .filter(F.col("cos_sim") >= F.lit(thr))
        .select(
            F.least("_hub", "_id").alias("id_a"),
            F.greatest("_hub", "_id").alias("id_b"),
            "cos_sim",
        )
    )
    return small_pairs.unionByName(big_pairs)


def semdedup_keep(
    df: DataFrame,
    id_col: str,
    *,
    num_clusters: int,
    eps: float,
    cluster_cap: int,
) -> DataFrame:
    """Keep-one-per-semantic-cluster: rows of ``df`` minus every pair's
    higher id (the paper keeps one representative per ε-ball; min-id is
    the deterministic choice).  Composes :func:`semdedup_pairs` with the
    standard drop-the-max side."""
    pairs = semdedup_pairs(
        df, id_col, num_clusters=num_clusters, eps=eps, cluster_cap=cluster_cap
    )
    doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(doomed, id_col, "left_anti")
