"""Semantic unit tests for the dedup suite (the oracle-parity test covers
cross-engine equality; these check the operators find the PLANTED structure)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import modal_vector_db_spark.queries.dedup_queries as D
from tests.conftest import SF_DIR


def test_exact_dedup_finds_planted_copies(spark):
    out = D.dedup_exact(spark, SF_DIR).toPandas()
    grp = out[out["kind"] == "grp"]
    # every group is exactly {original, +100000 copy}
    assert len(grp) and (grp["n_copies"] == 2).all()
    assert (grp["keep_id"] % 10 == 0).all()
    # bloom-admission arm: only the ' bb5'-suffixed batch half survives
    # (the verbatim half exists in the corpus and must be anti-joined out)
    bl = out[out["kind"] == "bloom"]
    assert len(bl) and (bl["keep_id"] >= 900000).all()
    # url arm: every planted variant pair collapsed (groups of >= 2) and
    # keepers are the LOWER ids (variants live at +950000)
    u = out[out["kind"] == "url"]
    assert len(u) and (u["n_copies"] >= 2).all()
    assert (u["keep_id"] < 950000).all()


def test_minhash_finds_planted_near_dups(spark):
    out = D.dedup_minhash_lsh(spark, SF_DIR).toPandas()
    planted = out[(out["doc_b"] - out["doc_a"]) == 200000]
    n_planted_inputs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter((F.col("doc_id") % 10 == 5))
        .count()
    )
    # near-identical docs share almost all shingles → recall should be high
    assert len(planted) >= 0.8 * n_planted_inputs
    assert (planted["jaccard"] >= 0.4).all()
    # exact copies (shift 100000) share ALL shingles → jaccard 1.0
    exact = out[(out["doc_b"] - out["doc_a"]) == 100000]
    assert (exact["jaccard"] == 1.0).all()


def test_simhash_pairs_within_hamming(spark):
    out = D.dedup_simhash(spark, SF_DIR).toPandas()
    assert (out["hamming"] <= 6).all()
    exact = out[(out["doc_b"] - out["doc_a"]) == 100000]
    assert (exact["hamming"] == 0).all()
    assert len(exact) > 0


def test_embedding_cosine_finds_planted_copies(spark):
    out = D.dedup_embedding_cosine(spark, SF_DIR).toPandas()
    assert len(out) > 0
    planted = out[(out["vec_b"] - out["vec_a"]) == 100000]
    assert (planted["cos_sim"] >= 0.999999).all()
    # with random fixtures the ONLY ≥0.95 pairs are the planted ones
    assert len(planted) == len(out)


@pytest.mark.slow
def test_connected_components_long_chain(spark, monkeypatch):
    """A 20-hop path graph: worst-case diameter for label propagation.
    Converges to a single component with bounded plan depth (each round is
    localCheckpoint-ed, so round i's plan does NOT replay rounds 0..i-1 —
    without that this test crawls at O(i²) and the planner blows up)."""
    from modal_vector_db_spark.operators import graph
    from modal_vector_db_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "_MAX_ITER", 25)
    edges = spark.createDataFrame([(i, i + 1) for i in range(20)], "src long, dst long")
    out = connected_components(edges).toPandas()
    assert len(out) == 21
    assert (out["component"] == 0).all()
    # plan depth stays bounded: the final frame reads a checkpoint, not a
    # 20-round join chain
    df = connected_components(edges)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 2, f"unbounded lineage: {plan[:2000]}"


def test_connected_components_disjoint(spark):
    from modal_vector_db_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    out = connected_components(edges).toPandas().set_index("node")["component"].to_dict()
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == 10
    assert out[20] == out[21] == out[22] == 20


def test_dedup_components_leak_arm_is_zero(spark):
    """The driver arm only proves both engines AGREE on the leak count —
    this pins that the count is actually 0 on the fixture corpus."""
    out = D.dedup_components(spark, SF_DIR).toPandas()
    leak = out[out["tag"] == "leak"]
    assert len(leak) == 1 and (leak["val"] == 0).all()
    sides = out[out["tag"] == "side"]["val"]
    assert 0 < sides.sum() < len(sides)  # both sides populated


def test_leakage_safe_split_never_straddles(spark):
    """Every near-dup edge's endpoints land on the SAME side; singletons
    split independently; the assignment is deterministic."""
    from modal_vector_db_spark.operators.graph import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 100) for i in range(60)] + [(0, 1), (1, 2)],
        "src long, dst long",
    )
    out = leakage_safe_split(docs, edges, "doc_id", val_pct=30).toPandas()
    assert len(out) == 200
    side = out.set_index("doc_id")["side"].to_dict()
    for s, d in [(i, i + 100) for i in range(60)] + [(0, 1), (1, 2)]:
        assert side[s] == side[d], (s, d)
    # both sides populated (val_pct=30 over ~140 components)
    assert 0 < sum(side.values()) < 200
    # deterministic: a second run assigns identically
    again = leakage_safe_split(docs, edges, "doc_id", val_pct=30).toPandas()
    assert again.set_index("doc_id")["side"].to_dict() == side


def test_leakage_split_fraction_survives_signed_hash_swap(spark, monkeypatch):
    """The split decision must use pmod, not %: Spark's % keeps the
    dividend's sign, so under the documented HASH_IMPL='xxhash64'
    production swap (signed values) a `hash % 100 < val_pct` predicate
    admits EVERY negative hash to validation, inflating a 20% split to
    ~60%.  Pin the fraction under the signed implementation."""
    from modal_vector_db_spark.functions import hashing
    from modal_vector_db_spark.operators.graph import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    edges = spark.createDataFrame([], "src long, dst long")
    monkeypatch.setattr(hashing, "HASH_IMPL", "xxhash64")
    out = leakage_safe_split(docs, edges, "doc_id", val_pct=20).toPandas()
    frac = out["side"].mean()
    # 2000 singleton components: binomial(2000, .2) — ±5 pp is >6 sigma
    assert 0.15 < frac < 0.25, frac


def test_deduplicate_end_to_end(spark):
    """Pairs → clusters → keep-one: the corpus shrinks by exactly the number
    of planted copies, and the kept ids are the cluster minima."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.harness import load
    from modal_vector_db_spark.operators.dedup import deduplicate, minhash_lsh_pairs
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    plant = docs.filter(F.col("doc_id") % 10 == 0)
    aug = docs.union(plant.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    pairs = minhash_lsh_pairs(aug, "doc_id", "text", threshold=0.9)
    kept = deduplicate(aug, pairs, "doc_id")
    n_docs = docs.count()
    # every planted exact copy (jaccard 1.0 -> always banded together) drops;
    # the synthetic corpus also contains some NATURAL >=0.9 near-dups, so the
    # kept count can dip slightly below the original corpus size
    n_kept = kept.count()
    assert n_kept <= n_docs
    assert n_kept >= n_docs * 0.9
    # originals (cluster min ids) survive, planted copies die
    assert kept.filter(F.col("doc_id") >= 100000).count() == 0
    # exactly one survivor per component: kept ids joined to the pair list
    # must never appear on both sides of a surviving pair
    both = (
        pairs.join(kept.select(F.col("doc_id").alias("id_a")), "id_a")
        .join(kept.select(F.col("doc_id").alias("id_b")), "id_b")
    )
    assert both.count() == 0


def test_incremental_dedup_admits_only_novel(spark):
    """Batch = [exact corpus copy, near-dup of corpus doc, novel doc,
    within-batch duplicate pair]: only the novel doc and one of the
    within-batch pair survive."""
    from modal_vector_db_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different corpus text about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    near = (
        "the quick brown fox jumps over the lazy dog again and again ok"
    )  # one-token suffix → near-dup of doc 1
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog again and again"),  # exact
            (11, near),  # near-dup vs corpus
            (12, "entirely novel sentence with its own unique tokens one two three four"),
            (13, "another novel batch document repeated verbatim in this batch yes yes"),
            (14, "another novel batch document repeated verbatim in this batch yes yes"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(corpus, batch, "doc_id", "text", threshold=0.4)
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [12, 13], got


def test_decontaminate_drops_leaked_docs(spark):
    """Train doc 1 embeds a benchmark question verbatim; doc 2 shares only
    topic words (below the 8-gram bar); doc 3 is clean."""
    from modal_vector_db_spark.operators.dedup import (
        contamination_report,
        decontaminate,
    )

    q = "what is the capital of france and when was it founded exactly"
    train = spark.createDataFrame(
        [
            (1, "intro text " + q + " outro text follows here"),
            (2, "france capital cities founded long ago in history books"),
            (3, "a completely unrelated training document about spark joins"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(q,)], "text string")

    rep = contamination_report(train, bench, "doc_id", "text", shingle_n=8, min_hits=3)
    assert [r["doc_id"] for r in rep.collect()] == [1]
    kept = sorted(r["doc_id"] for r in decontaminate(train, bench, "doc_id", "text").collect())
    assert kept == [2, 3]


def test_ngram_band_keys_are_not_low_cardinality(spark):
    """Round-2 verdict regression guard: the n-gram Jaccard candidate join
    must bucket on (block × minhash band) keys, whose cardinality scales
    with content — NOT on the raw (lang, source) block (dozens of values ⇒
    quadratic within blocks at 100×)."""
    from pyspark.sql import functions as F

    from modal_vector_db_spark.functions.text import hashed_shingles
    from modal_vector_db_spark.operators.dedup import _minhash_bands
    from modal_vector_db_spark.harness import load
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "source", hashed_shingles("text", 1).alias("sh")
    )
    bands = _minhash_bands(docs, "doc_id", 8, 4, block_cols=("lang", "source"))
    n_rows = bands.count()
    n_buckets = bands.select("band", "key").distinct().count()
    n_blocks = docs.select("lang", "source").distinct().count() * 4  # × bands
    # content-derived keys must outnumber the metadata blocks alone, and the
    # mean bucket must stay small (pairwise work is quadratic IN THE BUCKET)
    assert n_buckets > n_blocks, (n_buckets, n_blocks)
    assert n_rows / n_buckets <= 5, (n_rows, n_buckets)


def test_contaminated_spans_merges_intervals(spark):
    """Hand-built contamination: doc tokens = benchmark phrase planted at
    two positions — near-adjacent plants merge into ONE span; a distant
    plant stays separate.  Covered length checked exactly."""
    from modal_vector_db_spark.operators.dedup import contaminated_spans

    phrase = "alpha beta gamma"  # 3 tokens → with n=3, one shingle per plant
    filler = ["f%d" % i for i in range(40)]
    toks = list(filler)
    # back-to-back plants: covers [5,7] and [8,10] are adjacent → ONE span
    toks[5:8] = phrase.split()
    toks[8:11] = phrase.split()
    # distant plant at 30 → separate span [30,32]
    toks[30:33] = phrase.split()
    train = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    bench = spark.createDataFrame([(phrase,)], "text string")
    out = contaminated_spans(train, bench, "doc_id", "text", shingle_n=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_spans"] == 2
    # merged span [5, 10] covers 6 tokens; distant span [30, 32] covers 3
    assert r["covered_tokens"] == 6 + 3

    clean = spark.createDataFrame([(2, " ".join(filler))], "doc_id long, text string")
    assert contaminated_spans(clean, bench, "doc_id", "text", shingle_n=3).count() == 0


def test_duplicated_spans_finds_verbatim_repeats(spark):
    """Intra-corpus exact substring dedup (Lee et al. ExactSubstr): a span
    repeated ACROSS docs is flagged in both; a span repeated WITHIN one doc
    is flagged too; unique text is not; min_covered drops short islands."""
    from modal_vector_db_spark.operators.dedup import duplicated_spans

    shared = ["s%d" % i for i in range(10)]  # 10-token verbatim block
    uniq = lambda tag, n: ["%s%d" % (tag, i) for i in range(n)]  # noqa: E731
    rows = [
        (1, " ".join(uniq("a", 12) + shared + uniq("b", 12))),  # cross-doc copy 1
        (2, " ".join(uniq("c", 5) + shared + uniq("d", 20))),  # cross-doc copy 2
        (3, " ".join(uniq("e", 8) + uniq("e", 8))),  # self-repeat (e0..e7 twice)
        (4, " ".join(uniq("z", 30))),  # fully unique
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in duplicated_spans(corpus, "doc_id", "text", shingle_n=3).collect()
    }
    assert 4 not in out  # unique text never flags
    # docs 1 and 2 each carry exactly the 10-token shared block
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_tokens"] == 10
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_tokens"] == 10
    # doc 3 repeats its own 8-token block back-to-back: every 3-shingle of
    # "e0..e7 e0..e7" that also occurs elsewhere in the doc flags; the two
    # plants plus the seam merge into one island spanning all 16 tokens
    assert out[3]["n_dup_spans"] == 1 and out[3]["dup_tokens"] == 16

    # the threshold drops islands below min_covered
    thresholded = {
        r["doc_id"]: r
        for r in duplicated_spans(
            corpus, "doc_id", "text", shingle_n=3, min_covered=12
        ).collect()
    }
    assert set(thresholded) == {3}  # only the 16-token island survives


def test_remove_duplicated_spans_keeps_first_occurrence(spark):
    """ExactSubstr REMOVAL: the globally-first occurrence of each
    duplicated span survives; later occurrences are cut; unique text and
    non-duplicated docs pass through token-normalized."""
    from modal_vector_db_spark.operators.dedup import remove_duplicated_spans

    shared = ["s%d" % i for i in range(10)]
    uniq = lambda tag, n: ["%s%d" % (tag, i) for i in range(n)]  # noqa: E731
    rows = [
        (1, " ".join(uniq("a", 6) + shared + uniq("b", 6))),
        (2, " ".join(uniq("c", 6) + shared + uniq("d", 6))),
        (3, " ".join(uniq("z", 12))),
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(corpus, "doc_id", "text", shingle_n=3).collect()
    }
    # doc 1 holds the first occurrence (min doc_id): untouched
    assert out[1] == rows[0][1]
    # doc 2 lost exactly the shared block
    assert out[2] == " ".join(uniq("c", 6) + uniq("d", 6))
    # unique doc untouched
    assert out[3] == rows[2][1]

    # idempotence on this corpus: a second pass finds nothing left to cut
    cleaned = spark.createDataFrame(
        [(k, v) for k, v in out.items()], "doc_id long, text string"
    )
    out2 = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(cleaned, "doc_id", "text", shingle_n=3).collect()
    }
    assert out2 == out


# ---------------------------------------------------------------------------
# Property tests: LSH invariants on randomized corpora (planted tests above
# pin specific structures; these pin the CONTRACT).
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()


@st.composite
def _corpus(draw):
    """15-25 random short docs over a 10-word vocabulary (forces shingle
    collisions), plus an exact-duplicate pair planted at high ids."""
    n = draw(st.integers(15, 25))
    docs = [
        (i, " ".join(draw(st.lists(st.sampled_from(_WORDS), min_size=4, max_size=12))))
        for i in range(n)
    ]
    dup_src = draw(st.integers(0, n - 1))
    docs.append((1000, docs[dup_src][1]))
    docs.append((1001, docs[dup_src][1]))
    return docs


def _true_jaccard(a: str, b: str, n: int = 2):
    def sh(s):
        t = s.split()
        return {tuple(t[i : i + n]) for i in range(max(len(t) - n + 1, 1))}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(_corpus())
def test_minhash_pairs_precision_and_exact_recall(spark, docs):
    """Two contract properties on random corpora:

    - PRECISION 1.0: every emitted pair's true shingle Jaccard >= threshold
      (the verify join is exact, so banding can never cause a false emit);
    - EXACT-DUP RECALL 1.0: identical docs share every band, so the planted
      identical pair (1000, 1001) must always be emitted with jaccard 1.0.
    """
    from modal_vector_db_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=8, bands=4, shingle_n=2, threshold=0.5
    ).collect()
    text_by_id = dict(docs)
    emitted = set()
    for r in pairs:
        emitted.add((r["id_a"], r["id_b"]))
        tj = _true_jaccard(text_by_id[r["id_a"]], text_by_id[r["id_b"]])
        assert tj >= 0.5 - 1e-9, (r, tj)
        assert abs(r["jaccard"] - tj) < 1e-6
    assert (1000, 1001) in emitted


# ---------------------------------------------------------------------------
# LSH bucket-cap skew guard (round-6 verdict item #1): near-identical
# boilerplate mega-clusters land in ONE (band, key) bucket, where the full
# self-join emits C(m, 2) candidate pairs — 10k templated docs = 50M pairs
# in a single task.  The cap stars oversized buckets (hub = min id, m-1
# edges), keeping the verify stage linear while components stay connected.
# ---------------------------------------------------------------------------
def _templated_docs(spark, n):
    """n near-identical docs: a fixed 40-token boilerplate template plus one
    unique trailing token — the real-world shape (templated pages) that
    exact pre-collapse can NOT remove and that shares most minhash bands."""
    template = " ".join(f"boiler{i}" for i in range(40))
    return spark.createDataFrame(
        [(i, f"{template} unique{i}") for i in range(n)], "doc_id long, text string"
    )


@pytest.mark.slow
def test_bucket_cap_bounds_mega_bucket_pairs(spark):
    from modal_vector_db_spark.operators.dedup import deduplicate, minhash_lsh_pairs

    n = 10_000
    docs = _templated_docs(spark, n).repartition(32)
    capped = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.4, bucket_cap=64
    )
    n_pairs = capped.count()
    # bounded: at most (bands × (m-1)) star edges + small-bucket pairs —
    # nowhere near the ~50M the uncapped self-join would materialize
    assert 0 < n_pairs <= 4 * n, n_pairs
    # ...and bucket connectivity is PRESERVED: the hub connects every
    # member the full self-join would have connected (components come from
    # shared buckets either way), so 10k templated docs collapse to the
    # handful of band-disjoint groups, not to thousands of singletons
    survivors = deduplicate(docs, capped, "doc_id").count()
    assert survivors <= 8, survivors

    # exact component-equivalence vs the uncapped all-pairs graph, at a
    # size where materializing C(m,2) is still feasible
    from modal_vector_db_spark.operators.graph import connected_components

    small = _templated_docs(spark, 800).repartition(16)
    comp_of = lambda pairs: {  # noqa: E731
        tuple(r)
        for r in connected_components(pairs, src="id_a", dst="id_b").collect()
    }
    full_pairs = minhash_lsh_pairs(small, "doc_id", "text", threshold=0.4)
    star_pairs = minhash_lsh_pairs(
        small, "doc_id", "text", threshold=0.4, bucket_cap=64
    )
    assert comp_of(star_pairs) == comp_of(full_pairs)


def test_bucket_cap_is_exact_below_the_cap(spark, monkeypatch):
    """On a corpus whose buckets all fit under the cap, capped output ==
    uncapped output — the cap changes NOTHING until skew actually appears
    (this is what keeps the oracle-gated dedup queries byte-identical)."""
    from modal_vector_db_spark.operators import dedup
    from modal_vector_db_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i}") for i in range(300)]
        + [(1000 + i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i} zeta{i}") for i in range(40)],
        "doc_id long, text string",
    )
    exact = {tuple(r) for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4).collect()}
    capped = {
        tuple(r)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.4, bucket_cap=64).collect()
    }
    assert capped == exact
    exact = {tuple(r) for r in simhash_pairs(docs, "doc_id", "text").collect()}
    monkeypatch.setattr(dedup, "_SIMHASH_BUCKET_CAP", 64)
    capped = {tuple(r) for r in simhash_pairs(docs, "doc_id", "text").collect()}
    assert capped == exact


def test_bucket_cap_simhash_and_srp_star_mega_cluster(spark, monkeypatch):
    """The same guard on the other two banded families: identical simhash
    signatures / identical embeddings are the worst-case one-bucket shape.
    Production leaves both caps off; the test sets the module constants."""
    from modal_vector_db_spark.operators import ann, dedup
    from modal_vector_db_spark.operators.ann import cosine_srp_pairs
    from modal_vector_db_spark.operators.dedup import deduplicate, simhash_pairs

    monkeypatch.setattr(dedup, "_SIMHASH_BUCKET_CAP", 64)
    monkeypatch.setattr(ann, "_SRP_BUCKET_CAP", 64)
    n = 2_000
    docs = _templated_docs(spark, n).repartition(16)
    sim = simhash_pairs(docs, "doc_id", "text")
    n_sim = sim.count()
    assert 0 < n_sim <= 4 * n, n_sim
    assert deduplicate(docs, sim, "doc_id").count() == 1

    vecs = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).repartition(16)
    for carry in (True, False):
        monkeypatch.setattr(ann, "_CARRY_VECTORS_MAX_DIM", 4 if carry else 3)
        pairs = cosine_srp_pairs(vecs, 0.99, 4)
        n_pairs = pairs.count()
        assert 0 < n_pairs <= 4 * n, (carry, n_pairs)
        # star edges all hub-anchored: id_a is the global min id
        assert pairs.agg(F.max(F.col("id_a") != F.lit(0))).first()[0] is False


def test_semdedup_matches_brute_force_on_separated_blobs(spark):
    """SemDeDup (cluster-blocked) on well-separated blobs: every true
    near-dup pair is WITHIN a cluster, so the blocked result must equal
    brute-force all-pairs cosine exactly (the blocking boundary only ever
    costs cross-cluster pairs, absent here by construction)."""
    import itertools
    import math
    import random

    from modal_vector_db_spark.operators.dedup import semdedup_keep, semdedup_pairs

    rng = random.Random(4)
    dim = 8
    centers = []
    # 4 orthogonal-ish well-separated centers
    for c in range(4):
        v = [0.0] * dim
        v[c * 2] = 1.0
        centers.append(v)
    rows = []
    vid = 0
    for c, base in enumerate(centers):
        for _ in range(12):
            v = [x + rng.uniform(-0.02, 0.02) for x in base]
            rows.append((vid, v))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    eps = 0.002

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    truth = {
        (a, b)
        for (a, va), (b, vb) in itertools.combinations(rows, 2)
        if cos(va, vb) >= 1 - eps
    }
    assert truth  # fixture must actually contain near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(
            df, "vec_id", num_clusters=4, eps=eps, cluster_cap=1000
        ).collect()
    }
    assert got == truth
    kept = semdedup_keep(df, "vec_id", num_clusters=4, eps=eps, cluster_cap=1000)
    doomed = {b for _, b in truth}
    assert {r["vec_id"] for r in kept.collect()} == {i for i, _ in rows} - doomed


def test_semdedup_oversized_cluster_routes_to_jvm_hub_star(spark):
    """A cluster past cluster_cap must NEVER materialize in applyInPandas:
    it routes to the hub-star (hub = min id, O(m) edges, codegen cosine).
    Star edges carry correct sims; within-cap clusters are unaffected."""
    import itertools

    from modal_vector_db_spark.operators.dedup import semdedup_pairs

    # blob A: 40 near-identical rows (oversized at cap=10) around e1;
    # blob B: 5 near-identical rows (within cap) around e2 — well separated
    rows = [(i, [1.0, 0.0, 0.0, 1e-6 * i]) for i in range(40)]
    rows += [(100 + i, [0.0, 1.0, 0.0, 1e-6 * i]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semdedup_pairs(
        df, "vec_id", num_clusters=2, eps=0.01, cluster_cap=10
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # blob A stars on its min id (0): exactly m-1 edges, all anchored at 0
    want_a = {(0, i) for i in range(1, 40)}
    # blob B is under the cap: full exact pairs
    want_b = {
        (a, b) for a, b in itertools.combinations([100 + i for i in range(5)], 2)
    }
    assert got == want_a | want_b
    assert all(r["cos_sim"] >= 0.99 for r in pairs)


@pytest.mark.slow
def test_semdedup_blocked_matmul_matches_unblocked(spark, monkeypatch):
    """Round-7 ADVICE (medium): the per-cluster similarity used to be ONE
    dense m x m matmul — O(m^2) executor memory at the cap.  It is now a
    blocked strip scan; a degenerate block size (every strip shape: 1-row,
    uneven tail, full-m) must produce the identical pair set."""
    import random

    from modal_vector_db_spark.operators import dedup
    from modal_vector_db_spark.operators.dedup import semdedup_pairs

    rng = random.Random(11)
    rows = []
    for c in range(2):
        base = [1.0 if i == c * 3 else 0.0 for i in range(8)]
        for j in range(9):
            rows.append(
                (c * 100 + j, [x + rng.uniform(-0.03, 0.03) for x in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(block):
        monkeypatch.setattr(dedup, "_MATMUL_BLOCK", block)
        return {
            (r["id_a"], r["id_b"], round(r["cos_sim"], 12))
            for r in semdedup_pairs(
                df, "vec_id", num_clusters=2, eps=0.01, cluster_cap=1000
            ).collect()
        }

    ref = pairs(4096)  # one strip covers the whole cluster
    assert ref  # fixture must actually produce near-dup pairs
    for blk in (1, 2, 4, 7):
        assert pairs(blk) == ref


@pytest.mark.slow
def test_connected_components_diameter_guard(spark, monkeypatch):
    """Review finding: exhausting max_iter silently returned unconverged
    labels.  A long chain must either converge (enough rounds) or raise."""
    import pytest as _pytest

    from modal_vector_db_spark.operators import graph
    from modal_vector_db_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(30)]  # diameter 30
    df = spark.createDataFrame(chain, "src long, dst long")
    monkeypatch.setattr(graph, "_MAX_ITER", 3)
    with _pytest.raises(ValueError, match="diameter"):
        connected_components(df)
    monkeypatch.setattr(graph, "_MAX_ITER", 40)
    labels = connected_components(df).collect()
    assert {r["component"] for r in labels} == {0}


def test_null_and_empty_text_never_collapse(spark):
    """Review findings: md5(NULL)=NULL grouped all NULL-text rows into one
    FALSE duplicate group (and incremental_dedup silently DROPPED them);
    empty/whitespace docs shared a [0] sentinel shingle and a simhash of
    0, collapsing into one mega-bucket."""
    from modal_vector_db_spark.functions.hashing import simhash64
    from modal_vector_db_spark.functions.text import hashed_shingles, tokens
    from modal_vector_db_spark.operators.dedup import (
        exact_dup_groups,
        incremental_dedup,
        minhash_lsh_pairs,
    )

    rows = [(1, None), (2, None), (3, ""), (4, "   "), (5, "real text here"),
            (6, "real text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # exact groups: only the true duplicate pair, never a NULL group
    groups = exact_dup_groups(df, "doc_id", "text").collect()
    assert len(groups) == 1 and groups[0]["keep_id"] == 5
    # empty docs produce NULL shingles/simhash, so no pairs among 1-4
    got = df.select("doc_id", hashed_shingles("text").alias("sh"),
                    simhash64(tokens("text")).alias("sim")).collect()
    by = {r["doc_id"]: r for r in got}
    for d in (3, 4):
        assert by[d]["sh"] is None and by[d]["sim"] is None
    pairs = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=8, bands=4)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(5, 6)}
    # incremental: NULL-text batch rows SURVIVE (duplicates of nothing)
    corpus = spark.createDataFrame([(100, "real text here")], "doc_id long, text string")
    out = {r["doc_id"] for r in incremental_dedup(corpus, df, "doc_id", "text").collect()}
    assert {1, 2}.issubset(out) and 5 not in out and 6 not in out


def test_minhash_bands_validated(spark):
    """bands > num_hashes degenerated every band key to '' (full O(n^2)
    self-join); non-divisors silently ignored trailing hashes."""
    import pytest as _pytest

    from modal_vector_db_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for nh, b in ((8, 16), (8, 3), (8, 0)):
        with _pytest.raises(ValueError, match="bands"):
            minhash_lsh_pairs(df, "doc_id", "text", num_hashes=nh, bands=b).collect()


def test_incremental_corpus_bucket_cap(spark, monkeypatch):
    """The skew guard (off in production) bounds a mega-bucket's
    contribution without changing results when buckets are small."""
    from modal_vector_db_spark.operators import dedup
    from modal_vector_db_spark.operators.dedup import incremental_dedup

    monkeypatch.setattr(dedup, "_CORPUS_BUCKET_CAP", 5)
    corpus = spark.createDataFrame(
        [(i, "shared boilerplate words here") for i in range(40)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000, "shared boilerplate words here"), (1001, "совершенно novel content")],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()}
    assert out == {1001}  # the dup still caught within the cap


def test_connected_components_exact_budget_converges(spark, monkeypatch):
    """Review finding: a chain whose diameter equals EXACTLY max_iter
    rounds converges on the final round, but the final round still moves
    labels — the old guard rejected that correct result.  The extra
    verification round accepts it; one round short still raises."""
    import pytest as _pytest

    from modal_vector_db_spark.operators import graph
    from modal_vector_db_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(5)]  # 6 nodes: needs 5 rounds
    df = spark.createDataFrame(chain, "src long, dst long")
    monkeypatch.setattr(graph, "_MAX_ITER", 5)
    labels = connected_components(df).collect()
    assert {r["component"] for r in labels} == {0}
    monkeypatch.setattr(graph, "_MAX_ITER", 4)
    with _pytest.raises(ValueError, match="diameter"):
        connected_components(df)
