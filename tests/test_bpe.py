"""Distributed BPE trainer/encoder tests.

Anchor strategy (the GIF/JPEG rule — never trust one implementation to
check itself): the production INDEXED trainer is anchored against an
independent NAIVE reimplementation (full recount every round) on random
corpora, plus hand-checked first merges on a classic fixture.  Encoding
pins the lossless round-trip invariant and driver/executor equality.
"""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from modal_vector_db_spark.operators import bpe
from modal_vector_db_spark.operators.bpe import (
    END,
    apply_bpe,
    detokenize,
    encode_word,
    train_bpe,
    word_frequencies,
)


def _naive_train(word_freqs: dict[str, int], num_merges: int, min_freq: int = 2):
    """Textbook BPE trainer: full per-position pair recount every round,
    same determinism rule (count desc, pair asc)."""
    vocab = {}
    for w, f in word_freqs.items():
        sym = tuple(list(w) + [END])
        vocab[sym] = vocab.get(sym, 0) + f
    merges = []
    for _ in range(num_merges):
        counts = defaultdict(int)
        for word, f in vocab.items():
            for i in range(len(word) - 1):
                counts[(word[i], word[i + 1])] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < min_freq:
            break
        merges.append(best)
        new_vocab = {}
        a, b = best
        for word, f in vocab.items():
            out, i = [], 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == a and word[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


def test_golden_first_merges(spark):
    """The classic Sennrich fixture: 'low' x5, 'lower' x2, 'newest' x6,
    'widest' x3 — the first merges must be (e,s), (es,t), (est,</w>)
    (freq 9 each; lexicographic tie-break picks (e,s) first)."""
    rows = (
        [("low",)] * 5 + [("lower",)] * 2 + [("newest",)] * 6 + [("widest",)] * 3
    )
    df = spark.createDataFrame(rows, "text string")
    merges = train_bpe(df, num_merges=3, max_words=100)
    assert merges == [("e", "s"), ("es", "t"), ("est", END)]


def test_indexed_trainer_matches_naive_on_random_corpora(spark):
    """The incremental pair-index trainer must produce EXACTLY the naive
    recount trainer's merge list on seeded random corpora (several sizes,
    duplicate-heavy and sparse)."""
    rng = random.Random(9)
    for trial in range(4):
        n_words = [30, 80, 150, 60][trial]
        alphabet = "abcdef"
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 8)))
            for _ in range(n_words)
        ]
        freqs = defaultdict(int)
        corpus = []
        for w in words:
            k = rng.randrange(1, 9)
            freqs[w] += k
            corpus.extend([w] * k)
        rng.shuffle(corpus)
        # one doc per few words: exercises the distributed split/count too
        docs = [
            (" ".join(corpus[i : i + 5]),) for i in range(0, len(corpus), 5)
        ]
        df = spark.createDataFrame(docs, "text string").repartition(7)
        got = train_bpe(df, num_merges=40, max_words=10_000)
        want = _naive_train(dict(freqs), 40, min_freq=2)
        assert got == want, trial


def test_determinism_under_partitioning(spark):
    rows = [(f"tok{i % 7} tok{i % 3} shared word{i % 5}",) for i in range(200)]
    a = train_bpe(
        spark.createDataFrame(rows, "text string").repartition(3), num_merges=25
    )
    b = train_bpe(
        spark.createDataFrame(list(reversed(rows)), "text string").repartition(11),
        num_merges=25,
    )
    assert a == b


def test_encode_roundtrip_and_distributed_equality(spark, monkeypatch):
    """detokenize(encode(x)) reconstructs whitespace-normalized lowercase
    text exactly, and the Arrow-batched executor encode equals the
    driver-side encode_word per word."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "lower newest widest low low newest"),
        (3, "unseen zzzqqq glyphs"),
        (4, None),
        (5, "  spaced   out\ttabs  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(bpe, "_MIN_FREQ", 1)
    merges = train_bpe(df, num_merges=30)
    out = {r["doc_id"]: r for r in apply_bpe(df, merges).collect()}
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    for doc_id, text in rows:
        if text is None:
            assert out[doc_id]["tokens"] is None
            assert out[doc_id]["n_tokens"] is None
            continue
        toks = out[doc_id]["tokens"]
        norm = " ".join(text.lower().split())
        assert detokenize(list(toks)) == norm, doc_id
        assert out[doc_id]["n_tokens"] == len(toks)
        # executor tokens == driver per-word encode
        want = []
        for w in text.lower().split():
            want.extend(encode_word(w, ranks))
        assert list(toks) == want, doc_id


def test_merges_actually_compress(spark, monkeypatch):
    """More merges → fewer tokens, monotonically down to the word level;
    with enough merges frequent words become single symbols."""
    rows = [("the cat sat on the mat the cat",)] * 20
    df = spark.createDataFrame(rows, "text string")
    monkeypatch.setattr(bpe, "_MIN_FREQ", 1)
    merges = train_bpe(df, num_merges=50)
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert encode_word("the", ranks) == ["the" + END]
    n0 = sum(
        r["n_tokens"] for r in apply_bpe(df, []).collect()
    )
    n1 = sum(r["n_tokens"] for r in apply_bpe(df, merges[:5]).collect())
    n2 = sum(r["n_tokens"] for r in apply_bpe(df, merges).collect())
    assert n0 > n1 > n2


def test_corpus_pass_shape_on_fixture(spark):
    """The one corpus-touching stage is a single partial-agg groupBy: run
    it on the documents fixture and check the plan has exactly one
    shuffle and a partial aggregate below it."""
    from modal_vector_db_spark.harness import load
    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    wf = word_frequencies(docs, "text")
    plan = wf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan or "HashAggregate" in plan
    top = wf.orderBy(F_desc()).limit(3).collect()
    assert all(r["freq"] >= 1 for r in top)


def F_desc():
    from pyspark.sql import functions as F

    return F.col("freq").desc()


def test_apply_bpe_rejects_output_column_collisions(spark):
    """Round-7 ADVICE: the output schema is input + tokens + n_tokens —
    a clash used to produce a duplicate-column schema that failed (or
    shadowed) inside mapInPandas.  Now a plan-time ValueError."""
    import pytest

    from modal_vector_db_spark.operators.bpe import apply_bpe

    df = spark.createDataFrame([("a b", 1)], "text string, n_tokens int")
    with pytest.raises(ValueError, match="n_tokens"):
        apply_bpe(df, [], "text")
    df2 = spark.createDataFrame([("a b", "x")], "text string, tokens string")
    with pytest.raises(ValueError, match="tokens"):
        apply_bpe(df2, [], "text")
    # a frame without either column still works
    got = apply_bpe(spark.createDataFrame([("a b",)], "text string"), [], "text").collect()
    assert got[0]["tokens"] is not None and got[0]["n_tokens"] == len(got[0]["tokens"])
