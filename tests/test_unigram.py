"""Unigram-LM tokenizer (operators/unigram.py): anchored against an
independent naive EM (the train_bpe discipline), partitioning
independence, lossless round-trip, seed-pass parity, OOV fallback."""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators import unigram
from modal_vector_db_spark.operators.unigram import (
    apply_unigram,
    substring_frequencies,
    train_unigram,
    viterbi_segment,
)


# ---- independent naive reimplementation (spec twin, no shared code) ----

def _naive_viterbi(word, logp):
    n = len(word)
    best, back = [None] * (n + 1), [0] * (n + 1)
    best[0] = 0.0
    for i in range(1, n + 1):
        for j in range(i):  # ascending split points, first max kept
            piece = word[j:i]
            if best[j] is None or piece not in logp:
                continue
            c = best[j] + logp[piece]
            if best[i] is None or c > best[i]:
                best[i], back[i] = c, j
    if best[n] is None:
        return None
    seg, i = [], n
    while i > 0:
        seg.append(word[back[i] : i])
        i = back[i]
    return seg[::-1]


def _naive_em(words, vocab_size, max_piece_len, seed_size, em_iters, prune_frac):
    seed = defaultdict(int)
    for w, f in words:
        for l in range(1, max_piece_len + 1):
            for s in range(len(w) - l + 1):
                seed[w[s : s + l]] += f
    top = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_size]
    counts = {p: float(c) for p, c in top}
    chars = {c for w, _ in words for c in w}
    for c in chars:
        counts.setdefault(c, 1.0)

    def renorm(cnt):
        t = sum(cnt.values())
        return {p: math.log(c / t) for p, c in cnt.items()}

    logp = renorm(counts)
    for _ in range(em_iters):
        new = defaultdict(float)
        for w, f in words:
            for p in _naive_viterbi(w, logp) or list(w):
                new[p] += f
        new = dict(new)
        for c in chars:
            new[c] = max(new.get(c, 0.0), 1.0)
        multi = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1), key=lambda pc: (pc[1], pc[0])
        )
        excess = len(new) - vocab_size
        if excess > 0:
            for p, _ in multi[: min(excess, max(1, int(len(multi) * prune_frac)))]:
                del new[p]
        logp = renorm(new)
    return logp


def _random_corpus(seed, n_words=40):
    rng = random.Random(seed)
    words = []
    for _ in range(n_words):
        w = "".join(rng.choice("abcd") for _ in range(rng.randint(2, 6)))
        words.append((w, rng.randint(1, 30)))
    # merge duplicate words the way a frequency table would
    merged = defaultdict(int)
    for w, f in words:
        merged[w] += f
    return sorted(merged.items())


@pytest.mark.parametrize("seed", [7, 21, 99])
def test_anchor_against_naive_em(spark, seed, monkeypatch):
    """The distributed trainer and an independent naive EM must learn the
    IDENTICAL (piece -> logprob) table on random corpora."""
    words = _random_corpus(seed)
    docs = spark.createDataFrame(
        [(" ".join([w] * f),) for w, f in words], "text string"
    )
    params = dict(
        vocab_size=30, max_piece_len=4, seed_size=60, em_iters=3, prune_frac=0.25
    )
    for name, value in params.items():
        monkeypatch.setattr(unigram, f"_{name.upper()}", value)
    got = train_unigram(docs)
    want = _naive_em(words, **params)
    assert set(got) == set(want)
    for p in want:
        assert got[p] == pytest.approx(want[p], abs=1e-12), p


def test_partitioning_independent(spark, monkeypatch):
    monkeypatch.setattr(unigram, "_VOCAB_SIZE", 25)
    words = _random_corpus(5, n_words=60)
    rows = [(" ".join([w] * f),) for w, f in words]
    a = train_unigram(spark.createDataFrame(rows, "text string").repartition(1))
    b = train_unigram(spark.createDataFrame(rows, "text string").repartition(7))
    assert a == b


def test_apply_roundtrip_and_oov(spark, monkeypatch):
    train = spark.createDataFrame(
        [("merge sort merge scan sort merge",)] * 3, "text string"
    )
    monkeypatch.setattr(unigram, "_VOCAB_SIZE", 20)
    monkeypatch.setattr(unigram, "_EM_ITERS", 3)
    vocab = train_unigram(train)
    assert viterbi_segment("merge", vocab) == ["merge"]
    df = spark.createDataFrame(
        [(0, "Merge SORT scan"), (1, "zzq merge"), (2, None)],
        "i long, text string",
    )
    out = {r["i"]: r for r in apply_unigram(df, vocab).collect()}
    assert "".join(out[0]["tokens"]) == "mergesortscan"
    # OOV chars fall back to per-char pieces, never dropped
    assert out[1]["tokens"][: out[1]["tokens"].index("merge")] == ["z", "z", "q"]
    assert out[2]["tokens"] is None and out[2]["n_tokens"] is None
    with pytest.raises(ValueError, match="n_tokens"):
        apply_unigram(df.withColumn("n_tokens", df.i), vocab)


def test_substring_frequencies_matches_python(spark):
    wf = spark.createDataFrame(
        [("abca", 3), ("bc", 5), ("a", 2)], "word string, freq long"
    )
    got = {
        r["piece"]: r["freq"]
        for r in substring_frequencies(wf, max_piece_len=3, min_piece_len=1).collect()
    }
    want = defaultdict(int)
    for w, f in [("abca", 3), ("bc", 5), ("a", 2)]:
        for l in range(1, 4):
            for s in range(len(w) - l + 1):
                want[w[s : s + l]] += f
    assert got == dict(want)
