"""Distributed unigram-LM tokenizer training + encoding (Kudo 2018,
"Subword Regularization" — the SentencePiece ``--model_type=unigram``
algorithm, here the deterministic Viterbi hard-EM variant) — the peer of
``operators/bpe.py``: same corpus pass, same bounded-driver-state
training stance, same broadcast-and-map encoding shape.

Scale shape (what must survive 100 TB):

- corpus pass: :func:`bpe.word_frequencies` — shared with BPE, the ONLY
  stage that touches the corpus.
- :func:`substring_frequencies` — the SEED pass: every substring (length
  <= ``max_piece_len``) of every word, weighted by word frequency.  Pure
  Catalyst (nested ``transform`` over ``sequence`` + explode + groupBy
  with map-side partial agg) over the word table, which is already 5+
  orders of magnitude smaller than the corpus.  This is the second and
  last distributed stage; it is SQL-expressible, so it carries the
  oracle gate for unigram training (the ``useed`` arm), exactly as
  ``word_frequencies`` carries BPE's ``wf`` arm.
- :func:`train_unigram` — EM runs on the TOP ``max_words`` word rows +
  TOP ``seed_size`` seed pieces on the driver (bounded state, the IVF
  centroid / BPE merge-loop stance: production trainers — SentencePiece
  itself — learn from in-memory frequency tables; the distributed
  system's job is exact counts from the full corpus).
- :func:`apply_unigram` — encoding broadcasts the (piece -> logprob)
  table and Viterbi-segments per word in one Arrow pass with a per-batch
  word cache.  Embarrassingly parallel, no shuffle.

Determinism: the Viterbi DP breaks score ties by keeping the FIRST
maximum with split points scanned ascending (documented, shared with the
naive anchor in tests); seed truncation orders (count desc, piece asc).
The learned table is a pure function of the word-frequency table —
independent of partitioning and row order (test-pinned, including an
anchor against an independent naive EM, the ``train_bpe`` discipline).

No standalone driver-registry entry: EM is iterative (the documented
non-SQL weak-check class, like BPE's merge loop) — but its seed pass is
oracle-gated through the ``useed`` arm and the trainer itself is pinned
by the naive-EM anchor + lossless round-trip invariant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.bpe import word_frequencies

__all__ = [
    "substring_frequencies",
    "train_unigram",
    "viterbi_segment",
    "apply_unigram",
]


def substring_frequencies(
    wf: DataFrame, max_piece_len: int = 6, min_piece_len: int = 1
) -> DataFrame:
    """(piece, freq) — every substring of length ``min..max_piece_len``
    of every word, weighted by the word's corpus frequency.  Input is a
    (word, freq) table (:func:`bpe.word_frequencies`); output feeds seed
    selection.  All JVM-side: the substring fan-out is a nested
    ``transform`` over ``sequence`` (no Python, no UDF), the aggregation
    a standard partial-agg groupBy."""
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(int(min_piece_len)), F.lit(int(max_piece_len))),
            # guard words shorter than l: sequence(1, 0) is the DESCENDING
            # [1, 0] in Spark, not empty — it would double-count the whole
            # word (review-caught via the naive-EM anchor)
            lambda l: F.when(
                F.length("word") >= l,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - l + 1),
                    lambda s: F.substring(F.col("word"), s, l),
                ),
            ).otherwise(F.array_repeat(F.lit(""), 0)),
        )
    )
    return (
        wf.select(F.explode(pieces).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("freq"))
    )


def viterbi_segment(word: str, logp: dict[str, float]) -> list[str] | None:
    """Best segmentation of ``word`` into vocab pieces under the unigram
    LM (max sum of piece log-probs).  Ties keep the FIRST maximum with
    split points scanned ascending — the documented convention the naive
    anchor shares.  Returns None when the word cannot be covered (an OOV
    character outside the vocab)."""
    n = len(word)
    best: list[float | None] = [None] * (n + 1)
    back: list[int] = [0] * (n + 1)
    best[0] = 0.0
    max_len = max((len(p) for p in logp), default=1)
    for i in range(1, n + 1):
        for j in range(max(0, i - max_len), i):
            if best[j] is None:
                continue
            lp = logp.get(word[j:i])
            if lp is None:
                continue
            cand = best[j] + lp
            if best[i] is None or cand > best[i]:
                best[i], back[i] = cand, j
    if best[n] is None:
        return None
    out: list[str] = []
    i = n
    while i > 0:
        out.append(word[back[i] : i])
        i = back[i]
    out.reverse()
    return out


#: :func:`train_unigram`'s tunables: target vocabulary size, longest
#: seed piece, seed pieces kept, hard-EM rounds, words kept on the driver
#: and the share of multi-char pieces pruned per round
_VOCAB_SIZE = 400
_MAX_PIECE_LEN = 6
_SEED_SIZE = 4000
_EM_ITERS = 4
_MAX_WORDS = 1_000_000
_PRUNE_FRAC = 0.25


def train_unigram(df: DataFrame) -> dict[str, float]:
    """Learn a (piece -> log-prob) unigram vocabulary of ~``_VOCAB_SIZE``
    entries from ``df``'s lowercased ``text``.  Distributed: corpus word
    pass + substring seed pass.  Driver: Viterbi hard-EM over the capped word table —

    1. seed = top ``_SEED_SIZE`` substrings by weighted count (count
       desc, piece asc) UNION all single characters (never pruned, so
       every word stays coverable);
    2. E-step: Viterbi-segment every word under current log-probs,
       accumulate piece counts weighted by word frequency;
    3. M-step: prob = count / total (characters floored at count 1 so
       coverage survives);
    4. prune: drop the lowest-count ``_PRUNE_FRAC`` of multi-char pieces
       each round until ``_VOCAB_SIZE`` remains (SentencePiece's
       shrink-toward-target loop, count-based instead of loss-based —
       deterministic and within a few percent of the loss rule on web
       corpora).
    """
    wf_full = word_frequencies(df, "text", lowercase=True).persist()
    try:
        wf_rows = (
            wf_full.orderBy(F.col("freq").desc(), F.col("word").asc())
            .limit(_MAX_WORDS)
            .collect()
        )
        words = [(r["word"], int(r["freq"])) for r in wf_rows]
        if not words:
            raise ValueError("train_unigram: corpus has no words")
        # seed pass over the FULL distributed word table (both driver
        # transfers are top-k capped; the word table is persisted so the
        # corpus is scanned once, not once per job)
        seed_rows = (
            substring_frequencies(wf_full, max_piece_len=_MAX_PIECE_LEN)
            .orderBy(F.col("freq").desc(), F.col("piece").asc())
            .limit(_SEED_SIZE)
            .collect()
        )
    finally:
        wf_full.unpersist()
    counts: dict[str, float] = {r["piece"]: float(r["freq"]) for r in seed_rows}
    chars = {c for w, _ in words for c in w}
    for c in chars:  # single chars are load-bearing: full coverage
        counts.setdefault(c, 1.0)

    def _renorm(cnt: dict[str, float]) -> dict[str, float]:
        total = sum(cnt.values())
        return {p: math.log(c / total) for p, c in cnt.items()}

    logp = _renorm(counts)
    for _ in range(_EM_ITERS):
        new: dict[str, float] = {}
        for w, f in words:
            seg = viterbi_segment(w, logp)
            if seg is None:  # unreachable: chars are always in vocab
                seg = list(w)
            for p in seg:
                new[p] = new.get(p, 0.0) + f
        for c in chars:  # floor: an unused char keeps epsilon mass
            new[c] = max(new.get(c, 0.0), 1.0)
        # prune toward the target: multi-char pieces only, lowest count
        # first (piece asc on ties), a bounded fraction per round
        multi = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1),
            key=lambda pc: (pc[1], pc[0]),
        )
        excess = len(new) - _VOCAB_SIZE
        if excess > 0:
            drop = min(excess, max(1, int(len(multi) * _PRUNE_FRAC)))
            for p, _ in multi[:drop]:
                del new[p]
        logp = _renorm(new)
    return logp


def apply_unigram(df: DataFrame, vocab: dict[str, float]) -> DataFrame:
    """Tokenize the lowercased ``text`` with a learned unigram vocab: adds
    ``tokens`` (array<string>) and ``n_tokens`` (int) — the
    ``apply_bpe`` twin: broadcast table, one Arrow pass, per-batch word
    cache, no shuffle.  Words with OOV characters fall back to per-char
    pieces (unknown chars pass through as themselves — never dropped,
    never a crash)."""
    import sys

    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(sys.modules[__name__])
    src_cols = df.columns
    for clash in ("tokens", "n_tokens"):
        if clash in src_cols:
            raise ValueError(
                f"apply_unigram: input already has a column named {clash!r}; "
                "drop or rename it"
            )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", `tokens` array<string>, n_tokens int"
    vb = dict(vocab)

    def _encode(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks, ns = [], []
            for text in pdf["text"]:
                if text is None:
                    toks.append(None)
                    ns.append(None)
                    continue
                t = str(text).lower()
                out: list[str] = []
                for w in t.split():
                    got = cache.get(w)
                    if got is None:
                        got = viterbi_segment(w, vb)
                        if got is None:  # OOV character: per-char fallback
                            got = list(w)
                        cache[w] = got
                    out.extend(got)
                toks.append(out)
                ns.append(len(out))
            pdf = pdf.copy()
            pdf["tokens"] = toks
            pdf["n_tokens"] = ns
            yield pdf

    return df.select(*src_cols).mapInPandas(_encode, schema)
