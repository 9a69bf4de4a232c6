"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016,
the HuggingFace/GPT-2 word-level variant) — the "train a tokenizer on the
corpus you just cleaned" step of a training-data pipeline.

Scale shape (the part that must survive 100 TB):

- :func:`word_frequencies` — ONE corpus pass: split, explode, groupBy
  word with map-side partial aggregation.  This is the only stage that
  touches the corpus; its output is the word-frequency table (~10⁶-10⁸
  rows for web-scale corpora — five orders of magnitude smaller).
- :func:`train_bpe` — merge learning runs over the TOP ``max_words``
  rows of that table on the driver (bounded state, same stance as IVF
  centroids: a deliberately-capped driver artifact).  This matches how
  production tokenizer trainers work (HF ``trainers.BpeTrainer`` learns
  from word counts in memory); the distributed system's job is producing
  exact counts from the full corpus, not distributing the inherently
  sequential merge loop.  The trainer is the INDEXED algorithm — pair
  counts update incrementally from only the words containing the merged
  pair — so cost is O(unique pairs touched), not O(words × merges).
- :func:`apply_bpe` — encoding is embarrassingly parallel: the ranked
  merge table broadcasts (≤ vocab-size entries) and an Arrow-batched
  ``mapInPandas`` greedily merges per word with a per-batch word cache
  (Zipf makes the cache hit rate ~the corpus type/token ratio).

Determinism: ties in pair counts break lexicographically, so the learned
merge list is a pure function of the word-frequency table — independent
of partitioning, parallelism, and row order (test-pinned, including an
anchor against an independent naive reimplementation).

No driver-registry entry: merge learning is iterative-argmax, which SQL
cannot express (the documented weak-check class); correctness is pinned
by golden tests + the naive-trainer anchor + the lossless round-trip
invariant instead.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: End-of-word marker (Sennrich-style): keeps merges from crossing word
#: boundaries and makes detokenization exact.
END = "</w>"


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, freq) over the corpus — one split/explode/groupBy pass,
    entirely JVM-side.  Map-side partial aggregation means the shuffle
    carries one row per (word, partition), not per token."""
    col = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    words = df.select(
        F.explode(F.split(F.trim(col), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def _count_pairs(vocab: dict[tuple[str, ...], int]):
    """pair → (total freq, set of words containing it) over symbol-tuple
    vocab — the indexed trainer's initial state."""
    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set] = defaultdict(set)
    for word, freq in vocab.items():
        for i in range(len(word) - 1):
            p = (word[i], word[i + 1])
            counts[p] += freq
            where[p].add(word)
    return counts, where


def _merge_word(word: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    """Replace every non-overlapping occurrence of ``pair`` left-to-right."""
    a, b = pair
    out = []
    i = 0
    n = len(word)
    while i < n:
        if i < n - 1 and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


#: :func:`train_bpe` stops once the best pair occurs fewer times than this
_MIN_FREQ = 2


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    max_words: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus.  Returns the
    ranked merge list (rank = list position), the artifact
    :func:`apply_bpe` consumes.

    The word-frequency table is computed distributed (the corpus pass);
    the top ``max_words`` rows (by freq desc, word asc — deterministic)
    come to the driver and the merge loop runs on them with incremental
    pair-count maintenance.  Stops early when the best pair's count
    drops below ``_MIN_FREQ``.  Words are lowercased."""
    wf = (
        word_frequencies(df, text_col, lowercase=True)
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(int(max_words))
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {}
    for r in wf:
        sym = tuple(list(r["word"]) + [END])
        vocab[sym] = vocab.get(sym, 0) + int(r["freq"])
    counts, where = _count_pairs(vocab)
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        if not counts:
            break
        # deterministic argmax: highest count, then lexicographic pair
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < _MIN_FREQ:
            break
        merges.append(best)
        # rewrite ONLY the words containing the merged pair, updating the
        # pair index incrementally (the classic indexed BPE trainer)
        touched = list(where.pop(best, ()))
        counts.pop(best, None)
        for old in touched:
            freq = vocab.pop(old, None)
            if freq is None:
                continue
            # retire the old word's pair contributions
            for i in range(len(old) - 1):
                p = (old[i], old[i + 1])
                if p == best:
                    continue
                c = counts.get(p)
                if c is not None:
                    c -= freq
                    if c <= 0:
                        counts.pop(p, None)
                        where.pop(p, None)
                    else:
                        counts[p] = c
                w = where.get(p)
                if w is not None:
                    w.discard(old)
            new = _merge_word(old, best)
            vocab[new] = vocab.get(new, 0) + freq
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                counts[p] = counts.get(p, 0) + freq
                where.setdefault(p, set()).add(new)
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge of one word's symbols — the
    HuggingFace/GPT-2 encode algorithm.  Driver/test-side twin of the
    executor loop in :func:`apply_bpe`."""
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        pair = (sym[best_i], sym[best_i + 1])
        sym = list(_merge_word(tuple(sym), pair))
    return sym


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the lowercased ``text_col`` with a learned merge list: adds
    ``tokens`` (array<string>) and ``n_tokens`` (int).  The ranked merge table
    broadcasts; encoding runs in one Arrow pass with a per-batch word
    cache (no shuffle — embarrassingly parallel)."""
    # ship this module by value: the closure references encode_word /
    # _merge_word, which would otherwise pickle BY REFERENCE to a module
    # path executors without the package on sys.path cannot import
    # (see modal_vector_db_spark.shipping)
    import sys

    from modal_vector_db_spark.shipping import ship_by_value

    ship_by_value(sys.modules[__name__])
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    src_cols = df.columns
    # the output schema is input columns + tokens + n_tokens — a
    # collision would yield a duplicate-column schema that fails (or
    # silently shadows) inside mapInPandas; fail loudly at plan time
    for clash in ("tokens", "n_tokens"):
        if clash in src_cols:
            raise ValueError(
                f"apply_bpe: input already has a column named {clash!r}; "
                "drop or rename it"
            )
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", `tokens` array<string>, n_tokens int"
    tcol = text_col

    def _encode(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            toks, ns = [], []
            for text in pdf[tcol]:
                if text is None:
                    toks.append(None)
                    ns.append(None)
                    continue
                t = str(text).lower()
                out: list[str] = []
                for w in t.split():
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = encode_word(w, ranks)
                    out.extend(got)
                toks.append(out)
                ns.append(len(out))
            pdf = pdf.copy()
            pdf["tokens"] = toks
            pdf["n_tokens"] = ns
            yield pdf

    return df.select(*src_cols).mapInPandas(_encode, schema)


def detokenize(tokens: list[str]) -> str:
    """Exact inverse of encode over whitespace-normalized text: symbols
    concatenate, ``</w>`` becomes a space."""
    return "".join(tokens).replace(END, " ").strip()
