"""Text-analysis column functions for training-data pipelines.

All pure Catalyst expressions (regexp + array HOFs), so they run JVM-side at
full scan rate — no Python in the loop.  Each function has a DuckDB-SQL
transliteration (suffix ``_sql``) used by the correctness oracle.

These extend the reference surface (it has no text ops beyond embedding,
``embedders.py``) with the standard LLM-data-pipeline set: language ID,
quality scoring, token counting, document fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword lists for the n-gram language heuristic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "et", "les", "des", "en", "un", "du", "une", "que"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit", "ist"],
}


def tokens(text: Column | str) -> Column:
    """Lowercase whitespace tokens, empties removed."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    return f"list_filter(string_split_regex(lower({expr}), '\\s+'), t -> t != '')"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (the reference never counts tokens; this is the
    pipeline extension's cheapest size signal)."""
    return F.size(tokens(text))


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish proxy: count of word-piece-like regex matches
    (letter runs, digit runs, single punctuation marks)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count_sql(expr: str) -> str:
    return "len(regexp_extract_all(" + expr + ", '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


def _stop_hits(toks: Column, words: list[str]) -> Column:
    return F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(w) for w in words])))


def language_id(text: Column | str) -> Column:
    """Deterministic n-gram/stopword language heuristic → lang code.

    Scores = |distinct tokens ∩ stopwords(lang)|; argmax with fixed tie order
    en > es > fr > de, 'und' (unknown) when all scores are 0.
    """
    t = tokens(text)
    scores = {lang: _stop_hits(t, words) for lang, words in STOPWORDS.items()}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # build so earlier langs win ties
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    return F.when(best == 0, F.lit("und")).otherwise(out)


def language_id_sql(expr: str) -> str:
    t = tokens_sql(expr)
    scores_sql = {
        lang: f"len(list_intersect(list_distinct({t}), [{', '.join(repr(w) for w in words)}]))"
        for lang, words in STOPWORDS.items()
    }
    best = "greatest(" + ", ".join(scores_sql.values()) + ")"
    case = "CASE "
    for lang in STOPWORDS:
        case += f"WHEN {scores_sql[lang]} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"(CASE WHEN {best} = 0 THEN 'und' ELSE {case} END)"


def quality_score(text: Column | str) -> Column:
    """Deterministic quality score in [0,1]:
    0.4·len_score + 0.3·alpha_ratio + 0.3·(1 − repetition_ratio).

    - len_score: min(n_tokens / 100, 1)
    - alpha_ratio: alphabetic chars / total chars
    - repetition_ratio: 1 − distinct_tokens / tokens
    """
    c = F.col(text) if isinstance(text, str) else text
    t = tokens(c)
    n = F.size(t).cast("double")
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    total_chars = F.length(c).cast("double")
    alpha = (total_chars - F.length(F.regexp_replace(c, r"[A-Za-z]", ""))) / F.greatest(
        total_chars, F.lit(1.0)
    )
    distinct_ratio = F.size(F.array_distinct(t)).cast("double") / F.greatest(n, F.lit(1.0))
    return len_score * 0.4 + alpha * 0.3 + distinct_ratio * 0.3


def quality_score_sql(expr: str) -> str:
    t = tokens_sql(expr)
    n = f"len({t})::DOUBLE"
    len_score = f"least({n} / 100.0, 1.0)"
    alpha = (
        f"((length({expr})::DOUBLE - length(regexp_replace({expr}, '[A-Za-z]', '', 'g'))::DOUBLE)"
        f" / greatest(length({expr})::DOUBLE, 1.0))"
    )
    distinct_ratio = f"(len(list_distinct({t}))::DOUBLE / greatest({n}, 1.0))"
    return f"({len_score} * 0.4 + {alpha} * 0.3 + {distinct_ratio} * 0.3)"


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the sorted distinct token set
    (the classic key-collision / 'fingerprint' clustering key)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def fingerprint_sql(expr: str) -> str:
    return f"md5(list_aggregate(list_sort(list_distinct({tokens_sql(expr)})), 'string_agg', ' '))"


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles (strings), the MinHash input unit."""
    t = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    return F.when(F.size(t) < n, F.array(F.array_join(t, " "))).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, n), " "))
        )
    )


# Hashed shingles: the scale path for MinHash input.  Tokens are hashed ONCE
# (md5 → 30-bit int), then each n-gram's hash is a cheap integer fold over n
# consecutive token hashes — no n-gram string is ever materialized, no
# cryptographic hash runs per shingle.  Both engines run identical int64
# arithmetic, so hash values (and any rare collisions) agree exactly.
_HS_RED = 1 << 30  # token hashes reduced to 30 bits: fold stays in int64


def hashed_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word-n-gram hashes as array<long> (fold: a*31+h mod 2^30)
    — exactly the DISTINCT of :func:`hashed_shingles_positional` (one
    implementation; the positional variant's docstring carries the
    zip_with-shift design rationale).  Zero tokens -> NULL (empty docs
    must never share a sentinel shingle — see the positional variant)."""
    return F.array_distinct(hashed_shingles_positional(text, n))


def hashed_shingles_positional(text: Column | str, n: int = 3) -> Column:
    """Word-n-gram hashes WITH positions — index i (0-based via
    ``posexplode``) is the token position where shingle i starts; the
    span-level decontamination operator needs positions to merge
    contaminated intervals, while dedup signatures use the distinct
    wrapper :func:`hashed_shingles`.

    Implementation note: NOT a per-index slice+fold — higher-order-
    function lambda bodies are re-evaluated per element with no
    cross-lambda CSE, so slicing the token-hash array per shingle would
    recompute every token's md5 per shingle (O(|tokens|²) hashes;
    measured 4× slower).  Instead the n-gram hashes come from zip_with
    over n shifted views of the hash array — each token hashed O(n)
    times, one vectorized pass."""
    from modal_vector_db_spark.functions.hashing import md5_long

    t = tokens(text)
    hs = F.transform(t, lambda tok: md5_long(tok) % F.lit(_HS_RED))
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(0).cast("long"),
        lambda a, h: (a * F.lit(31) + h) % F.lit(_HS_RED),
    )
    combined = hs
    for k in range(1, n):
        shifted = F.slice(hs, k + 1, F.greatest(F.size(hs) - k, F.lit(1)))
        combined = F.zip_with(
            combined, shifted, lambda a, h: (a * F.lit(31) + h) % F.lit(_HS_RED)
        )
    valid = F.slice(combined, 1, F.greatest(F.size(hs) - (n - 1), F.lit(1)))
    # zero tokens -> NULL (the hashed_shingles rule, same rationale)
    return (
        F.when(F.size(hs) == 0, F.lit(None).cast("array<long>"))
        .when(F.size(hs) < n, F.array(fold(hs)))
        .otherwise(valid)
    )


def hashed_shingles_positional_sql(expr: str, n: int = 3) -> str:
    """DuckDB transliteration of :func:`hashed_shingles_positional`
    (1-based list; callers align the off-by-one or use only
    shift-invariant outputs)."""
    t = tokens_sql(expr)
    hs = f"list_transform({t}, tok -> (('0x' || substr(md5(tok), 1, 15))::BIGINT) % {_HS_RED})"
    fold_all = f"list_reduce(list_prepend(0::BIGINT, hs), (a, h) -> (a * 31 + h) % {_HS_RED})"
    fold_slice = (
        f"list_reduce(list_prepend(0::BIGINT, list_slice(hs, i, i + {n - 1})), "
        f"(a, h) -> (a * 31 + h) % {_HS_RED})"
    )
    return (
        f"(SELECT CASE WHEN len(hs) = 0 THEN NULL "
        f"WHEN len(hs) < {n} THEN [{fold_all}] "
        f"ELSE list_transform(generate_series(1, len(hs) - {n - 1}), "
        f"i -> {fold_slice}) END FROM (SELECT {hs} AS hs) _hsq)"
    )


def hashed_shingles_sql(expr: str, n: int = 3) -> str:
    """DuckDB transliteration of :func:`hashed_shingles` (identical
    values) — the DISTINCT of the positional twin, like the Spark side."""
    return f"list_distinct({hashed_shingles_positional_sql(expr, n)})"


# ---------------------------------------------------------------------------
# Repeated-content quality signals (the Gopher/C4-style repetition rules):
# documents dominated by one token or by repeated n-grams are boilerplate /
# spam / generation loops and get filtered before training.  Both are pure
# per-row expressions — they ride the same single annotation scan as the
# rest of the profile, no shuffle.
# ---------------------------------------------------------------------------


def dup_ngram_frac(text: Column | str, n: int = 3) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram in the
    same document: ``1 − distinct/total`` over the positional shingle-hash
    array.  0 for short docs (< n tokens: single shingle, nothing repeats)."""
    pos = hashed_shingles_positional(text, n)
    total = F.size(pos).cast("double")
    frac = F.lit(1.0) - F.size(F.array_distinct(pos)).cast("double") / F.greatest(
        total, F.lit(1.0)
    )
    # empty doc: shingles are NULL (the no-sentinel rule) but the QUALITY
    # metric stays 0.0 — nothing repeats in nothing
    return F.round(F.coalesce(frac, F.lit(0.0)), 6)


def dup_ngram_frac_sql(expr: str, n: int = 3) -> str:
    p = hashed_shingles_positional_sql(expr, n)
    return (
        f"round(coalesce(1.0 - len(list_distinct({p}))::DOUBLE"
        f" / greatest(len({p})::DOUBLE, 1.0), 0.0), 6)"
    )


def top_token_frac(text: Column | str) -> Column:
    """Fraction of tokens taken by the single most frequent token.

    Computed as the longest equal-run over the SORTED token array via one
    ``aggregate`` fold — O(n log n) per doc, no per-distinct rescan (the
    naive count-each-distinct form is O(distinct·n), quadratic on
    pathological docs, which is exactly where this filter matters)."""
    t = tokens(text)
    st = F.array_sort(t)
    run = lambda acc, x: F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))  # noqa: E731
    best = F.aggregate(
        st,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc.best, run(acc, x)).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.round(
        best.cast("double") / F.greatest(F.size(t).cast("double"), F.lit(1.0)), 6
    )


def top_token_frac_sql(expr: str) -> str:
    # The oracle side uses the simple count-each-distinct form (different
    # algorithm, same value — a stronger cross-check than a transliteration;
    # the oracle does not need to scale).
    t = tokens_sql(expr)
    top = (
        f"(SELECT coalesce(list_max(list_transform(list_distinct(tt), "
        f"d -> len(list_filter(tt, x -> x = d)))), 0) FROM (SELECT {t} AS tt) _ttq)"
    )
    return f"round({top}::DOUBLE / greatest(len({t})::DOUBLE, 1.0), 6)"


# ---------------------------------------------------------------------------
# PII detection / redaction — pure-regex (Catalyst-side) scrub pass.
# Patterns stay in the syntax subset Java regex (Spark) and RE2 (DuckDB)
# share: no backrefs, no lookaround, ASCII \b word boundaries.
# Order matters for redaction: emails first (they contain dot-runs an IPv4
# pattern could bite), then IPv4, then phone.
# ---------------------------------------------------------------------------
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("IPV4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("PHONE", r"\+?\d{3}[- ]\d{3,4}[- ]\d{4}"),
]


def pii_count(text: Column | str) -> Column:
    """Total PII matches (emails + IPv4s + phone-shaped numbers) per doc —
    the corpus-audit metric; one codegen pass, no UDF."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.lit(0)
    for _, pat in PII_PATTERNS:
        out = out + F.regexp_count(c, F.lit(pat))
    return out


def pii_count_sql(expr: str) -> str:
    terms = [
        f"len(regexp_extract_all({expr}, '{pat}'))" for _, pat in PII_PATTERNS
    ]
    return "(" + " + ".join(terms) + ")"


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with its ``[TYPE]`` placeholder — the scrub
    stage a training pipeline runs before export.  Chained global
    ``regexp_replace`` (Spark replaces all matches by default)."""
    c = F.col(text) if isinstance(text, str) else text
    for tag, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"[{tag}]")
    return c


def redact_pii_sql(expr: str) -> str:
    # DuckDB regexp_replace replaces only the FIRST match unless 'g'.
    out = expr
    for tag, pat in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '[{tag}]', 'g')"
    return out


# -- C4 / Gopher corpus-cleaning rules (public heuristics) -------------------
# C4 (Raffel et al. 2020, "Exploring the Limits of Transfer Learning...",
# arXiv:1910.10683 §2.2) and Gopher (Rae et al. 2021, arXiv:2112.11446
# §A1.1) define the standard pre-training cleanup rules.  All pure Catalyst
# expressions with exact DuckDB twins — one codegen scan, no Python.

#: substrings whose presence disqualifies a LINE (C4's boilerplate list)
C4_BAD_LINE = ("javascript", "lorem ipsum", "cookie")


def c4_kept_lines(text: Column | str) -> Column:
    """C4 line filter → array of surviving lines: a line is kept when it
    has ≥ 3 whitespace words, ends in terminal punctuation
    (``. ! ? "``), and contains none of :data:`C4_BAD_LINE`
    (case-insensitive)."""
    c = F.col(text) if isinstance(text, str) else text
    # \r?\n: a CRLF document must not leave every line with a trailing
    # '\r' (trim strips only spaces — the terminal-punctuation test would
    # then reject ALL its lines)
    lines = F.split(c, r"\r?\n")

    def _ok(line: Column) -> Column:
        t = F.trim(line)
        low = F.lower(t)
        words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
        last = F.substring(t, -1, 1)
        ok = (words >= 3) & last.isin(".", "!", "?", '"')
        for bad in C4_BAD_LINE:
            ok = ok & (F.instr(low, bad) == 0)
        return ok

    return F.filter(lines, _ok)


def c4_clean(text: Column | str) -> Column:
    """C4-cleaned text: surviving lines re-joined with newlines."""
    return F.array_join(c4_kept_lines(text), "\n")


def _c4_kept_lines_sql(expr: str) -> str:
    words = "len(list_filter(string_split_regex(trim(l), '\\s+'), w -> w != ''))"
    last = "right(trim(l), 1)"
    bad = " AND ".join(f"instr(lower(trim(l)), '{b}') = 0" for b in C4_BAD_LINE)
    return (
        f"list_filter(string_split_regex({expr}, '\\r?\\n'), "
        f"l -> {words} >= 3 AND {last} IN ('.', '!', '?', '\"') AND {bad})"
    )


def c4_clean_sql(expr: str) -> str:
    # coalesce: DuckDB array_to_string([]) is NULL; Spark array_join is ''
    return f"coalesce(array_to_string({_c4_kept_lines_sql(expr)}, chr(10)), '')"


def c4_keep(text: Column | str) -> Column:
    """C4 PAGE-level rule: drop documents containing a curly brace (code) or
    "lorem ipsum" (placeholder), or with fewer than 5 sentences (terminal-
    punctuation-delimited non-empty segments)."""
    c = F.col(text) if isinstance(text, str) else text
    sentences = F.size(
        F.filter(F.split(c, r"[.!?]"), lambda s: F.trim(s) != "")
    )
    return (
        (F.instr(c, "{") == 0)
        & (F.instr(F.lower(c), "lorem ipsum") == 0)
        & (sentences >= 5)
    )


def c4_keep_sql(expr: str) -> str:
    sentences = (
        f"len(list_filter(string_split_regex({expr}, '[.!?]'), s -> trim(s) != ''))"
    )
    return (
        f"(instr({expr}, '{{') = 0 AND instr(lower({expr}), 'lorem ipsum') = 0 "
        f"AND {sentences} >= 5)"
    )


#: Gopher's required stop words (≥ 2 distinct must appear)
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
#: Gopher's word-count bounds, shared by the Spark and DuckDB twins
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000


def gopher_keep(
    text: Column | str,
    *,
    min_words: int = _GOPHER_MIN_WORDS,
    min_stops: int = 2,
) -> Column:
    """Gopher document-quality rules (Rae et al. 2021 §A1.1), the subset
    expressible without line structure: word count in [min_words,
    ``_GOPHER_MAX_WORDS``], mean word length in [3, 10], '#'-symbol-to-word ratio
    < 0.1, ≥ 80% of words contain an alphabetic character, and ≥ 2
    distinct required stop words present.  (The bullet-line / ellipsis-line
    ratios need line boundaries — see :func:`c4_kept_lines` for the
    line-level pass.)"""
    c = F.col(text) if isinstance(text, str) else text
    t = tokens(c)
    n = F.size(t)
    nd = n.cast("double")
    safe_n = F.greatest(nd, F.lit(1.0))
    mean_len = (
        F.aggregate(t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)).cast("double")
        / safe_n
    )
    hashes = (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).cast("double")
    alpha_words = F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("double")
    return (
        (n >= min_words)
        & (n <= _GOPHER_MAX_WORDS)
        & (mean_len >= 3.0)
        & (mean_len <= 10.0)
        & (hashes / safe_n < 0.1)
        & (alpha_words / safe_n >= 0.8)
        & (_stop_hits(t, GOPHER_STOPS) >= min_stops)
    )


def gopher_keep_sql(expr: str, min_stops: int = 2) -> str:
    t = tokens_sql(expr)
    n = f"len({t})"
    safe_n = f"greatest({n}::DOUBLE, 1.0)"
    mean_len = f"(list_reduce(list_prepend(0::BIGINT, list_transform({t}, w -> length(w)::BIGINT)), (a, b) -> a + b)::DOUBLE / {safe_n})"
    hashes = f"(length({expr}) - length(replace({expr}, '#', '')))::DOUBLE"
    alpha_words = f"len(list_filter({t}, w -> regexp_matches(w, '[a-z]')))::DOUBLE"
    stops = f"len(list_intersect(list_distinct({t}), [{', '.join(repr(w) for w in GOPHER_STOPS)}]))"
    return (
        f"({n} >= {_GOPHER_MIN_WORDS} AND {n} <= {_GOPHER_MAX_WORDS} "
        f"AND {mean_len} >= 3.0 AND {mean_len} <= 10.0 "
        f"AND {hashes} / {safe_n} < 0.1 "
        f"AND {alpha_words} / {safe_n} >= 0.8 "
        f"AND {stops} >= {min_stops})"
    )


def gopher_lines_ok(text: Column | str) -> Column:
    """The Gopher rules that DO need line structure (completing
    :func:`gopher_keep`'s coverage of §A1.1): discard documents where
    > 90% of (non-empty) lines start with a bullet ('-', '*', '•') or
    > 30% end with an ellipsis.  A document with no non-empty lines
    passes (the other rules reject it on word count)."""
    c = F.col(text) if isinstance(text, str) else text
    # \r?\n (not '\n'): on CRLF documents a trailing '\r' would defeat the
    # ellipsis-suffix test (trim strips only spaces) and lone '\r' segments
    # would count as non-empty lines, diluting the bullet ratio
    lines = F.filter(F.split(c, r"\r?\n"), lambda l: F.trim(l) != "")
    n = F.greatest(F.size(lines).cast("double"), F.lit(1.0))
    bullets = F.size(
        F.filter(lines, lambda l: F.substring(F.trim(l), 1, 1).isin("-", "*", "•"))
    ).cast("double")
    ellipses = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…"),
        )
    ).cast("double")
    return (bullets / n <= 0.9) & (ellipses / n <= 0.3)


def gopher_lines_ok_sql(expr: str) -> str:
    lines = f"list_filter(string_split_regex({expr}, '\\r?\\n'), l -> trim(l) != '')"
    n = f"greatest(len({lines})::DOUBLE, 1.0)"
    bullets = (
        f"len(list_filter({lines}, l -> substr(trim(l), 1, 1) IN ('-', '*', '•')))::DOUBLE"
    )
    ellipses = (
        f"len(list_filter({lines}, l -> suffix(trim(l), '...') OR suffix(trim(l), '…')))::DOUBLE"
    )
    return f"({bullets} / {n} <= 0.9 AND {ellipses} / {n} <= 0.3)"
