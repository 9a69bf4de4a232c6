"""Distributed Bloom-filter semi/anti joins — the cross-corpus membership
primitive for the regime where BOTH sides are too large to broadcast as
exact key sets.

The engine already covers the two easy regimes:

- small build side → broadcast the exact distinct keys and let the
  broadcast hash join discard non-matches map-side
  (``operators/dedup.py:contamination_report`` — eval suites are MBs);
- small probe side → broadcast the probe (``incremental_dedup`` — a crawl
  increment against the accepted corpus).

At 100 TB the third regime appears: dedup/decontaminate corpus B against
corpus A where A's distinct key set is tens of GB (1 B keys × 8-byte
hashes) — too big to broadcast, so the naive plan shuffles BOTH corpora
into a sort-merge join.  A Bloom filter at ~10 bits/key is 10–30× smaller
than the exact set and broadcastable again; with no false negatives, every
probe row the filter rejects is PROVABLY absent from the build side, so
only the (rare) candidate hits ever reach an exact verify join.  The probe
corpus is never shuffled; the build side IS still scanned + shuffled once
in the verify (distinct keys, partial-agg collapsed) — it cannot be
broadcast in this regime, so the saving is all probe-side.  This is Spark's own AQE runtime
``bloom_filter_agg``/``might_contain`` rewrite (SPARK-32268) re-expressed
as an explicit, composable operator — the built-in one is planner-internal,
not SQL/PySpark-exposed, and only fires on selective equi-joins the
optimizer happens to pick.

Everything here is pure Catalyst (xxhash64 / pmod / shiftleft / bit_or /
broadcast hash joins) — whole-stage codegen end to end, no Python in any
hot path, and deterministic for a given (seed, num_bits, num_hashes), so
results are reproducible across runs and engines.

Plan shapes (asserted in tests/test_bloom.py):

- build: one scan of the build side → explode k positions → ONE
  partial-aggregated shuffle (``bit_or`` combines map-side) whose output
  is at most ``num_bits / 64`` (word_idx, word) rows;
- probe: k broadcast hash joins of that word table (Catalyst reuses the
  broadcast exchange) + a codegen filter — NO probe-side shuffle, no
  sort-merge join anywhere before the candidate-only verify.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_params",
    "bloom_build",
    "bloom_merge",
    "bloom_might_contain",
    "bloom_semi_join",
    "bloom_anti_join",
]

_FLAG = "_bloom_hit"


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing (Bloom 1970): bits ``m = -n·ln p / (ln 2)²``
    rounded up to a multiple of 64, hash count ``k = (m/n)·ln 2``.  At
    fpp=0.01 that is ~9.6 bits/key and k=7 — a 1 B-key corpus costs a
    ~1.2 GB word table vs ~8 GB+ of exact 64-bit hashes."""
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    n = max(1, int(expected_items))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2.0) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    # k from the REQUESTED fpp bounds k from the word-rounded m: flooring
    # m to 64 bits makes m/n huge for tiny builds (n=1 -> k=44, i.e. 44
    # broadcast joins in the probe plan) while ceil(-log2 fpp) hashes
    # (7 at 1%) already deliver the asked-for rate whenever m >= optimal
    k = max(1, min(round(m / n * math.log(2.0)), math.ceil(-math.log2(fpp))))
    return m, k


def _positions(cols: Sequence[str], num_bits: int, num_hashes: int, seed: int):
    """k bit positions per row, all JVM-side: xxhash64 over the key columns
    plus (seed, i) literals, pmod'ed into [0, num_bits).  pmod, not %, —
    xxhash64 is signed (the round-5 ``F.pmod`` rule)."""
    key = [F.col(c) for c in cols]
    return [
        F.pmod(F.xxhash64(*key, F.lit(int(seed)), F.lit(i)), F.lit(int(num_bits)))
        for i in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame,
    cols: Sequence[str],
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
) -> DataFrame:
    """Aggregate the build side into a bit-packed word table
    ``(word_idx long, word long)`` — the Bloom filter's bitset as a
    DataFrame of at most ``num_bits / 64`` rows.  One shuffle, and the
    ``bit_or`` partial aggregation collapses each map partition to at most
    ``num_bits / 64`` rows before it, so the shuffle volume is bounded by
    the filter size × partitions, not by the corpus.  Persist/reuse the
    result across probes — it is just a (small) table."""
    if num_bits % 64 or num_bits < 64:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    if num_hashes < 1:
        # k=0 would flag EVERY probe row a candidate — results stay exact
        # but the full corpus silently shuffles through the verify join,
        # the precise plan this operator exists to avoid
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    pos = F.explode(
        F.array(*_positions(cols, num_bits, num_hashes, seed))
    ).alias("_pos")
    return (
        df.select(pos)
        .select(
            (F.col("_pos") / F.lit(64)).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pmod(_pos, 64) as int))").alias("_m"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(_m)").alias("word"))
    )


def bloom_merge(*word_tables: DataFrame) -> DataFrame:
    """OR together word tables built with the SAME (cols, num_bits,
    num_hashes, seed) — Bloom bitsets are union-mergeable, so a growing
    corpus maintains its filter incrementally: build words for each append
    delta and merge, never rescan the accepted corpus.  The result is
    row-identical to :func:`bloom_build` over the unioned inputs (pinned
    in tests/test_bloom.py).  Mixing parameters is NOT detectable here
    (word tables carry no metadata) and silently breaks the
    no-false-negative guarantee — persist the parameters next to the
    table, the same rule as :func:`bloom_might_contain`."""
    if not word_tables:
        raise ValueError("bloom_merge: need at least one word table")
    out = word_tables[0]
    for w in word_tables[1:]:
        out = out.unionByName(w)
    return out.groupBy("word_idx").agg(F.expr("bit_or(word)").alias("word"))


def bloom_might_contain(
    probe: DataFrame,
    words: DataFrame,
    cols: Sequence[str],
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
) -> DataFrame:
    """Annotate ``probe`` with ``_bloom_hit``: true iff ALL ``num_hashes``
    bits for the row's key are set in ``words`` (built by
    :func:`bloom_build` with the SAME cols/num_bits/num_hashes/seed —
    mismatched parameters silently break the no-false-negative guarantee,
    so callers should go through the semi/anti wrappers).

    Membership is ``num_hashes`` broadcast hash joins against the word
    table — map-side only, the probe is never shuffled; flag=false rows
    are PROVABLY absent from the build side, flag=true rows are candidates
    (true matches + ~fpp false positives) for an exact verify."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    flag_col = _FLAG
    clash = [c for c in probe.columns if c.startswith("_bf_") or c == flag_col]
    if clash:
        raise ValueError(f"bloom_might_contain: reserved columns in probe: {clash}")
    out = probe.withColumn(flag_col, F.lit(True))
    for i, pos in enumerate(_positions(cols, num_bits, num_hashes, seed)):
        pcol, icol, wcol = f"_bf_p{i}", f"_bf_i{i}", f"_bf_w{i}"
        wi = words.select(
            F.col("word_idx").alias(icol), F.col("word").alias(wcol)
        )
        out = (
            out.withColumn(pcol, pos)
            .join(
                F.broadcast(wi),
                (F.col(pcol) / F.lit(64)).cast("long") == F.col(icol),
                "left",
            )
            .withColumn(
                flag_col,
                F.col(flag_col)
                & F.coalesce(
                    F.expr(
                        f"({wcol} & shiftleft(1L, cast(pmod({pcol}, 64) as int))) != 0"
                    ),
                    F.lit(False),
                ),
            )
            .drop(pcol, icol, wcol)
        )
    return out


def _sized(build: DataFrame, on, expected_items, fpp, num_bits, num_hashes):
    if (num_bits is None) != (num_hashes is None):
        raise ValueError(
            "pass BOTH num_bits and num_hashes, or neither (half-pinned "
            "parameters would silently be ignored)"
        )
    if num_bits is not None:
        if num_bits % 64 or num_bits < 64:
            raise ValueError(
                f"num_bits must be a positive multiple of 64, got {num_bits}"
            )
        return int(num_bits), int(num_hashes)
    if expected_items is not None:
        return bloom_params(expected_items, fpp)
    # auto-sizing pass: approx DISTINCT keys, not rows — a duplicate-heavy
    # corpus would otherwise oversize the filter by its duplication factor
    # (round-8 ADVICE).  Still one extra scan of the (huge, by premise)
    # build side: pass expected_items to skip it.
    n = build.agg(
        F.approx_count_distinct(F.struct(*[F.col(c) for c in on])).alias("n")
    ).first()["n"]
    return bloom_params(max(1, int(n)), fpp)


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    *,
    expected_items: int | None = None,
    fpp: float = 0.01,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """EXACT left-semi join (probe rows whose key exists in build) whose
    PROBE-side shuffle cost scales with the MATCHES, not the probe corpus:
    Bloom candidates map-side, then a verify semi-join over candidates
    only.  The BUILD side is still scanned and shuffled once in the verify
    (it cannot be broadcast in the both-sides-huge regime this operator
    exists for) — the saving is probe-side: a 100 TB probe contributes
    only its (rare) candidate rows to the shuffle, never the whole corpus.
    The verify shuffles the build side's DISTINCT keys (partial-agg
    collapses duplicates map-side before the exchange).  Result is
    byte-identical to ``probe.join(build, on, 'left_semi')`` — false
    positives die in the verify, false negatives don't exist.

    Size via ``expected_items`` (build-side distinct key estimate; an
    ``approx_count_distinct`` pass is run when omitted) + ``fpp``, or pin
    ``num_bits``/``num_hashes`` directly."""
    on = list(on)
    m, k = _sized(build, on, expected_items, fpp, num_bits, num_hashes)
    words = bloom_build(build, on, m, k, seed)
    cand = bloom_might_contain(probe, words, on, m, k, seed).filter(
        F.col(_FLAG)
    ).drop(_FLAG)
    return cand.join(build.select(*on).distinct(), on, "left_semi")


def bloom_anti_join(
    probe: DataFrame,
    build: DataFrame,
    on: Sequence[str],
    *,
    expected_items: int | None = None,
    fpp: float = 0.01,
    num_bits: int | None = None,
    num_hashes: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """EXACT left-anti join (probe rows whose key does NOT exist in build)
    — the cross-corpus dedup / decontamination shape: "admit only documents
    never seen in corpus A".  Bloom-rejected rows (the overwhelming
    majority under low overlap) are provably absent and pass straight
    through with ZERO shuffle; only candidates pay the verify anti-join,
    which shuffles the build side's DISTINCT keys once (the build cannot
    be broadcast in the both-sides-huge regime — the saving is
    probe-side).  Result is byte-identical to
    ``probe.join(build, on, 'left_anti')``.

    Scan economics: the sure/candidate branches are two filters over the
    same flagged plan, so the probe source is SCANNED TWICE (each scan is
    map-side only — flag columns + k broadcast joins, no shuffle) — cheap
    relative to a shuffle when columnar pushdown reads only the key
    columns twice."""
    on = list(on)
    m, k = _sized(build, on, expected_items, fpp, num_bits, num_hashes)
    words = bloom_build(build, on, m, k, seed)
    flagged = bloom_might_contain(probe, words, on, m, k, seed)
    sure = flagged.filter(~F.col(_FLAG)).drop(_FLAG)
    cand = flagged.filter(F.col(_FLAG)).drop(_FLAG)
    return sure.unionByName(
        cand.join(build.select(*on).distinct(), on, "left_anti")
    )
