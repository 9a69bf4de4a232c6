"""Cross-engine deterministic hashing for dedup operators.

Design constraint: the correctness harness compares every query against a
DuckDB oracle, so hash values must be IDENTICAL in both engines.  Spark's
``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different algorithms, so
we derive a 60-bit integer hash from MD5 (bit-identical everywhere):

    Spark :  conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex digits = 60 bits < 63, so the value always fits a signed int64.

At 100 TB scale ``xxhash64`` is ~3× faster than md5; swap ``HASH_IMPL`` to
"xxhash64" for production runs where oracle parity is not needed — every
operator built on :func:`md5_long` keeps working (values differ, semantics
don't).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_IMPL = "md5"  # "md5" (oracle-parity) | "xxhash64" (fast path at scale)


def md5_long(col: Column | str) -> Column:
    """Deterministic 60-bit integer hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    if HASH_IMPL == "xxhash64":
        return F.xxhash64(c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL emitting the same value as :func:`md5_long` (md5 impl)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# Affine-permutation MinHash constants: h_i(x) = (A_i·(x mod 2^30) + B_i)
# mod (2^31−1).  One md5 per shingle, num_hashes cheap integer mixes — 8×
# fewer cryptographic hashes than seeding md5 per (shingle, i).  The product
# bound A_i·2^30 < 2^63 keeps the arithmetic exact in int64 on both engines.
_MH_MOD = (1 << 31) - 1
_MH_RED = 1 << 30


def minhash_perm(h: Column, i) -> Column:
    """THE affine MinHash permutation, ``((1000003·i + 37)·h + (97 +
    31·i)) mod (2³¹−1)`` — one definition: the SQL twins mirror it
    literally and the banding engine (``operators/dedup.py``) shares it.
    Re-inlining the constants anywhere else would let the Spark and
    DuckDB sides drift apart with no compile-time signal."""
    i = F.lit(i) if isinstance(i, int) else i
    return (
        (F.lit(1_000_003) * i + F.lit(37)) * h + (F.lit(97) + F.lit(31) * i)
    ) % F.lit(_MH_MOD)


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature: array of ``num_hashes`` min-hash values.

    Two-step so the expensive hash runs ONCE per shingle: ``hs =
    transform(sh, md5_long)`` then per-``i`` affine permutations over ``hs``
    (codegen CSE materializes ``hs`` a single time even though ``num_hashes``
    lambdas reference it).  Empty shingle sets min to null so they never
    collide with real docs.
    """
    hs = F.transform(shingles, lambda s: md5_long(s) % F.lit(_MH_RED))
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hs, lambda h: minhash_perm(h, i))),
    )


def simhash64(toks: Column, bits: int = 60) -> Column:
    """SimHash over a token array: bit j is set iff the sum over tokens of
    ±1 (sign = bit j of the token hash) is positive.

    Single-pass: ONE aggregate over the token hashes carrying a
    ``bits``-wide counter array (zip_with accumulator), then one fold of the
    counters into the signature — each token is hashed and scanned exactly
    once regardless of ``bits``.  60 bits ≤ the md5-derived hash width and
    keeps every mask inside a signed int64.
    """
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    hashes = F.transform(toks, lambda t: md5_long(t))
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    # zero tokens -> NULL, not signature 0: every empty doc would share
    # the 0 signature, pass the banding guards, and collapse into one
    # hamming-0 mega-cluster (review finding; the NULL convention is what
    # signature_hamming_pairs already filters on)
    return F.when(F.size(toks) == 0, F.lit(None).cast("long")).otherwise(sig)


def minhash_signature_from_hashes(hashes: Column, num_hashes: int) -> Column:
    """MinHash signature over PRE-HASHED shingles (array<long> already in
    [0, 2^30), e.g. ``functions.text.hashed_shingles``) — pure integer
    mixing, zero cryptographic hashes in this step."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(hashes, lambda h: minhash_perm(h, i))),
    )


def minhash_signature_from_hashes_sql(hashes_expr: str, num_hashes: int) -> str:
    """DuckDB transliteration of :func:`minhash_signature_from_hashes`."""
    return (
        f"list_transform(generate_series(0, {num_hashes - 1}), "
        f"i -> list_min(list_transform({hashes_expr}, "
        f"h -> ((1000003*i + 37) * h + (97 + 31*i)) % {_MH_MOD})))"
    )
