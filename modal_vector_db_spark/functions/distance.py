"""Vector distance as native Catalyst expressions.

The reference computes ``array_cosine_distance(embedding, ?::FLOAT[dim])``
inside DuckDB (``duckvdb.py:111``).  Spark has no cosine builtin, so we build
it from higher-order functions (``zip_with`` + ``aggregate``) — these stay
JVM-side inside whole-stage codegen, which at 100 TB is the difference between
a scan-rate-bound job and a Python-serialization-bound one.  A vectorized
pandas_udf alternative exists for very high dims where per-element codegen
becomes expression-tree heavy; for dim ≤ ~4k the native expression wins.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_lit(vec: Sequence[float]) -> Column:
    """A literal query vector as an array<double> column — ONE py4j call
    (a float64 ndarray literal), not one ``lit`` per element; the doubles
    are the same, and Catalyst folds the per-element form into this
    literal anyway."""
    return F.lit(np.asarray(vec, dtype=np.float64))


def dot_product(a: Column, b: Column) -> Column:
    """Elementwise dot product of two array columns (computed in double)."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a.cast("array<double>"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )


def sq_l2_distance(a: Column, b: Column) -> Column:
    """Squared Euclidean distance (the PQ/ADC re-rank metric; monotone with
    L2, so the sqrt is skipped)."""
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    # try_divide, not /: under ANSI mode (the Spark 4 default) a single
    # zero-norm vector anywhere in the corpus would raise DIVIDE_BY_ZERO
    # and fail the whole scan; NULL (ranked last by asc_nulls_last) is
    # the established convention for undefined distances.  Non-zero
    # results are bit-identical to the plain division.
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 − cosine similarity — parity with DuckDB ``array_cosine_distance``
    (reference query template ``duckvdb.py:111``; oracle uses
    ``1 - list_cosine_similarity``)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def cosine_similarity_pandas_udf():
    """Arrow-vectorized cosine similarity for HOT pair-verification loops
    (e.g. LSH candidate verify at corpus scale): one numpy pass per batch
    instead of per-element codegen lambdas.

    NOT bit-identical to :func:`cosine_similarity` — numpy's SIMD summation
    order differs from the expression's left fold, so values agree only to
    ~1e-12 relative.  Use the native expression wherever an oracle compares
    exact values; use this where throughput matters and a threshold has
    physical (not bit) meaning.  Parity bound pinned by
    ``tests/test_ann.py::test_pandas_cosine_close_to_expr``."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        A = np.stack([np.asarray(x, dtype=np.float64) for x in a])
        B = np.stack([np.asarray(x, dtype=np.float64) for x in b])
        num = (A * B).sum(axis=1)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = num / den
        return pd.Series(out)

    return _cos


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a.cast("array<double>"), b.cast("array<double>"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
