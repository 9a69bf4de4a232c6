"""Vector distance as native Catalyst expressions.

The reference computes ``array_cosine_distance(embedding, ?::FLOAT[dim])``
inside DuckDB (``duckvdb.py:111``).  Spark has no cosine builtin, so we build
it from higher-order functions (``zip_with`` + ``aggregate``) — these stay
JVM-side inside whole-stage codegen, which at 100 TB is the difference between
a scan-rate-bound job and a Python-serialization-bound one.  A vectorized
pandas_udf alternative exists for very high dims where per-element codegen
becomes expression-tree heavy; for dim ≤ ~4k the native expression wins.

Against a query vector known on the driver, :func:`cosine_distance_to`
folds the query's norm there once (the same left fold, so the distance is
bit-identical) instead of re-folding the literal on every row; a batch
projects each query's norm on the query side of its join and passes it as
``b_norm`` (``operators/ann.py:_with_q_norm``).
"""

from __future__ import annotations

import json
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column
from pyspark.sql import functions as F


def vector_lit(vec: Sequence[float]) -> Column:
    """A literal vector as an array<double> column, built in a fixed number
    of py4j calls whatever its length.  The doubles cross as one JSON text
    (Python's shortest round-trip repr; NaN and ±Infinity as the
    non-numeric tokens Spark's JSON reader accepts by default), and
    Catalyst folds the ``from_json`` into one array literal with the same
    doubles.  ``F.lit`` of a float64 ndarray converts element by element:
    133 py4j calls at dim 64, 2,053 at dim 1,024.  A 2-D input gives one
    array<array<double>> literal (a centroid matrix, ``operators/ann.py``)."""
    arr = np.asarray(vec, dtype=np.float64)
    typ = "array<" * arr.ndim + "double" + ">" * arr.ndim
    return F.from_json(F.lit(json.dumps(arr.tolist())), typ)


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


def l2_norm_value(vec: Sequence[float]) -> float:
    """:func:`l2_norm` of a driver-side vector: the expression's left fold
    (``s = s + x*x`` in double, then the square root), so the value is
    bit-identical to what the plan would compute per row."""
    s = 0.0
    for x in np.asarray(vec, dtype=np.float64).tolist():
        s = s + x * x
    return math.sqrt(s)


def cosine_similarity(a: Column, b: Column, b_norm: Column | None = None) -> Column:
    """``b_norm``: ``l2_norm(b)`` when the caller already has it (a literal
    or a column projected once per query), so the plan does not fold ``b``
    again per row."""
    # try_divide, not /: under ANSI mode (the Spark 4 default) a single
    # zero-norm vector anywhere in the corpus would raise DIVIDE_BY_ZERO
    # and fail the whole scan; NULL (ranked last by asc_nulls_last) is
    # the established convention for undefined distances.  Non-zero
    # results are bit-identical to the plain division.
    if b_norm is None:
        b_norm = l2_norm(b)
    return F.try_divide(dot_product(a, b), l2_norm(a) * b_norm)


def cosine_distance(a: Column, b: Column, b_norm: Column | None = None) -> Column:
    """1 − cosine similarity — parity with DuckDB ``array_cosine_distance``
    (reference query template ``duckvdb.py:111``; oracle uses
    ``1 - list_cosine_similarity``)."""
    return F.lit(1.0) - cosine_similarity(a, b, b_norm)


def cosine_distance_to(a: Column, vec: Sequence[float]) -> Column:
    """``cosine_distance(a, vector_lit(vec))`` with ``vec``'s norm folded
    once on the driver (:func:`l2_norm_value`) — the same doubles, one
    interpreted fold per row fewer."""
    return cosine_distance(a, vector_lit(vec), F.lit(l2_norm_value(vec)))


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
