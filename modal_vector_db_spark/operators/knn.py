"""Exact KNN — the reference's flagship read path, Spark-first.

Reference query template (``duckvdb.py:110-118``)::

    SELECT DISTINCT id, metadata,
           array_cosine_distance(embedding, ?::FLOAT[dim]) AS distance
    FROM items WHERE {filters} ORDER BY distance ASC LIMIT ?

Spark translation: ``filter → select(+native cosine expr) → orderBy(k)``.
Catalyst plans the ORDER BY + LIMIT as ``TakeOrderedAndProject`` — a
per-partition bounded heap merged on the driver, never a global sort.  That
is exactly the distributed analog of DuckDB's top-N optimization and is the
reason this scales to 100 TB: cost is O(rows_scanned) + O(k·partitions)
driver merge, with the filter pushed below the distance computation.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modal_vector_db_spark.functions.distance import cosine_distance_to
from modal_vector_db_spark.operators.filters import compile_filters


def knn(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_cols: Sequence[str] = ("id", "metadata"),
    filters: dict[str, Any] | None = None,
    filter_col: Column | None = None,
    distinct: bool = False,
    tie_break: str | None = None,
) -> DataFrame:
    """Filtered exact top-k by cosine distance.

    ``filters`` uses the metadata dict DSL (compiled pre-distance so Catalyst
    pushes it into the scan); ``filter_col`` accepts an arbitrary boolean
    Column for non-JSON tables.  ``distinct`` reproduces the reference's
    SELECT DISTINCT template slot (P2).  Its aggregate ships every scanned
    row through an exchange, so a caller that collects can run without it
    and check the ≤ k rows instead: if they are pairwise distinct they are
    the first k rows of the distinct sequence (each is the first occurrence
    of its value), and only a duplicate needs the DISTINCT plan, run as a
    second scan (``VectorDB.query``; bulk loads are not deduplicated).
    ``tie_break`` optionally adds a deterministic secondary sort key so
    equal-distance boundaries are stable across engines.
    """
    if filters:
        df = df.filter(compile_filters(filters))
    if filter_col is not None:
        df = df.filter(filter_col)
    dist = cosine_distance_to(F.col(vec_col), query_vec).alias("distance")
    out = df.select(*id_cols, dist)
    if distinct:
        out = out.distinct()
    # NULLs last: a zero-norm or NULL embedding yields NULL distance in Spark
    # (non-ANSI x/0 → NULL) but NaN in DuckDB's array_cosine_distance — and
    # NaN sorts LAST there while Spark's default asc() puts NULL FIRST.
    # asc_nulls_last keeps degenerate vectors out of the top-k on both engines.
    order = [F.col("distance").asc_nulls_last()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    return out.orderBy(*order).limit(k)
