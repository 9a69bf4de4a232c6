"""Scalar/column functions: vector distances, cross-engine hashing, text
analysis.  All are native Catalyst column expressions (whole-stage-codegen
friendly) — no Python row-at-a-time UDFs in any hot path.
"""

from modal_vector_db_spark.functions.distance import (
    cosine_distance,
    cosine_similarity,
    dot_product,
    l2_norm,
    vector_lit,
)
from modal_vector_db_spark.functions.hashing import md5_long, minhash_signature, simhash64
from modal_vector_db_spark.functions.text import (
    language_id,
    quality_score,
    token_count,
    tokens,
    fingerprint,
)

__all__ = [
    "cosine_distance",
    "cosine_similarity",
    "dot_product",
    "l2_norm",
    "vector_lit",
    "md5_long",
    "minhash_signature",
    "simhash64",
    "language_id",
    "quality_score",
    "token_count",
    "tokens",
    "fingerprint",
]
