"""Seed pass of a unigram-LM tokenizer (Kudo 2018, "Subword
Regularization" — the SentencePiece ``--model_type=unigram`` algorithm).

:func:`substring_frequencies` counts every substring (length <=
``max_piece_len``) of every word, weighted by word frequency.  Pure
Catalyst (nested ``transform`` over ``sequence`` + explode + groupBy with
map-side partial agg) over a :func:`bpe.word_frequencies` table, which is
already orders of magnitude smaller than the corpus.  It is
SQL-expressible, so it carries an oracle gate (the ``useed`` arm of
``text_quality_filtered_agg``), exactly as ``word_frequencies`` carries
BPE's ``wf`` arm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["substring_frequencies"]


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
            # word
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
