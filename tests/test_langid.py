"""Trainable language classifier (operators/langid.py): held-out
confusion pinned on the planted corpus, NULL policy, validation.

The planted corpus (queries/text_queries._langid_corpus) exists because
documents.lang is random w.r.t. its text — training there measures
memorization, not language ID (discovery pinned in the plant comment)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from modal_vector_db_spark.operators.langid import predict_language, train_language_classifier
from modal_vector_db_spark.queries.text_queries import _LANGID_LANGS, _langid_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    ids = spark.range(400).withColumnRenamed("id", "doc_id")
    return _langid_corpus(ids)


@pytest.fixture(scope="module")
def model(corpus):
    return train_language_classifier(
        corpus.filter(F.col("doc_id") % 2 == 0),
        num_features=4096,
        ns=(1, 2),
        max_iter=15,
    )


def test_heldout_confusion_is_diagonal(model, corpus):
    """Per-language confusion on docs the model never saw: 40 of each
    language, zero off-diagonal mass."""
    conf = (
        predict_language(model, corpus.filter(F.col("doc_id") % 2 == 1))
        .groupBy("lang", "lang_pred")
        .count()
        .collect()
    )
    got = {(r["lang"], r["lang_pred"]): r["count"] for r in conf}
    assert got == {(lang, lang): 40 for lang in _LANGID_LANGS}, got


def test_null_text_predicts_null(model, spark):
    df = spark.createDataFrame(
        [(1, "le la et les des en un du une que"), (2, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in predict_language(model, df).collect()}
    assert out[1] == "fr" and out[2] is None


def test_needs_two_classes(spark):
    one = spark.createDataFrame(
        [("der die und in den von zu das", "de")] * 4, "text string, lang string"
    )
    with pytest.raises(ValueError, match=">= 2"):
        train_language_classifier(one)


def test_output_column_collision_is_loud(model, spark):
    df = spark.createDataFrame(
        [(1, "le la et", "x")], "doc_id long, text string, lang_pred string"
    )
    with pytest.raises(ValueError, match="lang_pred"):
        predict_language(model, df)
