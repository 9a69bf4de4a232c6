"""Trainable quality classifier tests: a separable synthetic corpus must
classify near-perfectly out of sample; imbalance weighting, NULL
handling, and determinism are pinned."""

from __future__ import annotations

import random

import pytest

from modal_vector_db_spark.operators.quality import score_quality, train_quality_classifier

_GOOD = ["theorem", "analysis", "archive", "citation", "paragraph",
         "historical", "method", "结论", "context", "reference"]
_BAD = ["cheap", "viagra", "casino", "click", "winner", "free", "pills",
        "lottery", "prize", "xxx"]


def _docs(vocab, n, seed, words=12):
    rng = random.Random(seed)
    return [(" ".join(rng.choice(vocab) for _ in range(words)),) for _ in range(n)]


@pytest.fixture(scope="module")
def model_and_data(spark):
    pos = spark.createDataFrame(_docs(_GOOD, 300, 1), "text string")
    # imbalanced on purpose: the crawl side is 5x bigger
    neg = spark.createDataFrame(_docs(_BAD, 1500, 2), "text string")
    model = train_quality_classifier(pos, neg, num_features=1 << 12, max_iter=30)
    return model, pos, neg


def test_separable_corpus_scores_out_of_sample(spark, model_and_data):
    model, _, _ = model_and_data
    held = spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(_docs(_GOOD, 50, 7))]
        + [(100 + i, t) for i, (t,) in enumerate(_docs(_BAD, 50, 8))],
        "doc_id long, text string",
    )
    scored = {r["doc_id"]: r["quality_score"] for r in score_quality(model, held).collect()}
    good = [scored[i] for i in range(50)]
    bad = [scored[100 + i] for i in range(50)]
    # despite 5x class imbalance, the weighted fit separates cleanly
    assert min(good) > 0.9, min(good)
    assert max(bad) < 0.1, max(bad)


def test_mixed_vocab_scores_monotone_in_good_fraction(spark, model_and_data):
    model, _, _ = model_and_data
    rows = []
    # k DISTINCT good words + (10-k) distinct bad words (binary hashed
    # features: repetition is invisible by design, so distinctness is
    # what moves the score)
    for k in range(0, 11, 2):
        words = _GOOD[:k] + _BAD[: 10 - k]
        rows.append((k, " ".join(words)))
    df = spark.createDataFrame(rows, "k long, text string")
    s = {r["k"]: r["quality_score"] for r in score_quality(model, df).collect()}
    ks = sorted(s)
    assert all(s[a] < s[b] for a, b in zip(ks, ks[1:])), s


def test_null_text_scores_null_and_filter_drops_it(spark, model_and_data):
    model, _, _ = model_and_data
    df = spark.createDataFrame(
        [(1, "theorem analysis citation"), (2, None)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["quality_score"] for r in score_quality(model, df).collect()}
    assert got[2] is None
    assert got[1] is not None


def test_empty_corpus_raises(spark):
    df = spark.createDataFrame([("x",)], "text string")
    empty = spark.createDataFrame([], "text string")
    with pytest.raises(ValueError, match="non-empty"):
        train_quality_classifier(df, empty)


def test_save_load_roundtrip(spark, model_and_data, tmp_path):
    from pyspark.ml import PipelineModel

    model, pos, _ = model_and_data
    path = str(tmp_path / "qmodel")
    model.save(path)
    loaded = PipelineModel.load(path)
    df = pos.limit(5).withColumn("doc_id", F_lit1())
    a = [r["quality_score"] for r in score_quality(model, df).collect()]
    b = [r["quality_score"] for r in score_quality(loaded, df).collect()]
    assert a == b


def F_lit1():
    from pyspark.sql import functions as F

    return F.monotonically_increasing_id()
