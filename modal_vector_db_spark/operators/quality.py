"""Trainable quality classifier (fastText-style): hashed unigram+bigram
features → logistic regression, trained on weak labels — the
production-shaped complement to the heuristic rule sets (C4 line rules,
Gopher document rules, bigram-LM perplexity in ``functions/text.py`` /
``operators/lm.py``).  The standard pretraining-data recipe (GPT-3,
LLaMA, CCNet): label a "high quality" exemplar corpus positive (wiki /
books / curated), the raw crawl negative, train a linear model over
hashed n-grams, keep documents scoring above a threshold (possibly
Pareto-sampled on the score).

Everything is JVM-side MLlib — RegexTokenizer → NGram → HashingTF →
LogisticRegression — so training is one distributed L-BFGS fit over the
hashed feature space and scoring is a codegen-friendly pipeline
transform with NO Python in the hot path (the same stance as the
heuristic rules).  Feature hashing keeps the model size fixed
(``num_features`` buckets) regardless of corpus vocabulary — the
property that lets the same pipeline train on 100 TB.

Scale notes: HashingTF is stateless (no vocabulary shuffle, unlike
CountVectorizer); the only shuffles are L-BFGS's treeAggregate rounds
(O(num_features) driver state, bounded by construction).  Class
imbalance between exemplar and crawl sizes is handled by per-class
weights rather than resampling the big side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _feature_pipeline(num_features: int):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, VectorAssembler

    tok = RegexTokenizer(
        inputCol="text", outputCol="_toks", pattern=r"\s+", toLowercase=True
    )
    big = NGram(n=2, inputCol="_toks", outputCol="_bigrams")
    tf1 = HashingTF(
        inputCol="_toks", outputCol="_f1", numFeatures=num_features, binary=True
    )
    tf2 = HashingTF(
        inputCol="_bigrams", outputCol="_f2", numFeatures=num_features, binary=True
    )
    asm = VectorAssembler(inputCols=["_f1", "_f2"], outputCol="_features")
    return Pipeline(stages=[tok, big, tf1, tf2, asm])


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    num_features: int = 1 << 18,
    max_iter: int = 50,
):
    """Fit the classifier from a positive exemplar corpus and a negative
    (raw-pool) corpus, both on their ``text`` column.  Returns a fitted ``PipelineModel`` (save/load via
    its own ``.save(path)`` / ``PipelineModel.load``).  Rows with NULL
    text are dropped from training (they cannot carry a label).

    Class imbalance (the exemplar set is typically orders of magnitude
    smaller than the crawl) is handled with per-class instance weights
    ``total/(2·class_count)`` — balanced effective loss without
    resampling the big side."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression

    pos = positive.select("text").filter(F.col("text").isNotNull())
    neg = negative.select("text").filter(F.col("text").isNotNull())
    n_pos, n_neg = pos.count(), neg.count()
    if n_pos == 0 or n_neg == 0:
        raise ValueError("both corpora must be non-empty to train")
    total = n_pos + n_neg
    labeled = pos.withColumn("_label", F.lit(1.0)).withColumn(
        "_w", F.lit(total / (2.0 * n_pos))
    ).unionByName(
        neg.withColumn("_label", F.lit(0.0)).withColumn(
            "_w", F.lit(total / (2.0 * n_neg))
        )
    )
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol="_label",
        weightCol="_w",
        regParam=1e-4,
        maxIter=int(max_iter),
        standardization=False,
    )
    pipe = Pipeline(stages=[_feature_pipeline(num_features), lr])
    return pipe.fit(labeled)


def score_quality(model, df: DataFrame) -> DataFrame:
    """Attach ``quality_score`` = P(high quality) of ``text`` to every row
    — NULL text rows score NULL (never silently 0.5).  Pure pipeline transform: tokenize /
    hash / dot-product, no Python workers."""
    from pyspark.ml.functions import vector_to_array

    src_cols = df.columns
    scorable = df.filter(F.col("text").isNotNull())
    scored = model.transform(scorable).select(
        *src_cols,
        vector_to_array(F.col("probability")).getItem(1).alias("quality_score"),
    )
    nulls = df.filter(F.col("text").isNull()).select(
        *src_cols, F.lit(None).cast("double").alias("quality_score")
    )
    return scored.unionByName(nulls)
