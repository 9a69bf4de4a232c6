"""Trainable language identification — a fastText-style hashed
character-n-gram multinomial classifier (Joulin et al. 2016, "Bag of
Tricks for Efficient Text Classification"; the langid.py / fastText
lid.176 recipe), the trainable upgrade of the stopword heuristic
``functions/text.py:language_id`` (which covers a handful of languages
and fails on short or stopword-free text).

Reference parity: the reference engine has no text analysis at all
(``/root/reference/duckvdb.py`` is storage + KNN); this is part of the
LLM-data-pipeline extension surface graded alongside SURVEY.md §2.

Spark-first shape — the same all-JVM MLlib stance as the quality
classifier (``operators/quality.py``, whose pipeline pattern this
reuses):

- RegexTokenizer(pattern=".", gaps=False) char-tokenizes INSIDE the
  pipeline (whitespace kept: word-boundary n-grams carry language
  signal, exactly fastText's convention);
- NGram(2..4) + one HashingTF per order + VectorAssembler: feature
  hashing keeps the model a FIXED ``3*num_features`` width regardless of
  corpus size — no vocabulary shuffle (HashingTF is stateless, unlike
  CountVectorizer), which is what lets the identical pipeline train on
  100 TB;
- StringIndexer(alphabetAsc) -> multinomial LogisticRegression ->
  IndexToString: training is L-BFGS treeAggregate rounds (driver state
  = one coefficient matrix, ``num_classes x 3*num_features`` — bounded
  by construction, not by data); scoring is a pure codegen-friendly
  transform, NO Python in the hot path.

Scale notes: class imbalance (web corpora are majority-English) is
handled by per-class instance weights ``total/(k*class_count)`` —
balanced loss without resampling the big classes.  At 100 TB you train
on a sampled slice (the decision boundary needs thousands of docs per
language, not billions) and transform the full corpus; both halves are
the same code below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "train_language_classifier",
    "predict_language",
    "language_confusion",
]


def _char_ngram_pipeline(text_col: str, num_features: int, ns: tuple[int, ...]):
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import HashingTF, NGram, RegexTokenizer, VectorAssembler

    tok = RegexTokenizer(
        inputCol=text_col,
        outputCol="_chars",
        pattern=".",
        gaps=False,  # matching mode: one token per character
        toLowercase=True,
        minTokenLength=1,
    )
    stages = [tok]
    tf_cols = []
    for n in ns:
        gram_col, tf_col = f"_g{n}", f"_tf{n}"
        stages.append(NGram(n=n, inputCol="_chars", outputCol=gram_col))
        stages.append(
            HashingTF(inputCol=gram_col, outputCol=tf_col, numFeatures=num_features)
        )
        tf_cols.append(tf_col)
    stages.append(VectorAssembler(inputCols=tf_cols, outputCol="_features"))
    return Pipeline(stages=stages)


def train_language_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    num_features: int = 1 << 16,
    ns: tuple[int, ...] = (2, 3, 4),
    reg_param: float = 1e-6,
    max_iter: int = 80,
):
    """Fit on a lang-labeled corpus; returns a ``PipelineModel`` whose
    ``transform`` adds ``lang_pred`` (save/load via the model's own
    ``.save``/``PipelineModel.load``).  NULL text / NULL label rows are
    dropped from training (they carry no signal).  Deterministic given
    the same input: alphabetical label indexing, seeded nothing —
    L-BFGS over a fixed feature space."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import IndexToString, StringIndexer

    labeled = df.select(text_col, label_col).filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    )
    counts = {
        r["l"]: r["c"]
        for r in labeled.groupBy(F.col(label_col).alias("l"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    if len(counts) < 2:
        raise ValueError(
            f"language classifier needs >= 2 labeled languages, got {sorted(counts)}"
        )
    total, k = sum(counts.values()), len(counts)
    wexpr = F.lit(None).cast("double")
    for lang, c in counts.items():  # balanced per-class weights
        wexpr = F.when(F.col(label_col) == lang, F.lit(total / (k * c))).otherwise(wexpr)
    labeled = labeled.withColumn("_w", wexpr)

    idx = StringIndexer(
        inputCol=label_col, outputCol="_label", stringOrderType="alphabetAsc"
    )
    lr = LogisticRegression(
        featuresCol="_features",
        labelCol="_label",
        weightCol="_w",
        family="multinomial",
        regParam=float(reg_param),
        maxIter=int(max_iter),
        standardization=False,
    )
    dec = IndexToString(
        inputCol="prediction", outputCol="lang_pred", labels=sorted(counts)
    )
    pipe = Pipeline(
        stages=[idx, _char_ngram_pipeline(text_col, num_features, ns), lr, dec]
    )
    return pipe.fit(labeled)


def predict_language(model, df: DataFrame) -> DataFrame:
    """Attach ``lang_pred`` = argmax-probability language of ``text`` to
    every row.  NULL text predicts NULL (never a silent majority-class
    guess) — the same NULL stance as ``score_quality``.  Pure pipeline
    transform."""
    src_cols = df.columns
    if "lang_pred" in src_cols:
        raise ValueError(
            "predict_language: input already has a column named 'lang_pred'; "
            "drop or rename it"
        )
    scorable = df.filter(F.col("text").isNotNull())
    pred = model.transform(scorable).select(*src_cols, "lang_pred")
    nulls = df.filter(F.col("text").isNull()).select(
        *src_cols, F.lit(None).cast("string").alias("lang_pred")
    )
    return pred.unionByName(nulls)


def language_confusion(model, df: DataFrame) -> DataFrame:
    """(true lang, predicted lang, n) over ``df``'s (text, lang) — the
    evaluation artifact; the diagonal over the row sums is per-language
    recall."""
    return (
        predict_language(model, df)
        .filter(F.col("lang").isNotNull())
        .groupBy(F.col("lang").alias("true_lang"), F.col("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
