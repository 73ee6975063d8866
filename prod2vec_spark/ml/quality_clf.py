"""Learned document-quality classifier (ENGINE scope) — the
fastText-style quality screen real LLM pipelines train on weak labels
(GPT-3's WebText-vs-CommonCrawl logistic classifier, Brown et al.
2020 appendix A; CCNet §3.3's alternative head).  The reference's ML
surface stops at the embedding estimator (model_train.py); this adds
the supervised screen the curation plane otherwise approximates with
hand-tuned heuristics (operators/text.quality_score).

Shape: row-local feature extraction (the heuristic signal columns,
never raw text) → MLlib LogisticRegression.  At 100 TB the feature
pass is one linear scan; MLlib LR is the distributed L-BFGS
implementation (per-iteration map-side gradient partials, coefficient
vector on the driver — same execution pattern as the KMeans note in
ml/clustering.py).  Scoring a new corpus is `model.transform`:
row-local against broadcast coefficients, zero shuffles.

Not SQL-expressible (iterative optimization) — pytest-certified
instead: a planted spam/clean corpus must separate with AUC ≥ 0.9 on
a held-out split (tests/test_llm_ops_r7.py), the L-QUALITY analog of
ann_recall's checked number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


FEATURE_COLS = [
    "n_tokens",
    "avg_token_len",
    "stopword_ratio",
    "symbol_ratio",
    "type_token_ratio",
    "top_bigram_frac",
    "dup_trigram_frac",
]


def doc_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, <FEATURE_COLS>): the heuristic quality + repetition
    signals as plain numeric columns — one row-local scan, arrays
    staged per the HOF-CSE rule.  Kept as columns (not a Vector) so
    the frame doubles as an inspectable feature table; assemble_vec
    turns it into MLlib input."""
    from prod2vec_spark.operators import repetition as RP
    from prod2vec_spark.operators import text as TX

    staged = (
        docs.withColumn("_toks", TX.tokens(F.col(text_col)))
        .withColumn("_g2", RP.word_ngrams(F.col("_toks"), 2))
        .withColumn("_g3", RP.word_ngrams(F.col("_toks"), 3))
    )
    f = TX.quality_features(F.col(text_col))
    return staged.select(
        "doc_id",
        f["n_tokens"].cast("double").alias("n_tokens"),
        f["avg_token_len"].alias("avg_token_len"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["symbol_ratio"].alias("symbol_ratio"),
        f["type_token_ratio"].alias("type_token_ratio"),
        RP.top_gram_fraction(F.col("_g2")).alias("top_bigram_frac"),
        RP.dup_gram_fraction(F.col("_g3")).alias("dup_trigram_frac"),
    )


def assemble_vec(features: DataFrame) -> DataFrame:
    """Attach the MLlib features Vector (handles the occasional NaN
    from degenerate docs by imputing 0 first — LR rejects NaN)."""
    from pyspark.ml.feature import VectorAssembler

    clean = features
    for c in FEATURE_COLS:
        clean = clean.withColumn(
            c,
            F.when(
                F.col(c).isNull() | F.isnan(F.col(c)), F.lit(0.0)
            ).otherwise(F.col(c)),
        )
    return VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features"
    ).transform(clean)


def fit_quality_classifier(
    labeled_docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    max_iter: int = 50,
    reg_param: float = 0.01,
):
    """Fit LR on (features(text), label): label 1 = keep-quality,
    0 = spam/boilerplate.  Returns the fitted LogisticRegressionModel
    (MLlib save/load gives it the model-sink/source plane for free)."""
    from pyspark.ml.classification import LogisticRegression

    data = assemble_vec(doc_features(labeled_docs, text_col=text_col)).join(
        labeled_docs.select("doc_id", label_col), "doc_id"
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol=label_col,
        maxIter=max_iter,
        regParam=reg_param,
    )
    model = lr.fit(data)
    # Drop the training summary, which nothing reads.  Spark's binary
    # LR summary keeps a non-transient SparkSession field and
    # model.transform's UDF captures the whole model, so every scoring
    # task would serialize the session — and once the session has run
    # an observe() its ObservationManager rides along and the task
    # fails with "Task not serializable".
    model._java_obj.setSummary(data.sparkSession._jvm.scala.Option.empty())
    return model


def score_quality(
    docs: DataFrame, model, text_col: str = "text"
) -> DataFrame:
    """(doc_id, quality_prob): P(keep) per document — row-local
    transform against broadcast coefficients, zero shuffles."""
    from pyspark.ml.functions import vector_to_array

    data = assemble_vec(doc_features(docs, text_col=text_col))
    return model.transform(data).select(
        "doc_id",
        F.round(
            vector_to_array(F.col("probability")).getItem(1), 6
        ).alias("quality_prob"),
    )
