"""Model-based quality filtering with a REAL in-cluster fit.

The rule filters (``gopher_quality_flags``), heuristic scores
(``quality_score``) and the fixed-weight hashed classifier
(``hashed_linear_scores``) are the cheap first passes; web-scale
pipelines then train a lightweight classifier (fastText-style
hashed bag-of-words + logistic regression) on weak labels — "looks
like reference text" vs "looks like crawl noise" — and keep by
predicted probability. This module is that step on MLlib:
HashingTF features → LogisticRegression, fit distributed, scored
distributed.

Scale shape: the fit is the standard MLlib treeAggregate gradient
loop over the feature frame (partial gradients combine map-side);
scoring is one map-only transform with the coefficient vector
broadcast by MLlib. Nothing quadratic, no collect beyond the
coefficient vector itself.

Like the other iterative fits here (KMeans IVF centroids, FPGrowth),
the model is driver-held state and the correctness gate is
rows-only; units pin behavior on separable synthetic corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pos_api_pipeline_spark.llm.text import tokens


def _feature_frame(
    df: DataFrame, text_col: str, n_features: int
) -> DataFrame:
    """(original cols + features vector): lowercase whitespace tokens
    → HashingTF hashed counts. Map-only, codegen until the vector
    assembly."""
    from pyspark.ml.feature import HashingTF

    toked = df.withColumn(
        "_toks", F.transform(tokens(text_col), lambda t: F.lower(t))
    )
    tf = HashingTF(
        inputCol="_toks", outputCol="features", numFeatures=n_features
    )
    return tf.transform(toked).drop("_toks")


def train_quality_model(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_features: int = 1024,
    max_iter: int = 20,
    reg_param: float = 0.01,
):
    """Fit a hashed bag-of-words logistic regression on ``label_col``
    (0/1). Returns the fitted LogisticRegressionModel — driver-held
    model state, like a KMeans or FPGrowth fit."""
    from pyspark.ml.classification import LogisticRegression

    feats = _feature_frame(df, text_col, n_features).withColumn(
        "label", F.col(label_col).cast("double")
    )
    lr = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, featuresCol="features",
        labelCol="label",
    )
    model = lr.fit(feats)
    # Drop the training summary, which nothing here reads. Spark 4.1's
    # binary summary holds the SparkSession, and ``transform`` ships
    # the model, summary included, to its tasks. A session that has
    # run an ``Observation`` (every daily tick does) holds an
    # ObservationManager that does not serialize, so scoring would
    # fail with "Task not serializable".
    model._java_obj.setSummary(df.sparkSession._jvm.scala.Option.empty())
    return model


def model_quality_scores(
    df: DataFrame,
    model,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Score every document with a trained model: (id, probability of
    the positive class, keep). One map-only pass; MLlib broadcasts
    the coefficients."""
    from pyspark.ml.functions import vector_to_array

    n_features = model.numFeatures
    feats = _feature_frame(df, text_col, n_features)
    scored = model.transform(feats)
    prob = vector_to_array("probability").getItem(1)
    return scored.select(
        F.col(id_col),
        prob.alias("p_positive"),
        (prob >= F.lit(threshold)).alias("keep"),
    )


def weakly_supervised_quality_filter(
    df: DataFrame,
    positive_label,
    label_source_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1024,
) -> DataFrame:
    """The whole weak-supervision loop in one call: label rows by a
    cheap proxy (e.g. lang == 'en' — the CCNet trick of using a
    trusted subset as positives), fit, score EVERY row. Returns
    (id, label_used, p_positive, keep)."""
    labeled = df.withColumn(
        "_y", (F.col(label_source_col) == F.lit(positive_label)).cast("int")
    )
    model = train_quality_model(
        labeled, "_y", text_col=text_col, n_features=n_features
    )
    return (
        model_quality_scores(labeled, model, text_col, id_col)
        .join(labeled.select(id_col, F.col("_y").alias("label_used")), id_col)
        .select(id_col, "label_used", "p_positive", "keep")
    )
