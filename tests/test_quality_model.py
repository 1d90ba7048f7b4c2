"""MLlib logistic-regression quality classifier units."""

from __future__ import annotations


def test_model_separates_synthetic_classes(spark):
    from pos_api_pipeline_spark.llm.quality_model import (
        model_quality_scores,
        train_quality_model,
    )

    rows = [
        (
            i,
            "good clean prose text here" if i % 2 else "spam junk zzz qqq",
            i % 2,
        )
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = train_quality_model(df, "y")
    out = model_quality_scores(df, model).collect()
    assert all((r.p_positive >= 0.5) == (r.doc_id % 2 == 1) for r in out)
    assert all(r.keep == (r.p_positive >= 0.5) for r in out)


def test_weak_supervision_scores_every_row(spark):
    from pos_api_pipeline_spark.llm.quality_model import (
        weakly_supervised_quality_filter,
    )

    rows = [
        (i, "alpha beta gamma" if i < 30 else "uno dos tres",
         "en" if i < 30 else "es")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = weakly_supervised_quality_filter(df, "en").collect()
    assert len(out) == 60
    pos = [r.p_positive for r in out if r.label_used == 1]
    neg = [r.p_positive for r in out if r.label_used == 0]
    # fully separable vocabularies → near-perfect separation
    assert min(pos) > 0.9 and max(neg) < 0.1


def test_scoring_works_in_a_session_that_ran_an_observation(spark):
    # A daily tick observes its lake write; Spark 4.1's ObservationManager
    # then makes the session unserializable, which a model carrying its
    # training summary drags into every scoring task.
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pos_api_pipeline_spark.llm.quality_model import (
        model_quality_scores,
        train_quality_model,
    )

    seen = Observation()
    spark.range(3).observe(seen, F.count(F.lit(1)).alias("n")).collect()
    assert seen.get == {"n": 3}
    rows = [(i, "clean prose" if i % 2 else "spam junk", i % 2) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    out = model_quality_scores(df, train_quality_model(df, "y")).collect()
    assert len(out) == 20
