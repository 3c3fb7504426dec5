"""MLlib churn pipeline tests: training recovers the rule surface, the
compiled expression reproduces model.transform, frozen MODEL_V1 still
ranks like a fresh model, and streaming scoring equals batch scoring."""

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtimechurnpredictiondataengineering_spark import ml
from realtimechurnpredictiondataengineering_spark.plans.gold import churn_features


@pytest.fixture(scope="module")
def feats(spark, sf_dir):
    return churn_features(spark, sf_dir).persist()


@pytest.fixture(scope="module")
def model(feats):
    return ml.train_churn_model(feats)


def test_training_separates_the_rule_label(model):
    # churn_risk is a deterministic rule of the model's own inputs, so a
    # converged linear model must separate it (AUC ~ 1); anything less
    # means the pipeline wiring (nulls, casts, assembly) is broken
    assert model.stages[-1].summary.areaUnderROC > 0.99


def test_compiled_expression_matches_model_transform(spark, feats, model):
    # serving never calls MLlib: the literal-weighted logit expression
    # must reproduce model.transform's rawPrediction to float precision
    prepped = feats.select(
        "customer_id",
        F.col("churn_risk").cast("double").alias("churn_risk"),
        *ml.feature_columns(),
    )
    transformed = model.transform(prepped)
    logit_udf_side = {
        r["customer_id"]: float(r["rawPrediction"][1]) for r in transformed.collect()
    }
    expr_side = {
        r["customer_id"]: r["z"]
        for r in feats.select(
            "customer_id", ml.model_to_expression(model).alias("z")
        ).collect()
    }
    assert expr_side.keys() == logit_udf_side.keys()
    for k, z in expr_side.items():
        assert abs(z - logit_udf_side[k]) < 1e-9


def test_frozen_model_ranks_like_a_fresh_one(feats):
    # MODEL_V1 cannot silently rot: the frozen coefficients must still
    # order every churned customer above every retained one (AUC 1 on
    # the rule label), same as a fresh training run
    scored = ml.churn_scores(
        feats, ml.MODEL_V1["coefficients"], ml.MODEL_V1["intercept"]
    ).join(feats.select("customer_id", "churn_risk"), "customer_id")
    rows = scored.select("churn_logit", "churn_risk").collect()
    pos = sorted(r["churn_logit"] for r in rows if r["churn_risk"] == 1)
    neg = sorted(r["churn_logit"] for r in rows if r["churn_risk"] == 0)
    assert pos and neg
    assert pos[0] > neg[-1], "frozen model no longer separates the rule label"


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").persist()


def test_doc_quality_training_separates_the_rule_label(docs):
    # the quality gate is a deterministic rule of the model's own text
    # features, so a converged linear model must separate it (AUC ~ 1)
    model = ml.train_doc_quality_model(docs)
    assert model.stages[-1].summary.areaUnderROC > 0.99


def test_frozen_doc_quality_model_separates_the_gate(docs):
    # DOC_QUALITY_V1 cannot silently rot: the frozen coefficients must
    # still put every passing document's logit above every failing one
    from realtimechurnpredictiondataengineering_spark.functions.text import quality_score

    scored = ml.doc_quality_scores(
        docs, ml.DOC_QUALITY_V1["coefficients"], ml.DOC_QUALITY_V1["intercept"]
    ).join(docs.select("doc_id", (quality_score("text") >= 0.75).alias("label")), "doc_id")
    rows = scored.select("quality_logit", "label").collect()
    pos = sorted(r["quality_logit"] for r in rows if r["label"])
    neg = sorted(r["quality_logit"] for r in rows if not r["label"])
    assert pos and neg
    assert pos[0] > neg[-1], "frozen quality model no longer separates the gate"


def test_streaming_scores_equal_batch(spark, feats, tmp_path):
    # the compiled expression is a stateless projection, so it must run
    # unchanged on a stream and emit EXACTLY the batch scores
    from realtimechurnpredictiondataengineering_spark.sources.sinks import memory_sink
    from realtimechurnpredictiondataengineering_spark.sources.streaming import file_stream

    cols = ["customer_id", *ml.FEATURES]
    src = str(tmp_path / "featstream")
    batch_in = feats.select(*cols)
    batch_in.coalesce(2).write.mode("overwrite").json(src)
    schema = T.StructType(
        [T.StructField("customer_id", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in ml.FEATURES]
    )
    stream = file_stream(spark, src, schema)
    q = memory_sink(
        ml.churn_scores(stream, ml.MODEL_V1["coefficients"], ml.MODEL_V1["intercept"]),
        "ml_stream_scores",
    )
    q.awaitTermination(120)
    streamed = {
        r["customer_id"]: (r["churn_logit"], r["churn_pred"], r["churn_prob"])
        for r in spark.sql("SELECT * FROM ml_stream_scores").collect()
    }
    batch = {
        r["customer_id"]: (r["churn_logit"], r["churn_pred"], r["churn_prob"])
        for r in ml.churn_scores(
            batch_in, ml.MODEL_V1["coefficients"], ml.MODEL_V1["intercept"]
        ).collect()
    }
    assert streamed == batch
