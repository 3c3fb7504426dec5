"""Churn-model training and expression-compiled scoring.

The north-star approach names "Structured Streaming + MLlib for
real-time scoring".  The reference repo itself serves no model (its
"sentiment model" is hash arithmetic, SURVEY §2.9); this module adds the
missing ML leg the way a 100 TB deployment actually wants it:

- **Training** is an MLlib pipeline (``train_churn_model``): assemble →
  logistic regression over the Gold feature frame.  Runs offline, on a
  sample or the full frame — training cost is not the serving path.
- **Serving compiles the model to a Column expression**
  (``score_expression`` / ``model_to_expression``): the logit is a
  literal-weighted sum, pure Catalyst — it scores at scan speed inside
  whole-stage codegen, streams through Structured Streaming unchanged
  (`streaming scoring == batch scoring` is pytest-pinned), broadcasts
  nothing, and needs neither Python nor MLlib at serve time.  This is
  the standard trick for linear models at scale: `model.transform`
  drags a JVM UDF + vector assembly through the plan, while the
  compiled expression is just arithmetic (equivalence is pytest-pinned
  to 1e-9 against ``model.transform``).

``MODEL_V1`` freezes one offline training run (seed 7, sf0.01 Gold
features, the rule-flag ``churn_risk`` as label) so the scoring surface
is deterministic and oracle-checkable; ``tests/test_ml.py`` retrains
the pipeline and asserts the frozen expression still ranks like the
fresh model (AUC parity), so the constants cannot silently rot.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.functions.scalar import snap

#: Committed Gold feature snapshot (tools/gen_fixtures.py) — the ml02
#: streaming-scoring entry streams it; the DuckDB oracle replays it.
#: A directory (one stable file inside): the file streaming source
#: requires a directory base path, and a real feature feed lands as a
#: directory of files anyway.
GOLD_FEATURES_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures",
    "gold_features",
)

#: Feature columns of the Gold churn frame used by the model, in
#: training order.  NULL-coalescing mirrors plans.gold.churn_features'
#: rule flag: an absent activity row means "never logged in" (999 days).
FEATURES: tuple[str, ...] = (
    "acctbal",
    "total_revenue",
    "n_orders",
    "days_since_last_login",
    "sessions",
    "arpu",
)

_NULL_DEFAULTS = {"days_since_last_login": 999}


def feature_columns() -> list[Column]:
    """The model's input columns with deterministic NULL handling, in
    FEATURES order — shared by training, the compiled scorer and the
    importance report."""
    return [
        F.coalesce(F.col(c), F.lit(_NULL_DEFAULTS.get(c, 0))).cast("double").alias(c)
        for c in FEATURES
    ]


def train_churn_model(features_df: DataFrame, label_col: str = "churn_risk", seed: int = 7):
    """Fit the MLlib churn pipeline: VectorAssembler → LogisticRegression
    (L2, standardization on — coefficients come back in original feature
    space, so the compiled expression needs no scaler constants).
    Returns the fitted PipelineModel."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    prepped = features_df.select(
        F.col(label_col).cast("double").alias(label_col), *feature_columns()
    )
    asm = VectorAssembler(inputCols=list(FEATURES), outputCol="__features")
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol=label_col,
        maxIter=100,
        regParam=1e-3,
        standardization=True,
    )
    return Pipeline(stages=[asm, lr]).fit(prepped)


def score_expression(coefficients: dict[str, float], intercept: float) -> Column:
    """The model compiled to a logit Column over the raw feature columns:
    ``intercept + Σ coef[c] * coalesce(c, default)`` — literal-weighted
    arithmetic, left-associated in FEATURES order so an oracle spelling
    the same sum reproduces it bit-for-bit."""
    z: Column = F.lit(float(intercept))
    for c, x in zip(FEATURES, feature_columns()):
        z = z + F.lit(float(coefficients[c])) * x
    return z


def model_to_expression(model) -> Column:
    """Compile a fitted ``train_churn_model`` pipeline to its logit
    expression (serving never touches MLlib)."""
    lr_model = model.stages[-1]
    coefs = dict(zip(FEATURES, (float(v) for v in lr_model.coefficients)))
    return score_expression(coefs, float(lr_model.intercept))


def churn_scores(
    features_df: DataFrame,
    coefficients: dict[str, float],
    intercept: float,
    id_col: str = "customer_id",
) -> DataFrame:
    """Batch/streaming scoring surface: (id, churn_logit, churn_pred,
    churn_prob).  The logit is snapped to the 1e-6 grid BEFORE the
    sigmoid so the probability's round(.., 4) sits on a deterministic
    input on every engine (the adc_dot fixed-point-grid argument); the
    prediction thresholds the exact logit at 0.  Works unchanged on a
    streaming DataFrame — pure stateless projection."""
    z = snap(score_expression(coefficients, intercept), 6)
    return features_df.select(
        F.col(id_col),
        z.alias("churn_logit"),
        (z > 0).cast("int").alias("churn_pred"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("churn_prob"),
    )


#: Feature-frame wire schema of the scoring stream (``customer_id`` +
#: FEATURES, all numeric) — the contract a Gold feature snapshot or a
#: feature-store CDC feed publishes for the real-time scoring leg.
def feature_stream_schema():
    from pyspark.sql import types as T

    native = {
        "n_orders": T.LongType(),
        "days_since_last_login": T.IntegerType(),
        "sessions": T.LongType(),
    }
    return T.StructType(
        [T.StructField("customer_id", T.LongType())]
        + [T.StructField(c, native.get(c, T.DoubleType())) for c in FEATURES]
    )


def streaming_churn_scores(
    spark,
    features_path: str,
    coefficients: dict[str, float],
    intercept: float,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The north star's real-time scoring leg end-to-end: a file-stream
    of Gold feature rows (the test stand-in for the Kafka/Delta feature
    feed — same contract, ``sources/streaming.py`` S1 note) → the
    compiled ``churn_scores`` projection → ``AvailableNow`` append sink
    with a checkpoint (K1 exactly-once mechanics).  Drains everything
    available, then returns the materialized scores.

    Scale note: the scoring stage is a stateless literal-weighted
    projection — no watermark, no state store, no shuffle; each
    micro-batch scores inside whole-stage codegen, so throughput is
    bounded by source/sink IO alone.  A continuous deployment swaps the
    trigger and the sink path; the plan is identical.
    """
    from realtimechurnpredictiondataengineering_spark.sources.batch import delta_scan
    from realtimechurnpredictiondataengineering_spark.sources.sinks import delta_stream_sink
    from realtimechurnpredictiondataengineering_spark.sources.streaming import file_stream

    stream = file_stream(spark, features_path, feature_stream_schema(), fmt="parquet")
    scored = churn_scores(stream, coefficients, intercept)
    q = delta_stream_sink(scored, out_dir, checkpoint_dir)
    q.awaitTermination()
    return delta_scan(spark, out_dir)


def streaming_doc_quality_scores(
    spark,
    docs_path: str,
    coefficients: dict[str, float],
    intercept: float,
    out_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """The model-based quality filter on a live document feed — the
    crawl-ingest twin of ``doc_quality_scores`` (the
    ``streaming_churn_scores`` mechanics verbatim): a file-stream of
    (doc_id, text) rows → the compiled classifier projection →
    ``AvailableNow`` append sink with a checkpoint.  Stateless — no
    watermark, no state store; each micro-batch scores inside
    whole-stage codegen, so a crawl frontier can gate documents at
    ingest time instead of re-scanning the corpus later.  Drains
    everything available, then returns the materialized scores."""
    from pyspark.sql import types as T

    from realtimechurnpredictiondataengineering_spark.sources.batch import delta_scan
    from realtimechurnpredictiondataengineering_spark.sources.sinks import delta_stream_sink
    from realtimechurnpredictiondataengineering_spark.sources.streaming import file_stream

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = file_stream(spark, docs_path, schema, fmt="parquet")
    scored = doc_quality_scores(stream, coefficients, intercept)
    q = delta_stream_sink(scored, out_dir, checkpoint_dir)
    q.awaitTermination()
    return delta_scan(spark, out_dir)


#: Frozen offline training run: seed 7, sf0.01 Gold features,
#: label = the rule flag (training AUC 1.0 — the rule is linearly
#: separable in its own inputs, which is the point: the pipeline
#: demonstrably recovers the decision surface).  Regenerate with
#: tools/train_churn.py.
MODEL_V1: dict = {
    "coefficients": {
        "acctbal": -1.002853025877033e-06,
        "total_revenue": -1.2724021457871086e-07,
        "n_orders": -0.020833026993487727,
        "days_since_last_login": 0.005821276475838661,
        "sessions": -0.07914041263768765,
        "arpu": 8.101316924406307e-07,
    },
    "intercept": 0.27631253894986507,
}


#: Document-quality classifier features, in training order — all
#: engine-deterministic text expressions with existing DuckDB twins
#: (functions/text.py; SQL fragments in plans/inventory.py).
DOC_FEATURES: tuple[str, ...] = (
    "n_chars",
    "n_tokens",
    "punct_ratio",
    "stopword_ratio",
    "mean_word_len",
)


def doc_feature_columns(text_col: str = "text") -> list[Column]:
    """The quality model's input columns — raw (unrounded) doubles;
    every expression is IEEE-identical in DuckDB, which is what lets a
    literal-weighted sum over them replay bit-for-bit cross-engine."""
    from realtimechurnpredictiondataengineering_spark.functions.text import (
        mean_word_length,
        punct_ratio,
        stopword_ratio,
        token_count,
    )

    return [
        F.length(text_col).cast("double").alias("n_chars"),
        token_count(text_col).cast("double").alias("n_tokens"),
        punct_ratio(text_col).alias("punct_ratio"),
        stopword_ratio(text_col).alias("stopword_ratio"),
        mean_word_length(text_col).alias("mean_word_len"),
    ]


def train_doc_quality_model(docs: DataFrame, text_col: str = "text", seed: int = 7):
    """Fit the model-based quality filter (the DCLM/FineWeb-Edu leg):
    VectorAssembler → LogisticRegression over the text features, with
    the heuristic quality gate (``quality_score >= 0.75``) as the
    training label — the same doctrine as ``MODEL_V1``: the label is a
    rule the pipeline can already compute, so the test suite can verify
    the classifier demonstrably recovers a known decision surface; a
    production run swaps in human/LLM labels and NOTHING else changes.
    Returns the fitted PipelineModel."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    from realtimechurnpredictiondataengineering_spark.functions.text import quality_score

    prepped = docs.select(
        (quality_score(text_col) >= 0.75).cast("double").alias("label"),
        *doc_feature_columns(text_col),
    )
    asm = VectorAssembler(inputCols=list(DOC_FEATURES), outputCol="__features")
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol="label",
        maxIter=100,
        regParam=1e-3,
        standardization=True,
    )
    return Pipeline(stages=[asm, lr]).fit(prepped)


def doc_quality_expression(coefficients: dict[str, float], intercept: float,
                           text_col: str = "text") -> Column:
    """The quality model compiled to a logit Column — literal-weighted
    sum over the text feature expressions, left-associated in
    DOC_FEATURES order (the ``score_expression`` discipline)."""
    feats = dict(zip(DOC_FEATURES, doc_feature_columns(text_col)))
    z: Column = F.lit(float(intercept))
    for c in DOC_FEATURES:
        z = z + F.lit(float(coefficients[c])) * feats[c]
    return z


def doc_quality_scores(
    docs: DataFrame,
    coefficients: dict[str, float],
    intercept: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Model-based quality filtering at corpus scale: score every
    document with the compiled classifier — zero Python, zero MLlib at
    serve time, the whole projection runs inside whole-stage codegen on
    the one text scan (the modern replacement for threshold heuristics:
    DCLM/FineWeb-Edu rank and cut by a learned quality model).  The
    logit snaps to the 1e-6 grid before the sigmoid (``churn_scores``
    discipline); ``keep`` thresholds the logit at 0.  Returns
    (id, quality_logit, quality_prob, keep)."""
    z = snap(doc_quality_expression(coefficients, intercept, text_col), 6)
    return docs.select(
        F.col(id_col),
        z.alias("quality_logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("quality_prob"),
        (z > 0).cast("int").alias("keep"),
    )


#: Frozen offline training run of the document-quality classifier
#: (seed 7, sf0.01 documents, label = quality_score >= 0.75; training
#: AUC 1.0 — the rule is linearly separable in its own inputs, which is
#: the point: the pipeline demonstrably recovers the decision surface).
#: Regenerate with tools/train_quality.py.
DOC_QUALITY_V1: dict = {
    "coefficients": {
        "n_chars": 0.015029440122572596,
        "n_tokens": 0.08144981448435942,
        "punct_ratio": 0.0,
        "stopword_ratio": 118.96865426460678,
        "mean_word_len": -1.8439797849969064,
    },
    "intercept": 2.3767967997364874,
}


def calibration_report(
    df: DataFrame,
    prob_col: str = "churn_prob",
    label_col: str = "churn_risk",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram data for a scored frame — THE model-monitoring
    report for a probabilistic classifier in production: per fixed-width
    probability bin, how many rows landed there, what the model said on
    average, and what actually happened.  A calibrated model tracks the
    diagonal (``mean_prob ≈ label_rate``); divergence localized to a bin
    shows WHERE the model lies, and the paired prof04/prof05 PSI reports
    say whether the inputs drifted to cause it.

    One aggregation over the scored frame: bin = ``floor(p·n_bins)``
    clamped to the top bin (p = 1.0 belongs in [0.9, 1.0]), then a
    single groupBy with count/avg — output is ``n_bins`` rows, so
    everything after the scan is negligible at any scale, and the
    scored frame itself never materializes (the scoring projection
    fuses into the aggregate's scan).  NULL probabilities are excluded;
    means round to 4 on the 1e-4 prob grid ``churn_scores`` guarantees.
    Returns (bin, n, mean_prob, label_rate) for non-empty bins.
    """
    b = F.least(
        F.greatest(F.floor(F.col(prob_col) * n_bins), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    return (
        df.filter(F.col(prob_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("int").alias("n"),
            F.round(F.avg(prob_col), 4).alias("mean_prob"),
            F.round(F.avg(F.col(label_col).cast("double")), 4).alias("label_rate"),
        )
    )


def feature_importance(
    features_df: DataFrame,
    coefficients: dict[str, float],
) -> DataFrame:
    """Linear-model feature importance: |coefficient| × population
    standard deviation of the feature THE MODEL ACTUALLY SEES (after the
    NULL-coalescing defaults) — the standardized-coefficient view that
    makes weights on differently-scaled features comparable, and the
    first report anyone asks for when a score moves ("which feature is
    driving it?").  Pairs with the monitoring set: prof04/prof05 say the
    INPUTS drifted, ml03 says the calibration broke, this says which
    lever is big enough to matter.

    One keyless aggregate over the feature scan computes every stddev
    map-side (7 columns, one row), then the wide row unpivots via
    ``stack`` against the coefficient literals — output is one row per
    feature at any corpus size.  ``stddev_samp`` on both engines;
    everything rounds to 6 via ``snap`` (a coefficient like
    total_revenue's -1.27e-07 rounds to -0.0 in DuckDB but +0.0 in
    Spark; snap normalizes both to +0.0 so bitwise hashes agree).
    Returns (feature, coef, std, importance) with
    importance = snap(|coef| · std, 6).
    """
    aggs = [
        F.stddev_samp(x).alias(f"__s_{c}") for c, x in zip(FEATURES, feature_columns())
    ]
    wide = features_df.agg(*aggs)
    pairs = ", ".join(f"'{c}', __s_{c}" for c in FEATURES)
    unpivoted = wide.selectExpr(f"stack({len(FEATURES)}, {pairs}) AS (feature, __std)")
    coef = F.lit(None).cast("double")
    for c in FEATURES:
        coef = F.when(F.col("feature") == c, F.lit(float(coefficients[c]))).otherwise(coef)
    return unpivoted.select(
        "feature",
        snap(coef, 6).alias("coef"),
        snap("__std", 6).alias("std"),
        snap(F.abs(coef) * F.col("__std"), 6).alias("importance"),
    )
