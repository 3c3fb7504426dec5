"""End-to-end medallion run: the reference's MainProcess topology as one
orchestrated pipeline (MainProcess.py:10-18 spawns producer + Bronze as
processes and Silver/Gold as subprocesses; Gold then polls on a 60 s
sleep loop, Gold1.py:144-146).

Here the same Bronze → Silver → Gold flow is a single driver program:

1. producer  — the deterministic generator feed written as the Kafka
   stand-in file topic (same ``(value, topic)`` wire contract);
2. Bronze→Silver — one streaming query per entity with a ``foreachBatch``
   dual sink (table + keyed-JSON wire), ``Trigger.AvailableNow``,
   per-entity checkpoints — rerunnable on any cadence, exactly-once into
   the table sink;
3. Gold — churn features over the Silver profile/transaction outputs,
   appended to the feature table and returned as a DataFrame (the
   Kafka/pandas hand-offs are the caller's choice of sink).

Everything is restart-safe: rerunning with the same ``workdir`` drains
only new data (checkpoints) and appends only new batches.

``gold_report_frames`` is the working version of the reference's dead
``gold_dataframes`` hand-off (Gold1.py:127-141 defines it after the
writes and never calls it; GoldDataVisualiztion1.py:9-14 would KeyError)
— bounded pandas frames for a plotting/dashboard layer.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.plans.gold import DEFAULT_AS_OF, churn_features
from realtimechurnpredictiondataengineering_spark.sources.generator import synthetic_topic_feed
from realtimechurnpredictiondataengineering_spark.sources.sinks import to_pandas
from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
    SILVER_PIPELINES,
    run_silver_dual_sink,
)


def run_medallion(
    spark: SparkSession,
    workdir: str,
    sf_dir: str,
    n_per_topic: int = 500,
    entities: tuple[str, ...] = ("profiles", "transactions"),
) -> DataFrame:
    """Producer → Bronze/Silver streams → Gold features, end to end.

    ``entities`` is any subset of ``SILVER_PIPELINES``; pass
    ``tuple(SILVER_PIPELINES)`` for the full Silver1.py surface.
    Returns the Gold feature DataFrame (also appended under
    ``{workdir}/gold``).  Uses the driver star schema for the Gold joins
    (SURVEY §7 step 1 mapping) and the generator feed for the streaming
    legs, mirroring the reference's two data planes.

    Rerun semantics: the feed is generated once (a rerun reuses the
    existing directory — regenerating would write new part filenames
    that the checkpointed file source rightly treats as new data), so a
    rerun's AvailableNow drain finds nothing new and is a cheap no-op.
    Row-level idempotence additionally rests on the streams' stateful
    dedup (``operators.filters.silver_dedup``), faithful to the
    reference's Silver design (Silver1.py:41) — NOT on checkpoints alone.
    """
    unknown = set(entities) - SILVER_PIPELINES.keys()
    if unknown:  # before any query starts, so none is left running
        raise KeyError(f"unknown Silver entities: {sorted(unknown)}")
    feed = f"{workdir}/feed"
    if not os.path.isdir(feed):
        synthetic_topic_feed(spark, n_per_topic).coalesce(2).write.mode("overwrite").json(feed)

    queries = [
        run_silver_dual_sink(
            spark, entity, feed, f"{workdir}/silver/{entity}", f"{workdir}/ckpt/{entity}"
        )
        for entity in entities
    ]
    for q in queries:  # AvailableNow: drain-and-stop, not run-forever
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "silver stream did not drain within 300s; gold would be "
                "computed over an incomplete silver layer"
            )

    gold = churn_features(spark, sf_dir, as_of=DEFAULT_AS_OF)
    gold.write.mode("append").parquet(f"{workdir}/gold")
    return gold


#: the four per-customer hand-off frames and their columns, in order
_REPORT_FRAMES: dict[str, list[str]] = {
    "app_usage_features": ["customer_id", "days_since_last_login", "sessions"],
    "revenue_features": ["customer_id", "total_revenue", "n_orders", "arpu"],
    "decline_features": ["customer_id", "total_declined", "avg_declined"],
    "support_features": ["customer_id", "avg_ticket_sentiment"],
}


def gold_report_frames(gold: DataFrame, max_rows: int = 10_000) -> dict[str, pd.DataFrame]:
    """The five visualization hand-off frames (Gold1.py:129-133 shape),
    Arrow-collected with a row cap — the viz layer's inputs.  The four
    per-customer frames are column slices of ONE capped collect, so they
    hold the same customers by construction; ``churn_flags`` aggregates
    every row."""
    cols = list(dict.fromkeys(c for frame in _REPORT_FRAMES.values() for c in frame))
    wide = to_pandas(gold.select(*cols), max_rows)
    return {
        **{name: wide[frame] for name, frame in _REPORT_FRAMES.items()},
        "churn_flags": to_pandas(
            gold.groupBy("segment").agg(
                F.count("*").alias("n"), F.sum("churn_risk").alias("n_at_risk")
            ),
            max_rows,
        ),
    }

