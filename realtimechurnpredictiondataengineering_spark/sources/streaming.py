"""Streaming sources (SURVEY §2.1 S1/S2 + test substitutes).

The reference subscribes one Kafka consumer to four churn topics and
exposes ``(value, topic)`` to downstream demux (Bronze1.py:87-94,
Silver1.py:14-21).  This module keeps that exact contract but makes the
transport pluggable: ``kafka_stream`` on a cluster with the Kafka jars,
``file_stream``/``json_topic_stream`` in tests (same two columns, same
types), ``rate_stream`` for load generation.

Scale note: a Kafka scan parallelizes per topic-partition; the rate cap
(S2, Silver1.py:11) bounds per-trigger state so micro-batches stay
memory-sized no matter how far behind the consumer is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The streaming record contract every source in this module honours
#: (Bronze1.py:130 casts Kafka's binary ``value`` to string and keeps
#: ``topic`` for demultiplexing).
VALUE_TOPIC_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),
        T.StructField("topic", T.StringType()),
    ]
)


def kafka_stream(
    spark: SparkSession,
    topics: list[str] | str,
    brokers: str = "localhost:9092",
    starting_offsets: str = "latest",
    fail_on_data_loss: bool = False,
    max_offsets_per_trigger: int | None = 1000,
) -> DataFrame:
    """Kafka multi-topic streaming scan (S1/S2; Bronze1.py:87-94).

    Returns the ``(value: string, topic: string)`` contract.  Requires the
    spark-sql-kafka package on the classpath (not present in this
    container — exercised on a real cluster; tests use ``file_stream``).
    """
    if isinstance(topics, (list, tuple)):
        topics = ",".join(topics)
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        # Bounds per-trigger work (S2; Silver1.py:11 uses the legacy
        # per-partition rate knob; maxOffsetsPerTrigger is the global cap).
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load().selectExpr("CAST(value AS STRING) AS value", "topic")


def file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
) -> DataFrame:
    """File-source streaming scan — the test-harness stand-in for Kafka.
    Explicit schema is mandatory (streaming file sources do not infer)."""
    return spark.readStream.schema(schema).format(fmt).load(path)


def json_topic_stream(spark: SparkSession, path: str) -> DataFrame:
    """File stream of ``{"value": <json string>, "topic": <topic>}`` rows —
    byte-compatible with what ``kafka_stream`` returns, so every Bronze/
    Silver pipeline runs unchanged under test (SURVEY §2.1 S1 note).
    """
    return file_stream(spark, path, VALUE_TOPIC_SCHEMA, fmt="json")


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate source for load/soak tests (stands in for the reference's
    1 row/s/topic producer loop, Bronze1.py:54,75 — but distributed and
    backpressure-aware instead of a Python sleep loop)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


def rate_topic_stream(
    spark: SparkSession,
    rows_per_second: int = 1000,
    topics: tuple[str, ...] = ("events",),
) -> DataFrame:
    """Rate source shaped into the ``(value, topic)`` contract: a synthetic
    JSON payload round-robined across ``topics``.  Lets the full Bronze
    demux path (F1) run under load without Kafka."""
    n = len(topics)
    topic_col = F.element_at(
        F.array(*[F.lit(t) for t in topics]),
        (F.col("value") % n + 1).cast("int"),
    )
    payload = F.to_json(
        F.struct(
            F.col("value").alias("event_id"),
            F.col("timestamp").cast("string").alias("ts"),
        )
    )
    return (
        rate_stream(spark, rows_per_second)
        .select(payload.alias("value"), topic_col.alias("topic"))
    )
