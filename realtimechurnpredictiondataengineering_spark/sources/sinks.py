"""Sinks (SURVEY §2.2 K1-K7).

Every sink helper takes an already-built DataFrame and only decides
*where/how* it lands — transformations stay pure and sink-free (SURVEY §7
design note, fixing Silver1.py's transform+sink coupling).

Delta/Kafka formats are gated: this container has neither on the
classpath, so helpers fall back to parquet/no-op in a clearly marked way
while keeping the real cluster path first.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from realtimechurnpredictiondataengineering_spark.sources.batch import delta_available


def keyed_json(df: DataFrame, key_col: str) -> DataFrame:
    """Kafka wire shape: ``key`` = id cast string, ``value`` = whole row as
    JSON (Silver1.py:45-46, Gold1.py:117).  Pure projection, reusable by
    both streaming (K2) and batch (K4) Kafka writes."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


# --- streaming sinks -------------------------------------------------------


def delta_stream_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Delta streaming append with a per-query checkpoint (K1;
    Bronze1.py:151-173) under ``Trigger.AvailableNow``, the idiomatic
    replacement for the reference's sleep-loop cadence (ST1;
    Gold1.py:144-146): drain everything available, then stop.  Falls back
    to parquet when Delta jars are absent — the checkpoint/exactly-once
    mechanics are identical; read it back with ``batch.delta_scan``."""
    return (
        df.writeStream.format("delta" if delta_available(df.sparkSession) else "parquet")
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start(path)
    )


def kafka_stream_sink(
    df: DataFrame,
    key_col: str,
    topic: str,
    checkpoint: str,
    brokers: str = "localhost:9092",
) -> StreamingQuery:
    """Kafka streaming sink with keyed-JSON payload (K2; Silver1.py:45-52).
    Requires Kafka jars — cluster-only; tests assert the projection shape
    via ``keyed_json`` instead."""
    return (
        keyed_json(df, key_col)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def console_sink(df: DataFrame, num_rows: int = 20) -> StreamingQuery:
    """Console debug sink (K5; DezbeiumPostgresCDC/Bronze.py:99-103)."""
    return (
        df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .outputMode("append")
        .start()
    )


def memory_sink(df: DataFrame, name: str, output_mode: str = "append") -> StreamingQuery:
    """In-memory table sink for tests; query results via
    ``spark.sql(f"SELECT * FROM {name}")``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_dual_sink(
    df: DataFrame,
    checkpoint: str,
    *sinks: Callable[[DataFrame, int], None],
) -> StreamingQuery:
    """One streaming query fanning out to N sinks per micro-batch.

    Fixes the reference's 2-consumers-per-entity shape (Silver1.py:45-52 +
    133-137 start two independent queries re-reading the topic; SURVEY
    §3.2): here the source is read ONCE, the micro-batch DataFrame is
    persisted, and each sink callback writes it.  At 100 TB/day ingest
    this halves source traffic and keeps the two sinks transactionally
    aligned per batch id.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def await_any_termination(spark: SparkSession, timeout_sec: float | None = None) -> bool | None:
    """Block on any of N concurrent streaming queries (K7; Bronze1.py:181).

    NB: PySpark's ``awaitAnyTermination`` takes SECONDS (it converts to
    the JVM's milliseconds itself) — passing milliseconds here would wait
    1000x too long."""
    if timeout_sec is None:
        return spark.streams.awaitAnyTermination()
    return spark.streams.awaitAnyTermination(timeout_sec)


# --- batch sinks -----------------------------------------------------------


def delta_batch_append(df: DataFrame, path: str) -> None:
    """Delta batch append with ``overwriteSchema`` (K3; Gold1.py:111-114).
    Parquet-append fallback without the Delta jars."""
    if delta_available(df.sparkSession):
        df.write.format("delta").mode("append").option("overwriteSchema", "true").save(path)
    else:
        df.write.mode("append").parquet(path)



def kafka_batch_write(
    df: DataFrame, key_col: str, topic: str, brokers: str = "localhost:9092"
) -> None:
    """Batch Kafka write of keyed JSON (K4; Gold1.py:117-123)."""
    (
        keyed_json(df, key_col)
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )


def to_pandas(df: DataFrame, max_rows: int | None = None) -> pd.DataFrame:
    """Arrow-backed driver collection (K6; Gold1.py:129-133).

    Deliberately guarded: collecting an unbounded frame to the driver is
    the classic scale killer, so callers must either cap rows or opt in
    explicitly with ``max_rows=None`` on a frame they know is small
    (e.g. an aggregate keyed by a low-cardinality column).
    """
    if max_rows is not None:
        df = df.limit(max_rows)
    return df.toPandas()
