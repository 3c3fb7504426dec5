"""Sink + source-utility tests (SURVEY §2.2 K3-K7, §2.1 S2/S4 edges).

Kafka itself is not on this container's classpath; the Kafka-bound sinks
are exercised up to their pure projection (``keyed_json``) and their
format gating, which is the part that is ours — the transport is Spark's.
"""

import json
import time

import pytest
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.sources import batch as batch_src
from realtimechurnpredictiondataengineering_spark.sources import sinks
from realtimechurnpredictiondataengineering_spark.sources.streaming import rate_topic_stream


def test_delta_batch_append_appends(spark, tmp_path):
    out = str(tmp_path / "gold")
    df = spark.range(10).select("id", (F.col("id") * 2).alias("v"))
    sinks.delta_batch_append(df, out)
    sinks.delta_batch_append(df, out)
    assert spark.read.parquet(out).count() == 20  # parquet fallback, appended


def test_delta_stream_sink_checkpointed_exactly_once(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    spark.range(5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    q = sinks.delta_stream_sink(stream, out, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5
    # same checkpoint -> restart reprocesses nothing (K1 exactly-once)
    q2 = sinks.delta_stream_sink(spark.readStream.schema("id long").parquet(src), out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5


def test_keyed_json_wire_shape_roundtrips(spark):
    df = spark.createDataFrame([(7, "a", 1.5)], "customer_id int, name string, v double")
    wire = sinks.keyed_json(df, "customer_id").collect()[0]
    assert wire["key"] == "7"
    assert json.loads(wire["value"]) == {"customer_id": 7, "name": "a", "v": 1.5}


def test_kafka_sinks_fail_cleanly_without_jars(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id int, name string")
    with pytest.raises(Exception, match="(?i)kafka|data.?source"):
        sinks.kafka_batch_write(df, "id", "t")


def test_to_pandas_arrow_and_row_cap(spark):
    pdf = sinks.to_pandas(spark.range(100).select("id"), max_rows=7)
    assert len(pdf) == 7
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def test_console_sink_drains(spark, tmp_path, capfd):
    src = str(tmp_path / "c")
    spark.range(3).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    q = sinks.console_sink(stream)
    q.processAllAvailable()
    q.stop()
    # console output is produced by the JVM; reaching a processed batch
    # without error is the contract under test here
    assert q.lastProgress is not None


def test_rate_topic_stream_contract(spark):
    stream = rate_topic_stream(spark, rows_per_second=200, topics=("t_a", "t_b"))
    q = stream.writeStream.format("memory").queryName("rate_wire").outputMode("append").start()
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql("SELECT * FROM rate_wire").count() >= 4:
            break
        time.sleep(0.5)
    q.stop()
    rows = spark.sql("SELECT * FROM rate_wire").collect()
    assert len(rows) >= 4
    assert {r["topic"] for r in rows} == {"t_a", "t_b"}
    payload = json.loads(rows[0]["value"])
    assert set(payload) == {"event_id", "ts"}


def test_delta_scan_parquet_fallback_and_error(spark, tmp_path):
    p = str(tmp_path / "tbl")
    spark.range(4).write.parquet(p)
    assert batch_src.delta_scan(spark, p).count() == 4
    with pytest.raises(Exception, match="(?i)path|exist"):
        batch_src.delta_scan(spark, str(tmp_path / "missing")).count()


def test_delta_scan_does_not_fall_back_when_delta_is_present(spark, tmp_path, monkeypatch):
    # with Delta on the classpath a plain parquet directory is not a Delta
    # table: reading it as parquet would bypass the transaction log
    p = str(tmp_path / "plain")
    spark.range(4).write.parquet(p)
    monkeypatch.setattr(batch_src, "delta_available", lambda _spark: True)
    with pytest.raises(Exception, match="(?i)delta"):
        batch_src.delta_scan(spark, p).count()


def test_await_any_termination_returns_on_timeout(spark, tmp_path):
    spark.streams.resetTerminated()
    stream = rate_topic_stream(spark, rows_per_second=10)
    q = stream.writeStream.format("memory").queryName("await_t").outputMode("append").start()
    t0 = time.time()
    sinks.await_any_termination(spark, timeout_sec=1.0)
    assert time.time() - t0 < 30  # returned by timeout, not blocked forever
    q.stop()



def test_read_format_roundtrip_csv_json(spark, tmp_path):
    from realtimechurnpredictiondataengineering_spark.sources import batch as b

    src = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    csv_p, json_p = str(tmp_path / "c"), str(tmp_path / "j")
    src.write.option("header", "true").csv(csv_p)
    src.write.json(json_p)
    got_csv = b.read_format(spark, csv_p, "csv", schema="id int, s string", header="true")
    got_json = b.read_format(spark, json_p, "json", schema="id int, s string")
    assert sorted((r["id"], r["s"]) for r in got_csv.collect()) == [(1, "a"), (2, "b")]
    assert sorted((r["id"], r["s"]) for r in got_json.collect()) == [(1, "a"), (2, "b")]
