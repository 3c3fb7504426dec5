"""Sources and sinks (SURVEY §2.1 S1-S5, §2.2 K1-K7).

Batch readers over the driver's parquet tables, streaming readers with a
Kafka/file-source swap (the reference reads Kafka, tests read file streams
with the same ``(value, topic)`` contract), and sink helpers. Kafka and
Delta are gated behind availability checks — the classpath here has
neither; the code paths are real and the formats plug in on a cluster.
"""

from realtimechurnpredictiondataengineering_spark.sources.batch import (
    TABLES,
    delta_available,
    delta_scan,
    load_table,
    read_format,
    register_views,
)
from realtimechurnpredictiondataengineering_spark.sources.generator import synthetic_topic_feed
from realtimechurnpredictiondataengineering_spark.sources.sinks import (
    await_any_termination,
    console_sink,
    delta_batch_append,
    delta_stream_sink,
    foreach_batch_dual_sink,
    kafka_batch_write,
    kafka_stream_sink,
    keyed_json,
    memory_sink,
    to_pandas,
)
from realtimechurnpredictiondataengineering_spark.sources.streaming import (
    file_stream,
    json_topic_stream,
    kafka_stream,
    rate_stream,
    rate_topic_stream,
)

__all__ = [
    "TABLES",
    "delta_available",
    "delta_scan",
    "load_table",
    "read_format",
    "register_views",
    "synthetic_topic_feed",
    "file_stream",
    "json_topic_stream",
    "kafka_stream",
    "rate_stream",
    "rate_topic_stream",
    "await_any_termination",
    "console_sink",
    "delta_batch_append",
    "delta_stream_sink",
    "foreach_batch_dual_sink",
    "kafka_batch_write",
    "kafka_stream_sink",
    "keyed_json",
    "memory_sink",
    "to_pandas",
]
