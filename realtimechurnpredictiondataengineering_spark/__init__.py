"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference churn feature-engineering pipeline
(NatarajRaj/RealtimeChurnPredictionDataEngineering), re-expressed Spark-first.

Layout
------
- ``session``    : tuned SparkSession builder (SURVEY §2.8 ST7 config surface)
- ``sources``    : batch + streaming readers and sinks (S1-S5, K1-K7)
- ``functions``  : scalar/text/vector column expressions (P4-P15 + north star)
- ``operators``  : relational + dedup + similarity operators (F/A/J + §2.10)
- ``plans``      : composed pipelines (bronze parse, silver validate, gold
                   enrichment) and the driver-facing query inventory
- ``streaming``  : Structured Streaming pipelines (watermark dedup,
                   foreachBatch dual sink, windowed counts)

All transformations are pure DataFrame -> DataFrame functions, sink-free,
so each is unit-testable and composable (SURVEY §7 design note).
"""

from realtimechurnpredictiondataengineering_spark.session import get_spark, session_builder

__all__ = ["get_spark", "session_builder"]

__version__ = "0.1.0"
