"""Silver layer: batch twin of the streaming validation chains.

The per-entity wiring lives in ``operators.filters.SILVER_PIPELINES``
(read verbatim by the streaming pipelines in ``streaming.pipelines``);
this module runs it over a Bronze feed frame so the full Bronze→Silver
path is runnable — and oracle-comparable — as a batch job.  Streaming
parity tests pass ``synthetic_topic_feed(spark, n)``; the sv01-sv04
oracle entries read the committed ``FEED_FIXTURE`` parquet so DuckDB
sees the same bytes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from realtimechurnpredictiondataengineering_spark.operators.filters import (
    SILVER_PIPELINES,
    silver_frame,
)


FEED_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "topic_feed.parquet",
)


def silver_tables_from_feed(feed: DataFrame, deterministic: bool = False) -> dict[str, DataFrame]:
    """Bronze feed → four cleaned Silver frames (Silver1.py:34-131 shape,
    minus sinks), one per ``SILVER_PIPELINES`` entity.  Tickets use the
    producer's lower-case status domain so output is non-empty;
    ``operators.filters.validate_tickets`` preserves the reference's
    empty-set quirk for parity tests.  ``deterministic`` swaps the
    arbitrary-survivor dedups for the oracle-replayable first-by-order
    pick (batch only) — how the sv01-sv04 twins become value-checked
    against the materialized fixture."""
    return {e: silver_frame(feed, e, deterministic=deterministic) for e in SILVER_PIPELINES}

