"""Structured Streaming pipelines (SURVEY §2.8 ST1-ST6)."""

from realtimechurnpredictiondataengineering_spark.streaming import pipelines  # noqa: F401

__all__ = ["pipelines"]
