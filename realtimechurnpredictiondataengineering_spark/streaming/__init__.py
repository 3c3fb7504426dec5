"""Structured Streaming pipelines (SURVEY §2.8 ST1-ST6) + the
``transformWithStateInPandas`` custom-stateful extension point."""

from realtimechurnpredictiondataengineering_spark.streaming import pipelines, stateful  # noqa: F401

__all__ = ["pipelines", "stateful"]
