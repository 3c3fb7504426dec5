"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The actual inventory lives in
``realtimechurnpredictiondataengineering_spark.plans.inventory``; this
module is pure glue.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from realtimechurnpredictiondataengineering_spark.plans import inventory
from realtimechurnpredictiondataengineering_spark.plans.gold import churn_features
from realtimechurnpredictiondataengineering_spark.session import tune_runtime


def entry(spark: SparkSession) -> DataFrame:
    """Flagship churn feature enrichment on sf0.001 (SURVEY §7 step 1)."""
    tune_runtime(spark)
    return churn_features(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return inventory.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query in ``queries()``."""
    return inventory.oracle_sql()
