"""Hierarchical rollup: partial-merge equivalence and single-scan shape."""

from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.operators import rollup


def _events(spark):
    rows = [
        (1, "2024-01-01 10:15:00", "click", 1.0),
        (2, "2024-01-01 10:45:00", "click", 3.0),
        (3, "2024-01-01 23:10:00", "view", 5.0),
        (4, "2024-01-02 00:05:00", "click", 7.0),
        (5, "2024-02-11 08:00:00", "view", -2.0),
    ]
    return spark.createDataFrame(rows, "event_id int, ts_s string, event_type string, value double").select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "event_type", "value"
    )


def test_merged_levels_equal_direct_aggregation(spark):
    e = _events(spark)
    levels = rollup.hierarchical_rollup(e)
    for grain in ("day", "month"):
        merged = {
            (r["bucket"], r["event_type"]): (r["n_events"], r["total_value"], r["min_value"], r["max_value"])
            for r in levels[grain].collect()
        }
        direct = {
            (r["bucket"], r["event_type"]): (r["n_events"], r["total_value"], r["min_value"], r["max_value"])
            for r in rollup.rollup_leaf(e, grain=grain).collect()
        }
        assert merged == direct


def test_rollup_counts_and_bounds(spark):
    day = rollup.hierarchical_rollup(_events(spark))["day"]
    r = {(str(x["bucket"]), x["event_type"]): x for x in day.collect()}
    jan1_click = r[("2024-01-01 00:00:00", "click")]
    assert jan1_click["n_events"] == 2 and jan1_click["total_value"] == 4.0
    assert jan1_click["min_value"] == 1.0 and jan1_click["max_value"] == 3.0
