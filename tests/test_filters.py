"""Silver validation chain tests on in-memory edge rows (SURVEY §5.3):
nulls, dupes, regex hits, the case-sensitive isin quirk, null-keyed dedup.
"""

from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.operators import filters


def _silver_rows(df, entity):
    """An entity's Silver row rules then its dedup, on parsed rows."""
    return filters.silver_dedup(filters.SILVER_PIPELINES[entity].rows(df), entity)


def test_demux_routes_by_topic(spark):
    df = spark.createDataFrame(
        [("a", "t1"), ("b", "t2"), ("c", "t1")], "value string, topic string"
    )
    assert filters.demux(df, "t1").count() == 2


def test_parse_topic_malformed_json_yields_nulls(spark):
    df = spark.createDataFrame(
        [('{"customer_id": "1", "age": 5}', "t"), ("not json", "t")],
        "value string, topic string",
    )
    out = filters.parse_topic(df, "t", filters.PROFILE_SCHEMA).collect()
    assert len(out) == 2
    parsed = {r["customer_id"] for r in out}
    assert parsed == {"1", None}


def test_validate_profiles_chain(spark):
    rows = [
        # survives
        ("1", "alice", "alice@x.com", 30, "Female", "NY", "2020-01-01"),
        # null email → dropped (F4)
        ("2", "bob", None, 30, "Male", "NY", "2020-01-01"),
        # age 0 → dropped (F3)
        ("3", "carol", "c@x.com", 0, "Female", "NY", "2020-01-01"),
        # bad gender → dropped (F5)
        ("4", "dan", "d@x.com", 30, "other", "NY", "2020-01-01"),
        # test email → dropped (F6)
        ("5", "eve", "eve@test.com", 30, "Female", "NY", "2020-01-01"),
        # dummy name → dropped (F7)
        ("6", "dummy6", "f@x.com", 30, "Male", "NY", "2020-01-01"),
        # duplicate key → one survives (F8)
        ("1", "alice2", "alice2@x.com", 31, "Female", "NY", "2020-01-01"),
    ]
    df = spark.createDataFrame(rows, filters.PROFILE_SCHEMA)
    out = _silver_rows(df, "profiles")
    assert out.count() == 1
    row = out.collect()[0]
    assert row["customer_id"] == "1"
    assert str(row["signup_date"]) == "2020-01-01"  # P5 string→date


def test_validate_tickets_case_sensitive_isin_quirk(spark):
    # Reference quirk (Silver1.py:119 vs Bronze1.py:62): producer emits
    # lower-case, filter checks capitalized → empty set. Preserved.
    rows = [("t1", "1", "open", "slow", None), ("t2", "2", "closed", "bug", None)]
    df = spark.createDataFrame(rows, filters.TICKET_SCHEMA)
    assert filters.validate_tickets(df).count() == 0
    assert filters.validate_tickets_with_domain(df, ("open", "closed")).count() == 2


def test_validate_usage_null_keyed_dedup(spark):
    # event_time is always null (declared but never sent) → dedup key
    # (customer_id, null) collapses to one row per customer (Silver1.py:67).
    rows = [("1", 5, None, None), ("1", 9, None, None), ("2", 3, None, None)]
    df = spark.createDataFrame(rows, filters.USAGE_SCHEMA)
    assert _silver_rows(df, "usage").count() == 2


def test_validate_transactions_positive_value(spark):
    rows = [
        ("1", "purchase", 10.0, None),
        ("1", "purchase", -5.0, None),
        ("1", "purchase", None, None),
    ]
    df = spark.createDataFrame(rows, filters.TRANSACTION_SCHEMA)
    out = _silver_rows(df, "transactions")
    assert out.count() == 1
    assert out.collect()[0]["value"] == 10.0


def test_not_contains_and_not_rlike_null_semantics(spark):
    # SQL three-valued logic: a null column makes ~contains(...) null,
    # and filter(null) drops the row — documented engine behavior.
    df = spark.createDataFrame([("a@x.com",), (None,)], "email string")
    assert df.filter(filters.not_contains("email", "test")).count() == 1


def test_quarantine_splits_and_tags_first_failure(spark):
    from realtimechurnpredictiondataengineering_spark.operators.filters import quarantine

    df = spark.createDataFrame(
        [(1, 5.0, "click"), (2, -1.0, "click"), (3, 5.0, "bogus"), (4, None, "bogus")],
        "id int, v double, t string",
    )
    valid, invalid = quarantine(
        df, {"positive": F.col("v") > 0, "known": F.col("t") == "click"}
    )
    assert [r["id"] for r in valid.collect()] == [1]
    got = {r["id"]: r["reason"] for r in invalid.collect()}
    # first failing rule wins; null predicate counts as failure
    assert got == {2: "positive", 3: "known", 4: "positive"}
    assert "reason" in invalid.columns and "reason" not in valid.columns
