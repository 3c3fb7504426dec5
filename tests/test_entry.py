"""Driver-contract smoke tests: entry(), queries()/oracle_sql() wiring,
generator determinism, flagship schema stability."""

import importlib.util
import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def entry_mod():
    spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(_ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark, entry_mod):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "customer_id" in df.columns and "churn_risk" in df.columns
    assert len(df.columns) == 15


def test_every_oracle_key_has_a_query(entry_mod):
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 50
    # the strong (SQL-checked) share of the inventory stays dominant
    assert len(o) / len(q) > 0.7


def test_all_queries_run_and_alias_columns(spark, entry_mod, sf_dir):
    # every query must at least build its plan and have a resolvable,
    # duplicate-free schema (driver sorts columns by name before hashing)
    for name, fn in entry_mod.queries().items():
        df = fn(spark, sf_dir)
        cols = [c.lower() for c in df.columns]
        assert len(cols) == len(set(cols)), f"{name} has duplicate column names"
        assert all("(" not in c for c in cols), f"{name} has unaliased computed columns: {cols}"


def test_generator_is_deterministic(spark):
    from realtimechurnpredictiondataengineering_spark.sources.generator import synthetic_topic_feed

    a = sorted(r["value"] for r in synthetic_topic_feed(spark, 50).collect())
    b = sorted(r["value"] for r in synthetic_topic_feed(spark, 50).collect())
    assert a == b
    assert len(a) >= 150  # 3 full topics + ~5% tickets


def test_silver_tables_shapes(spark):
    from realtimechurnpredictiondataengineering_spark.plans.silver import silver_tables_from_feed
    from realtimechurnpredictiondataengineering_spark.sources.generator import synthetic_topic_feed

    out = silver_tables_from_feed(synthetic_topic_feed(spark, 500))
    assert set(out) == {"profiles", "usage", "transactions", "tickets"}
    assert out["profiles"].count() > 0
    assert out["transactions"].count() > 0
