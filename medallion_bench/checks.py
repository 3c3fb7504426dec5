"""Output checks, run after the timed region.

- Silver: per entity, table and wire row counts equal the batch twin
  ``silver_tables_from_feed`` over the same landed files.  Dedup row
  counts do not depend on which duplicate survives, so counts are exact.
- Gold: the last cycle's snapshot and scores equal the DuckDB twins of
  ``q00_flagship_churn_features`` and ``ml01_churn_scores``.
- Corpus: the output equals the DuckDB twin of ``ll06_refinedweb_pipeline``.

Row comparison is ``tests/oracle_harness.compare_fetched`` — the same
canonicalisation as the repository's oracle-parity gate.
"""

from __future__ import annotations

import hashlib
import os
import pickle

import duckdb

from oracle_harness import compare_fetched
from realtimechurnpredictiondataengineering_spark.plans.inventory import REGISTRY
from realtimechurnpredictiondataengineering_spark.plans.silver import silver_tables_from_feed
from realtimechurnpredictiondataengineering_spark.sources.streaming import VALUE_TOPIC_SCHEMA


def check_silver(spark, silver, ledger) -> dict[str, dict[str, int]]:
    """Returns entity -> {twin, table, wire} row counts."""
    # cached: the four twins each read the whole landed feed
    feed = spark.read.schema(VALUE_TOPIC_SCHEMA).json(silver.land_dir).cache()
    twins = silver_tables_from_feed(feed)
    counts = {}
    for entity, twin in twins.items():
        base = os.path.join(silver.out_dir, entity)
        c = {
            "twin": twin.count(),
            "table": spark.read.parquet(os.path.join(base, "table")).count(),
            "wire": spark.read.parquet(os.path.join(base, "wire")).count(),
        }
        counts[entity] = c
        ledger.check(
            c["twin"] == c["table"] == c["wire"],
            f"silver {entity}: twin={c['twin']} table={c['table']} wire={c['wire']}",
        )
    feed.unpersist()
    return counts


def _oracle_sql(name: str) -> str:
    sql = REGISTRY[name][1]
    return sql() if callable(sql) else sql


class Oracle:
    """DuckDB over the benchmark's read-only tables.  Twin results are
    cached under ``cache_dir`` keyed by the SQL text and the table bytes,
    because the corpus twin costs over a minute and its inputs never
    change between runs."""

    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        self.sf_dir, self.cache_dir = sf_dir, cache_dir
        self.con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                t = f[: -len(".parquet")]
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
                )

    def _key(self, sql: str) -> str:
        h = hashlib.sha256(sql.encode())
        for f in sorted(os.listdir(self.sf_dir)):
            with open(os.path.join(self.sf_dir, f), "rb") as fh:
                h.update(f.encode())
                h.update(fh.read())
        return h.hexdigest()[:24]

    def rows(self, name: str) -> tuple[list[str], list[tuple]]:
        sql = _oracle_sql(name)
        path = os.path.join(self.cache_dir, f"{name}-{self._key(sql)}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        res = self.con.execute(sql)
        out = ([d[0].lower() for d in res.description], res.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(out, fh)
        os.replace(tmp, path)
        return out


def check_frame(ledger, oracle: Oracle, name: str, columns: list[str], rows: list[tuple]) -> None:
    duck_cols, duck_rows = oracle.rows(name)
    ok, msg = compare_fetched([c.lower() for c in columns], rows, duck_cols, duck_rows)
    ledger.check(ok, f"{name}: {msg}")


def check_gold(spark, gold, cycle_id: str, ledger, oracle: Oracle) -> None:
    for name, path in (
        ("q00_flagship_churn_features", gold.snapshot_path(cycle_id)),
        ("ml01_churn_scores", gold.scores_path(cycle_id)),
    ):
        df = spark.read.parquet(path)
        check_frame(ledger, oracle, name, df.columns, [tuple(r) for r in df.collect()])
