"""Local replica of the driver's DuckDB-oracle correctness gate.

For every inventory entry with oracle SQL: run the Spark query and the
DuckDB SQL on the same sf dir, then compare row count, column names, and
an order-insensitive canonicalized value multiset.  Queries without SQL
get a rows-only check (runs, returns >= 0 rows, stable schema).

Used by tests/test_oracle_parity.py and runnable directly:
    python tests/oracle_harness.py [sf_dir]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys

import duckdb

from realtimechurnpredictiondataengineering_spark.plans.inventory import REGISTRY
from realtimechurnpredictiondataengineering_spark.sources.batch import TABLES


def _canon_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        # collapse -0.0 / 0.0 and float32 noise already rounded upstream
        return round(v, 9) + 0.0
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return v


def _canon_rows(rows, col_order):
    out = [tuple(_canon_cell(row[i]) for i in col_order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return out


def compare_query(spark, con, name: str, sf_dir: str) -> tuple[bool, str]:
    fn, sql = REGISTRY[name]
    if callable(sql):  # lazily-built twin (mirrors inventory.oracle_sql)
        sql = sql()
    sdf = fn(spark, sf_dir)
    spark_cols = [c.lower() for c in sdf.columns]
    spark_rows = [tuple(r) for r in sdf.collect()]

    if sql is None:
        return True, f"rows-only: {len(spark_rows)} rows, cols={spark_cols}"

    res = con.execute(sql)
    duck_cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    return compare_fetched(spark_cols, spark_rows, duck_cols, duck_rows)


def compare_fetched(spark_cols, spark_rows, duck_cols, duck_rows) -> tuple[bool, str]:
    """The comparison half of ``compare_query``, on already-fetched rows —
    callers that fetched for their own purposes (tools/selfcheck_window.py's
    canonicalization probe) avoid executing both sides twice."""
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count: spark={len(spark_rows)} duck={len(duck_rows)}"

    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_canon = _canon_rows(spark_rows, s_order)
    d_canon = _canon_rows(duck_rows, d_order)
    if s_canon != d_canon:
        diffs = [i for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b][:3]
        detail = "; ".join(f"row{i}: spark={s_canon[i]} duck={d_canon[i]}" for i in diffs)
        return False, f"value mismatch ({detail})"
    return True, f"match: {len(spark_rows)} rows"


def _duckdb_config() -> dict:
    """DuckDB runs in the same process and on the same box as the Spark
    driver JVM, so it is bounded instead of taking its defaults (80 % of
    RAM, all hardware threads, spill into ``.tmp/`` under the working
    directory): a quarter of RAM (the driver heap's own share, see
    ``session._local_driver_memory``), one thread per usable core, and
    no spill.  A twin over the limit fails with DuckDB's out-of-memory
    error.  Spill stays off because its cap (``max_temp_directory_size``)
    is not enforced by the DuckDB in use: the t19 twin's old
    cross-product plan (since rewritten), let spill, filled 20 GB of
    free disk in 25 s at sf0.001."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return {
        "memory_limit": f"{max(1024, ram // 4 // 1024**2)}MiB",
        "threads": len(os.sched_getaffinity(0)),
        "temp_directory": "",
    }


def run_all(spark, sf_dir: str, names=None) -> dict[str, tuple[bool, str]]:
    from realtimechurnpredictiondataengineering_spark.cache import release_caches

    results = {}
    with duckdb.connect(config=_duckdb_config()) as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name in names or REGISTRY:
            try:
                results[name] = compare_query(spark, con, name, sf_dir)
            except Exception as exc:  # noqa: BLE001 - harness reports, not raises
                results[name] = (False, f"EXCEPTION: {type(exc).__name__}: {exc}")
            finally:
                release_caches()  # query-private caches die with their query
    return results


if __name__ == "__main__":
    from realtimechurnpredictiondataengineering_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    spark = get_spark(app_name="oracle-harness", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    res = run_all(spark, sf, names)
    n_bad = 0
    for name, (ok, msg) in res.items():
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}")
        n_bad += 0 if ok else 1
    print(f"\n{len(res) - n_bad}/{len(res)} passed")
    sys.exit(1 if n_bad else 0)
