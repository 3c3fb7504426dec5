"""Batch sources (SURVEY §2.1 S3) over the driver's parquet star schema.

The reference loads Delta snapshots for Gold (`Gold1.py:51-58`); here the
same role is a parquet scan. Scans stay declarative so Catalyst pushes
filters and prunes columns into the reader — callers must NOT ``select *``
then drop columns driver-side.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver's table inventory (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns whose parquet physical encoding varies by writer and must be
# normalized to a plain TIMESTAMP so downstream type contracts hold
# (e.g. unix_millis rejects TIMESTAMP_NTZ):
#  - TIMESTAMP(NANOS): Spark's reader does not support it natively; with
#    spark.sql.legacy.parquet.nanosAsLong=true (set by session.ENGINE_CONF/
#    tune_runtime) it arrives as long and is converted to micros timestamps
#    here.  Integer `div` — not `/` — because epoch-nanos exceed double's
#    2^53 exact-integer range.
#  - TIMESTAMP_NTZ (isAdjustedToUTC=false): cast to TIMESTAMP.  The session
#    timezone is pinned UTC (session.ENGINE_CONF), so the cast is an exact
#    relabeling, not a wall-clock shift.
NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Lazy parquet scan of one table; pushdown/pruning handled by Catalyst."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in NANO_TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view so ``spark.sql`` works alongside
    the DataFrame API (one logical plan either way)."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


_DELTA_AVAILABLE: bool | None = None


def delta_available(spark: SparkSession) -> bool:
    """Whether Delta Lake is on the JVM classpath — the one decision every
    Delta reader and writer here takes (``delta_scan``,
    ``sinks.delta_batch_append``, ``sinks.delta_stream_sink``).  Probed
    once per process: PySpark starts one JVM per Python process and its
    classpath does not change."""
    global _DELTA_AVAILABLE
    if _DELTA_AVAILABLE is None:
        try:
            spark._jvm.java.lang.Class.forName("io.delta.tables.DeltaTable")  # noqa: SLF001
            _DELTA_AVAILABLE = True
        except Py4JJavaError:  # wraps ClassNotFoundException
            _DELTA_AVAILABLE = False
    return _DELTA_AVAILABLE


def delta_scan(spark: SparkSession, path: str) -> DataFrame:
    """Delta batch scan (S3). Reads parquet ONLY when Delta is not on the
    classpath (``delta_available``).  With Delta present every error —
    corrupt log, bad path, a directory that is not a Delta table — raises,
    because silently reading a real Delta directory as raw parquet would
    ignore the transaction log and return deleted/uncommitted files."""
    if delta_available(spark):
        return spark.read.format("delta").load(path)
    return spark.read.parquet(path)


def read_format(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Generic batch reader for the interchange formats a pipeline meets
    in the wild (parquet / orc / csv / json / text).

    Schema discipline: pass an explicit DDL ``schema`` for csv/json in
    production — inference costs one extra full scan of the data and can
    drift between runs; the parameter is optional only for ad-hoc use.
    Column pruning + predicate pushdown apply to parquet/orc; csv/json
    get column pruning only (row-group stats don't exist), which is why
    landing zones should convert to a columnar format at ingest (K3).
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        options.setdefault("header", "true")
        options.setdefault("inferSchema", "true")
    return reader.options(**options).load(path)
