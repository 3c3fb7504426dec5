"""Bronze demux + Silver validation chains (SURVEY §2.3 P1-P3, §2.4 F1-F8).

The reference couples these transformations to sinks inside its streaming
jobs (Silver1.py:34-43,62-67,86-91,115-120); here each is a pure
DataFrame→DataFrame function, so the same code path serves batch tests,
the DuckDB oracle, and Structured Streaming (all operators below are
streaming-safe: stateless projections/filters plus one stateful dedup).
``SILVER_PIPELINES`` wires them per entity and ``silver_dedup`` is the one
place the dedup policy is applied.

Semantics preserved bug-for-bug where the reference's behavior is
observable (SURVEY §7 hard-parts list):
- F5 `isin` is case-sensitive — the reference filters ticket statuses
  against capitalized literals while the producer emits lower-case
  (Silver1.py:119 vs Bronze1.py:62), selecting the empty set.
- F8 dedup keys may be null-heavy — app_usage dedups on
  (customer_id, event_time) where event_time is never populated
  (Silver1.py:67), collapsing to one row per customer.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtimechurnpredictiondataengineering_spark.functions.scalar import to_date_col
from realtimechurnpredictiondataengineering_spark.sources.generator import STATUSES, TOPICS

# Explicit stream schemas (Bronze1.py:97-128, Silver1.py:24-32,55-60,
# 79-84,103-113).  No inference — every stream parses against a declared
# StructType; mismatched fields become nulls (exercised by the reference:
# app_usage's event_time is declared but never sent).
PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("gender", T.StringType()),
        T.StructField("location", T.StringType()),
        T.StructField("signup_date", T.StringType()),
    ]
)

USAGE_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType()),
        T.StructField("sessions_last_30d", T.IntegerType()),
        T.StructField("last_login", T.TimestampType()),
        T.StructField("event_time", T.TimestampType()),  # declared, never sent
    ]
)

TRANSACTION_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_time", T.TimestampType()),
    ]
)

TICKET_SCHEMA = T.StructType(
    [
        T.StructField("ticket_id", T.StringType()),
        T.StructField("customer_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("issue", T.StringType()),
        T.StructField("resolution_time", T.StringType()),
    ]
)


def demux(df: DataFrame, topic: str) -> DataFrame:
    """F1 — route one multiplexed ``(value, topic)`` stream to a single
    topic's records (Bronze1.py:132-146).  A plain filter over whatever
    frame it is given: it does not share a scan between entities.  Each
    Silver streaming query (``streaming.pipelines.silver_stream``) has its
    own file source, so a drain of the four entities lists and reads the
    landing directory four times, one per query."""
    return df.filter(F.col("topic") == topic)


def parse_topic(df: DataFrame, topic: str, schema: T.StructType) -> DataFrame:
    """P1+P2+P3 — cast value to string, parse JSON against the explicit
    schema, flatten the struct (Bronze1.py:130-134)."""
    return (
        demux(df, topic)
        .select(F.from_json(F.col("value").cast("string"), schema).alias("data"))
        .select("data.*")
    )


def not_contains(col: str, needle: str) -> Column:
    """F6 — negated substring (Silver1.py:42)."""
    return ~F.col(col).contains(needle)


def not_rlike(col: str, pattern: str) -> Column:
    """F7 — negated regex (Silver1.py:43)."""
    return ~F.col(col).rlike(pattern)


def dedup_first_by(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Deterministic ``dropDuplicates``: per key group, keep the row that
    sorts FIRST by ``order_cols`` (asc, nulls first — matching DuckDB's
    explicit ``NULLS FIRST``).  ``dropDuplicates`` keeps an arbitrary
    row, which is fine in a streaming state store but value-uncheckable
    against an oracle; when the full row set is distinct within each key
    group (true for the generator fixtures) this pick is total.  Batch
    only — ``row_number`` windows are not streaming-safe."""
    w = Window.partitionBy(*keys).orderBy(*[F.asc_nulls_first(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _ticket_rows(df: DataFrame, statuses: tuple[str, ...]) -> DataFrame:
    """Silver1.py:118-119 with an explicit (case-sensitive, F5) status domain."""
    return df.dropna(subset=["ticket_id", "customer_id"]).filter(F.col("status").isin(*statuses))


class SilverPipeline(NamedTuple):
    """One entity's Bronze->Silver wiring (Silver1.py:34-131).  ``rows`` is
    the validation chain minus dedup, a DataFrame chain so the plan is the
    reference's exact filter sequence; ``keys`` are the dedup keys (F8;
    the first is also the Kafka wire key); ``order`` is the survivor order
    of the deterministic (oracle) dedup pick."""

    topic: str
    schema: T.StructType
    rows: Callable[[DataFrame], DataFrame]
    keys: tuple[str, ...]
    order: tuple[str, ...]


#: entity -> wiring.  The only place that knows an entity's topic, schema,
#: predicates, dedup keys and survivor order: the streaming queries, the
#: batch twin and the validators all read it.
SILVER_PIPELINES: dict[str, SilverPipeline] = {
    # Silver1.py:37-43: typed signup_date, key-null drop, positive age,
    # closed gender domain, test-account scrubbing by substring+regex
    "profiles": SilverPipeline(
        TOPICS[0],
        PROFILE_SCHEMA,
        lambda df: (
            df.withColumn("signup_date", to_date_col("signup_date"))
            .dropna(subset=["customer_id", "email"])
            .filter(F.col("age") > 0)
            .filter(F.col("gender").isin("Male", "Female", "Other"))
            .filter(not_contains("email", "test"))
            .filter(not_rlike("name", "test|dummy|xyz"))
        ),
        ("customer_id",),
        ("name", "email", "age", "gender", "location", "signup_date"),
    ),
    # Silver1.py:65-67; the key's event_time is never populated, verbatim:
    # nulls compare equal in dropDuplicates, so one row per customer
    "usage": SilverPipeline(
        TOPICS[1],
        USAGE_SCHEMA,
        lambda df: df.dropna(subset=["customer_id"]).filter(F.col("sessions_last_30d") >= 0),
        ("customer_id", "event_time"),
        ("sessions_last_30d", "last_login"),
    ),
    # Silver1.py:89-91
    "transactions": SilverPipeline(
        TOPICS[2],
        TRANSACTION_SCHEMA,
        lambda df: df.dropna(subset=["customer_id", "value"]).filter(F.col("value") > 0),
        ("customer_id", "event_time"),
        ("event_type", "value"),
    ),
    # the producer's own lower-case status domain, so Silver output is
    # non-empty; ``validate_tickets`` keeps the reference's capitalized one
    "tickets": SilverPipeline(
        TOPICS[3],
        TICKET_SCHEMA,
        lambda df: _ticket_rows(df, STATUSES),
        ("ticket_id",),
        ("customer_id", "status", "issue", "resolution_time"),
    ),
}


def silver_dedup(
    df: DataFrame, entity: str, deterministic: bool = False, event_time: str | None = None
) -> DataFrame:
    """The Silver dedup policy on the entity's keys; no other Silver path
    dedups.  Default (streaming and batch): ``dropDuplicates``, the
    reference's unwatermarked state store (Silver1.py:41).
    ``deterministic`` (batch only): ``dedup_first_by`` the entity's
    survivor order, for the oracle.  ``event_time`` (streaming, ST3):
    ``withWatermark`` + ``dropDuplicatesWithinWatermark`` INSTEAD of the
    unbounded dedup — a key is remembered for 10 minutes, not forever."""
    p = SILVER_PIPELINES[entity]
    keys = list(p.keys)
    if event_time is not None:
        return df.withWatermark(event_time, "10 minutes").dropDuplicatesWithinWatermark(keys)
    if deterministic:
        return dedup_first_by(df, keys, list(p.order))
    return df.dropDuplicates(keys)


def silver_frame(
    raw: DataFrame, entity: str, deterministic: bool = False, dedup_event_time: str | None = None
) -> DataFrame:
    """Bronze ``(value, topic)`` frame -> one cleaned Silver entity, batch
    or streaming alike: parse the entity's topic, its rows, its dedup."""
    p = SILVER_PIPELINES[entity]
    rows = p.rows(parse_topic(raw, p.topic, p.schema))
    return silver_dedup(rows, entity, deterministic, dedup_event_time)


def validate_tickets(df: DataFrame) -> DataFrame:
    """Silver ticket cleaning (Silver1.py:118-120).  The capitalized
    status domain vs the producer's lower-case emission (Bronze1.py:62)
    is the reference's observable behavior: all rows filtered.  Kept
    verbatim; pass ``statuses`` in the generic variant below to fix."""
    return validate_tickets_with_domain(df, ("Open", "In Progress", "Resolved", "Closed"))


def validate_tickets_with_domain(df: DataFrame, statuses: tuple[str, ...]) -> DataFrame:
    """Ticket cleaning with an explicit (case-sensitive, F5) status domain."""
    return silver_dedup(_ticket_rows(df, statuses), "tickets")


def quarantine(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: partition rows into (valid, invalid) by a set
    of named validation rules, tagging each invalid row with the FIRST
    failing rule's name (dict order = severity order).

    The reference's validators silently drop bad rows; production
    pipelines route them to a quarantine sink with a reason instead, so
    data-quality regressions are observable and replayable.  Both
    outputs share one scan (the reason column is computed once and the
    two filters split on it); null predicate results count as failures,
    as validation semantics require."""
    if "reason" in df.columns:
        raise ValueError(
            "quarantine: input already has a 'reason' column; rename it "
            "before splitting or the invalid half would be ambiguous"
        )
    reason = F.lit(None).cast("string")
    for name in reversed(list(rules)):
        passed = F.coalesce(rules[name], F.lit(False))
        reason = F.when(~passed, F.lit(name)).otherwise(reason)
    # collision-free tag column — re-quarantining a feed that already
    # carries a `_reason` column must not clobber it
    tag = "_reason"
    while tag in df.columns:
        tag = "_" + tag
    tagged = df.withColumn(tag, reason)
    valid = tagged.filter(F.col(tag).isNull()).drop(tag)
    invalid = tagged.filter(F.col(tag).isNotNull()).withColumnRenamed(tag, "reason")
    return valid, invalid
