"""Gold layer: churn feature enrichment (reference Gold1.py:51-106).

The reference builds four per-customer feature frames from Silver Delta
snapshots and left-joins them into one enrichment table with derived
columns.  Here the same shapes run on the driver's star schema:

- ``orders``  plays the transactions stream → revenue features (A3)
- ``events``  plays app_usage → activity/recency features (A1), the
  filtered decline features (A2; ``error`` events play payment declines)
  and, via props, support tickets → pseudo-sentiment (A4, P11); all three
  come from one fused aggregation (``event_features``)
- ``customer`` (+``nation`` broadcast) plays the profile table → J2 chain

Scale shape: every feature frame aggregates on the SAME key the final
join uses, so the whole plan is one shuffle per fact table + an exchange
reuse on ``customer_id``; the nation dim is broadcast.  Determinism: the
anchor timestamp is an explicit column (oracle parity) — pass
``F.current_timestamp()`` for live behavior (P7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtimechurnpredictiondataengineering_spark.functions.scalar import (
    arpu,
    portable_round2,
    round2,
)
from realtimechurnpredictiondataengineering_spark.operators.joins import broadcast_dim_join, left_enrich
from realtimechurnpredictiondataengineering_spark.sources.batch import load_table

#: Fixed "as of" anchor inside the events table's range (TESTDATA spans
#: Jan 2024) so recency features are reproducible across engines.
DEFAULT_AS_OF = "2024-02-01 00:00:00"


def revenue_features(orders: DataFrame) -> DataFrame:
    """A3 + order stats per customer (Gold1.py:80-81 shape)."""
    return orders.groupBy(F.col("o_custkey").alias("customer_id")).agg(
        round2(F.sum("o_totalprice")).alias("total_revenue"),
        F.count("*").alias("n_orders"),
        F.max(F.to_date("o_orderdate")).alias("last_order_date"),
    )


def event_features(events: DataFrame, as_of: Column) -> DataFrame:
    """A1 (recency + volume, Gold1.py:63-67), A2 (declines, Gold1.py:71-76;
    ``error`` events play payment_decline) and A4 (resolution time +
    pseudo-sentiment, Gold1.py:87-92) in ONE aggregation pass.

    The reference builds one frame per feature family and left-joins
    them; each would shuffle the events fact table on the same key.
    Conditional aggregation (`agg(f(when(pred, col)))`) computes all
    three families in a single scan + single shuffle with the same
    left-join semantics: an aggregate over an empty conditional subset
    is null, exactly what a per-frame left join gives a customer with no
    matching rows.  Sentiment averages the INTEGER hash bucket and
    divides by 10 at the end: integer sums are order-independent and
    exact in both engines, whereas averaging 0.1-multiples directly hits
    round(.,4) boundary flips between Spark's and DuckDB's summation
    orders.
    """
    is_decline = F.col("event_type") == "error"
    is_ticket = F.col("event_type") == "signup"
    bucket = F.ascii(F.substring(F.md5("props"), 1, 1)) % 10
    return (
        events.groupBy(F.col("user_id").alias("customer_id"))
        .agg(
            F.max("ts").alias("_last_seen"),
            F.count("*").alias("sessions"),
            # portable cents-round on the money/ratio display columns:
            # the round-12 sf0.1 sweep caught round(avg(value), 2) rows
            # landing on cross-engine half-ulp boundaries at 10x scale
            portable_round2(F.sum(F.when(is_decline, F.col("value")))).alias("total_declined"),
            portable_round2(F.avg(F.when(is_decline, F.col("value")))).alias("avg_declined"),
            portable_round2(F.avg(F.when(is_ticket, F.col("value")))).alias("avg_resolution_time"),
            F.round(F.avg(F.when(is_ticket, bucket)) / 10.0, 4).alias("avg_ticket_sentiment"),
        )
        .select(
            "customer_id",
            F.datediff(as_of, F.col("_last_seen")).alias("days_since_last_login"),
            "sessions",
            "total_declined",
            "avg_declined",
            "avg_resolution_time",
            "avg_ticket_sentiment",
        )
    )


def churn_features(spark, sf_dir: str, as_of: str = DEFAULT_AS_OF) -> DataFrame:
    """The flagship enrichment (J2 + A1-A4 + P8/P10-P12 + P15).

    customer ⟕ revenue ⟕ event features (activity, declines, support),
    nation name via broadcast, then derived ARPU and a rule-based churn
    flag, projected to the final feature schema (14 cols, Gold1.py:101-106
    shape).
    """
    anchor = F.to_timestamp(F.lit(as_of))
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    events = load_table(spark, "events", sf_dir)

    profiles = broadcast_dim_join(
        customer.select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            round2(F.col("c_acctbal")).alias("acctbal"),
            F.col("c_nationkey"),
        ),
        nation.select(F.col("n_nationkey"), F.col("n_name").alias("nation")),
        on=[F.col("c_nationkey") == F.col("n_nationkey")],
    ).drop("c_nationkey", "n_nationkey")

    enriched = left_enrich(
        profiles,
        [
            revenue_features(orders),
            event_features(events, anchor),
        ],
        key="customer_id",
    )

    return enriched.select(
        "customer_id",
        "name",
        "segment",
        "nation",
        "acctbal",
        F.coalesce("total_revenue", F.lit(0.0)).alias("total_revenue"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        "last_order_date",
        "days_since_last_login",
        F.coalesce("sessions", F.lit(0)).alias("sessions"),
        "total_declined",
        "avg_declined",
        "avg_ticket_sentiment",
        arpu(F.coalesce("total_revenue", F.lit(0.0)), F.coalesce("sessions", F.lit(0))).alias("arpu"),
        (
            (F.coalesce("days_since_last_login", F.lit(999)) > 14)
            & (F.coalesce("sessions", F.lit(0)) < 5)
        ).cast("int").alias("churn_risk"),
    )
