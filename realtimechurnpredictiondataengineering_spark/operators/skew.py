"""Skew mitigation (SURVEY §4 partitioning/shuffle; 100 TB posture).

AQE's skew-join splitting (enabled in ``session.ENGINE_CONF``) handles
most hot-key cases at runtime; ``salted_agg`` is the explicit variant
for when the skew is known and extreme (a null key, a bot user, a
boilerplate document) and the plan must not depend on runtime detection.
It is a two-phase aggregation: a partial aggregate on (key, salt)
spreads one hot key over N reducers, then a final combine on the key.
Only algebraic aggregates (sum/count/min/max) compose this way; avg is
derived as sum/count.

The salts are deterministic, derived from xxhash64 of a distributor
column (not ``rand()``), so results are reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: aggregate factory registry: output name -> (partial expr, final expr)
_ALGEBRAIC = {
    "sum": (lambda c: F.sum(c), lambda p: F.sum(p)),
    "count": (lambda c: F.count(c), lambda p: F.sum(p)),
    "min": (lambda c: F.min(c), lambda p: F.min(p)),
    "max": (lambda c: F.max(c), lambda p: F.max(p)),
}


def _salt(distributor: str, buckets: int) -> Column:
    return F.pmod(F.xxhash64(F.col(distributor)), F.lit(buckets))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    distributor: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``aggs`` maps output column -> (function, input column) with function
    in {sum,count,min,max,avg}.  The partial phase groups by
    (keys + salt) — the hot key's rows split across ``buckets`` reducers —
    and the final phase combines per key.  Equivalent to a plain
    ``groupBy(keys).agg(...)`` for these aggregates, by construction.
    """
    partials, finals = [], []
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            partials += [F.sum(col).alias(f"__s_{out}"), F.count(col).alias(f"__c_{out}")]
            finals.append((F.sum(f"__s_{out}") / F.sum(f"__c_{out}")).alias(out))
            continue
        if fn not in _ALGEBRAIC:
            raise ValueError(f"non-algebraic aggregate {fn!r} cannot be salted")
        partial, final = _ALGEBRAIC[fn]
        partials.append(partial(col).alias(f"__p_{out}"))
        finals.append(final(f"__p_{out}").alias(out))
    staged = (
        df.withColumn("__salt", _salt(distributor, buckets))
        .groupBy(*keys, "__salt")
        .agg(*partials)
    )
    return staged.groupBy(*keys).agg(*finals)

