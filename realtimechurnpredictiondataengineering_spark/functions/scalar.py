"""Scalar column expressions (SURVEY §2.3 P5-P12).

The reference computes these inline in its Gold/Silver jobs
(Gold1.py:52-106, Silver1.py:37); here each is a named, reusable,
oracle-testable expression.  All stay JVM-side (built-in functions only —
the reference's deliberate UDF avoidance, SURVEY §2.9, is preserved).

Determinism note: the reference uses ``current_timestamp()`` (P7) and
Murmur3 ``hash()`` (P11), both of which cannot be oracle-compared across
engines.  Each helper therefore takes an explicit "as of" timestamp /
uses an md5-derived score so the same expression is reproducible in
DuckDB; pass ``F.current_timestamp()`` to get the reference's live
behavior in production.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_date_col(col: Column | str) -> Column:
    """P5 — string→date (Silver1.py:37)."""
    return F.to_date(col)


def days_since(ts_col: Column | str, as_of: Column) -> Column:
    """P7+P8 — days between an event timestamp and an anchor
    (Gold1.py:62,100 ``datediff(current_timestamp(), last_login)``).
    ``as_of`` is explicit for determinism; pass ``F.current_timestamp()``
    for live semantics."""
    return F.datediff(as_of, ts_col)


def round2(col: Column) -> Column:
    """P10 — round to cents (Gold1.py:83)."""
    return F.round(col, 2)


def snap(col: Column | str, scale: int) -> Column:
    """Round to ``scale`` digits AND normalize IEEE signed zero.

    ``round()`` of a tiny negative (e.g. -1.3e-07 at scale 6) yields
    ``-0.0`` in some engines (DuckDB) and ``+0.0`` in others (Spark);
    value comparisons treat them as equal but BITWISE canonicalizers
    (``pd.util.hash_pandas_object``, parquet bytes) do not.  Appending
    ``+ 0.0`` lands both engines on ``+0.0`` (IEEE: -0.0 + 0.0 = +0.0)
    without changing any nonzero value or NULL.  Use this instead of
    ``F.round`` for every rounded OUTPUT column whose value can reach
    zero from below; the DuckDB twin spells it ``round(x, n) + 0.0``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, scale) + F.lit(0.0)


def pseudo_score(col: Column | str, buckets: int = 10) -> Column:
    """P11 — deterministic hash-bucket pseudo-score in [0, (buckets-1)/buckets].

    The reference uses ``(abs(hash(issue)) %% 10) / 10.0`` (Gold1.py:87);
    Spark's Murmur3 differs from every other engine's hash, so the engine
    derives the bucket from the first md5 hex character — identical maths
    is expressible in DuckDB (``ascii(substr(md5(x),1,1))``), keeping the
    operator oracle-checkable while preserving the semantics (stable
    pseudo-random score from a string column, no UDF).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.ascii(F.substring(F.md5(c), 1, 1)) % buckets) / float(buckets)


def portable_round2(col: Column) -> Column:
    """Round to cents by PURE BINARY arithmetic — ``floor(x*100+0.5)/100``
    — so both engines compute the identical double from the identical
    input.  ``F.round`` cannot give that guarantee across engines:
    Spark rounds the SHORTEST DECIMAL REPRESENTATION of the double
    (``BigDecimal.valueOf``), DuckDB rounds the binary value, so a
    quotient whose double sits a half-ulp under ``x.xx5`` (printed
    "x.xx5") rounds UP in Spark and DOWN in DuckDB.  Invisible at small
    scale, but the round-12 sf0.1 sweep (10x the driver gate) caught 4
    registry entries landing rows on exactly such boundaries — all in
    ARPU-derived columns.  For non-negative inputs this equals half-up
    rounding of the binary value; use it on any rounded RATIO column
    that feeds a cross-engine value check at arbitrary scale.  The
    DuckDB twin spells it ``floor((x) * 100 + 0.5) / 100``."""
    return F.floor(col * F.lit(100) + F.lit(0.5)) / F.lit(100)


def arpu(revenue: Column, sessions: Column) -> Column:
    """P12 — average revenue per (session+1) (Gold1.py:83); the +1 keeps
    zero-session customers finite instead of null/inf.  Rounded via
    ``portable_round2``: the quotient is exactly the shape that lands
    on cross-engine half-ulp boundaries at scale."""
    return portable_round2(revenue / (sessions + F.lit(1)))
