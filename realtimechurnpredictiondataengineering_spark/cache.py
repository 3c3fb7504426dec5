"""Lifecycle for query-private caches.

Several operators persist an intermediate frame that feeds two branches
of the SAME query plan (a tokenize scan reused by counts + scoring, an
LSH index reused by bands, a top-V cut reused by join + tail mass).
``DataFrame.persist`` has no scope: once the query is collected the
cache sits in executor memory until the session dies.  Harmless for a
one-shot job, but a long-lived session running many queries (the oracle
harness loop, a notebook, a query service) accumulates dead caches until
eviction pressure hurts real workloads.

``persist_tracked`` is a drop-in ``persist()`` that records the frame in
a session-wide weak registry; ``release_caches()`` unpersists everything
still tracked — call it between queries (tests/oracle_harness.py
does).  Weak references keep the registry from pinning frames the
caller has already dropped.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

_TRACKED: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` plus registration for bulk release."""
    df.persist()
    _TRACKED.add(df)
    return df


def eager_persist(df: DataFrame) -> DataFrame:
    """``persist_tracked`` + immediate materialization (one cheap
    ``count()`` job over the fresh cache).

    Use when the cached frame feeds TWO OR MORE sibling exchanges of
    the same query: AQE submits every ready query stage concurrently,
    and concurrent tasks hitting a not-yet-populated cache partition
    each compute it themselves — the expensive upstream pass (regex
    tokenize, MinHash fold) runs once PER RACING CONSUMER instead of
    once (measured on ll06: the signature stage executed twice, 30.7 s
    + 10.3 s of task time for identical 2 MB→805 KB work).  Count()
    forces the cache to fill serially before any consumer plans against
    it.  Costs one driver job — use for expensive passes, not tiny
    frames; single-consumer or strictly-sequential caches should stay
    on ``persist_tracked``."""
    df = persist_tracked(df)
    df.count()
    return df


def release_caches() -> int:
    """Unpersist every tracked frame (non-blocking); returns the count.
    Safe to call at any time — a released cache only costs recomputation
    if the same plan object is executed again."""
    n = 0
    for df in list(_TRACKED):
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
    return n


def stats_free_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that also RESETS plan statistics —
    the checkpoint an ITERATIVE loop must use.

    ``localCheckpoint`` truncates lineage but copies the origin plan's
    estimated statistics onto the resulting ``LogicalRDD``
    (``originStats``), and join estimation MULTIPLIES input sizes — so a
    loop that joins checkpointed frames into the next round's
    checkpointed frames compounds the estimate geometrically (measured
    in connected_components: ``sizeInBytes`` grew ~6.7× in BIT LENGTH
    per round until BigInteger arithmetic inside Catalyst's stats
    visitor dominated the round, then OOMed the driver — with the data
    shrinking the whole time).  Rebuilding from the materialized
    internal-row RDD drops ``originStats``; the fresh ``LogicalRDD``
    reports the constant session default, so estimation cost stays flat
    at any round count.  The trade: inherited small-size estimates are
    lost, so in-loop joins won't be broadcast-promoted — the correct
    posture for loop state that grows with the data (labels, edges,
    centroid assignments).  Falls back to the plain checkpoint when the
    JVM handle is absent (e.g. Spark Connect)."""
    ck = df.localCheckpoint(eager=True)
    try:
        jqe = ck._jdf.queryExecution()
        jdf = ck.sparkSession._jsparkSession.internalCreateDataFrame(
            jqe.toRdd(), jqe.analyzed().schema(), False
        )
        return DataFrame(jdf, ck.sparkSession)
    except Exception:  # pragma: no cover - non-py4j backends
        return ck
