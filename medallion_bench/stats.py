"""Pure helpers of the medallion benchmark: percentiles, open-loop
latency, span self time and error accounting.  No Spark, no I/O — the
self-tests in ``tests/test_stats.py`` pin every rule here."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

#: A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    value: float
    percentile: float  # nearest-rank percentile the value sits at
    beyond: int  # samples strictly above the value's rank
    n: int

    @property
    def label(self) -> str:
        if self.beyond < TAIL_MIN_BEYOND:
            return f"max of {self.n} (under {2 * TAIL_MIN_BEYOND} samples)"
        return f"p{self.percentile:g} of {self.n}"


def tail(samples: list[float]) -> Tail:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it.  On ``n`` sorted samples that is nearest rank ``n - 10``,
    i.e. percentile ``100 * (n - 10) / n``.  Below 20 samples that rank
    falls under the median, which is no tail; the maximum is returned
    instead with ``beyond`` 0, and the label says which rule applied."""
    if not samples:
        raise ValueError("tail of an empty sample")
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * TAIL_MIN_BEYOND:
        return Tail(xs[-1], 100.0, 0, n)
    rank = n - TAIL_MIN_BEYOND
    return Tail(xs[rank - 1], round(100.0 * rank / n, 3), n - rank, n)


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of an empty sample")
    return statistics.median(samples)


def open_loop_latencies(due: dict[int, float], committed: dict[int, float]) -> list[float]:
    """Latency of each open-loop item, counted from when it was DUE, not
    from when the generator actually got round to it: a stall that makes
    the generator late then shows as latency on every delayed item.
    ``due`` and ``committed`` map item id -> clock time; every due item
    must have been committed."""
    missing = sorted(set(due) - set(committed))
    if missing:
        raise ValueError(f"{len(missing)} items never committed, first {missing[:5]}")
    return [committed[i] - due[i] for i in sorted(due)]


def generator_lateness(due: dict[int, float], landed: dict[int, float]) -> float:
    """How far behind its schedule the load generator ran (max over items)."""
    return max((landed[i] - due[i] for i in due), default=0.0)


#: ``backlog_grew`` compares the last drain with the drains between it and
#: the first, so it needs at least this many drains to judge a run.
MIN_JUDGED_DRAINS = 3


def backlog_grew(backlog_at_drain_start: list[int]) -> bool:
    """Open-loop validity: at a sustainable rate the backlog a drain finds
    stays near ``rate * drain time``.  The first drain is not a reference:
    when it opens the schedule it finds almost nothing.  The run counts as
    overloaded when the last drain found more than twice the median of
    the drains between (plus one file of slack for the schedule's
    granularity).  Fewer than ``MIN_JUDGED_DRAINS`` drains cannot be
    judged, and the caller must treat that run as invalid."""
    if len(backlog_at_drain_start) < MIN_JUDGED_DRAINS:
        raise ValueError(
            f"backlog growth needs {MIN_JUDGED_DRAINS} drains, got {len(backlog_at_drain_start)}"
        )
    _, *between, last = backlog_at_drain_start
    return last > 2 * statistics.median(between) + 1


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    trace_id: str


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its direct
    children (overlapping children are merged, so concurrent children do
    not subtract twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = (s.end - s.start) - covered
    return out


class ErrorLedger:
    """Operations attempted vs failed.  A failed output check is a failed
    operation, so ``error_rate`` covers wrong results as well as raised
    errors."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, message: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.messages.append(message)

    def check(self, passed: bool, message: str) -> None:
        if passed:
            self.ok()
        else:
            self.fail(message)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
