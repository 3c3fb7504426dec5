"""Self-tests of the benchmark's pure helpers (no Spark).

    python3 -m pytest medallion_bench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import (  # noqa: E402
    ErrorLedger,
    Span,
    backlog_grew,
    generator_lateness,
    open_loop_latencies,
    self_times,
    tail,
)


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    t = tail(xs)
    assert t.value == 90.0
    assert t.percentile == 90.0
    assert t.beyond == 10
    assert sum(1 for x in xs if x > t.value) == 10
    assert t.n == 100
    assert t.label == "p90 of 100"


def test_tail_percentile_follows_sample_count():
    t = tail([float(i) for i in range(80)])
    assert (t.value, t.percentile, t.beyond, t.n) == (69.0, 87.5, 10, 80)
    # order of arrival does not matter
    assert tail([float(i) for i in reversed(range(80))]) == t


def test_tail_at_twenty_samples_is_the_median_rank():
    t = tail([float(i) for i in range(20)])
    assert (t.value, t.percentile, t.beyond) == (9.0, 50.0, 10)


def test_tail_below_twenty_samples_reports_the_max():
    for n in (1, 5, 10, 11, 19):
        t = tail([float(i) for i in range(n)])
        assert t.value == n - 1
        assert t.beyond == 0
        assert t.n == n
        assert t.label.startswith(f"max of {n}")


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


def test_open_loop_latency_counts_from_due_time():
    due = {"a": 0.0, "b": 1.0, "c": 2.0}
    landed = {"a": 0.0, "b": 3.0, "c": 3.0}  # the generator stalled 2 s on b
    committed = {"a": 0.5, "b": 4.0, "c": 4.0}
    assert open_loop_latencies(due, committed) == [0.5, 3.0, 2.0]
    # measured from landing, b would read 1.0 s and hide the stall
    assert generator_lateness(due, landed) == 2.0


def test_open_loop_latency_requires_every_item_committed():
    with pytest.raises(ValueError, match="never committed"):
        open_loop_latencies({"a": 0.0, "b": 1.0}, {"a": 2.0})


def test_backlog_growth_guard():
    assert not backlog_grew([1, 40, 42, 41, 43])
    assert backlog_grew([1, 40, 42, 90])
    # the first drain starts with the schedule and is not a reference
    assert not backlog_grew([0, 30, 41])


def test_backlog_growth_guard_refuses_too_few_drains():
    with pytest.raises(ValueError, match="needs 3 drains, got 2"):
        backlog_grew([0, 90])


def _span(i, start, end, parent=None):
    return Span(f"s{i}", start, end, i, parent, "t")


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 4.0, 1), _span(3, 5.0, 6.0, 1), _span(4, 1.5, 2.0, 2)]
    st = self_times(spans)
    assert st[1] == pytest.approx(6.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_merges_overlapping_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 5.0, 1), _span(3, 3.0, 7.0, 1), _span(4, 9.0, 12.0, 1)]
    # children cover [1, 7] and [9, 10] of the parent: 7 s
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_error_rate_counts_failed_checks_as_failed_operations():
    ledger = ErrorLedger()
    assert ledger.error_rate == 0.0
    ledger.ok(98)
    ledger.check(True, "silver profiles")
    ledger.check(False, "q00 value mismatch")
    assert (ledger.attempted, ledger.failed) == (100, 1)
    assert ledger.error_rate == pytest.approx(0.01)
    ledger.fail("drain raised")
    assert (ledger.attempted, ledger.failed) == (101, 2)
    assert ledger.messages == ["q00 value mismatch", "drain raised"]
