"""Regression tests for the selfcheck bitwise-hash gate.

Round 8 shipped ml04 red because every local gate compared values with
tuple equality, where Python says ``0.0 == -0.0`` — the driver's
``pd.util.hash_pandas_object`` is bitwise and disagrees.  These tests
plant exactly that divergence and assert the selfcheck's bitwise
comparator catches what tuple equality cannot, and stays quiet on
representation trivia that are NOT value divergences.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from selfcheck_window import bitwise_hash_mismatch, bitwise_row_hashes  # noqa: E402


def test_planted_signed_zero_is_caught():
    # The ml04 shape: identical frames except one cell holds -0.0 vs +0.0.
    spark_side = pd.DataFrame({"feature": ["a", "b"], "coef": [0.5, 0.0]})
    duck_side = pd.DataFrame({"feature": ["a", "b"], "coef": [0.5, -0.0]})
    # tuple equality is blind to it (how ml04 passed locally) ...
    assert [tuple(r) for r in spark_side.values] == [tuple(r) for r in duck_side.values]
    # ... the bitwise gate is not
    msg = bitwise_hash_mismatch(spark_side, duck_side)
    assert msg is not None and "bitwise" in msg


def test_equal_frames_pass():
    a = pd.DataFrame({"x": [1.25, -0.0], "y": ["p", "q"]})
    b = pd.DataFrame({"x": [1.25, -0.0], "y": ["p", "q"]})
    assert bitwise_hash_mismatch(a, b) is None


def test_row_and_column_order_is_canonicalized():
    a = pd.DataFrame({"x": [1.0, 2.0], "y": ["p", "q"]})
    b = pd.DataFrame({"y": ["q", "p"], "x": [2.0, 1.0]})
    assert bitwise_hash_mismatch(a, b) is None


def test_representation_trivia_do_not_fail():
    # int32 vs int64, date objects vs datetime64 — engine trivia, not
    # value divergence; the gate must normalize these.
    a = pd.DataFrame(
        {
            "n": pd.array([1, 2], dtype="int32"),
            "d": [dt.date(2024, 1, 1), dt.date(2024, 1, 2)],
        }
    )
    b = pd.DataFrame(
        {
            "n": pd.array([1, 2], dtype="int64"),
            "d": pd.to_datetime(["2024-01-01", "2024-01-02"]),
        }
    )
    assert bitwise_hash_mismatch(a, b) is None


def test_real_value_divergence_is_caught():
    a = pd.DataFrame({"x": [1.0, 2.0]})
    b = pd.DataFrame({"x": [1.0, 2.0000001]})
    assert bitwise_hash_mismatch(a, b) is not None


def test_row_hashes_distinguish_signed_zero_directly():
    pos = bitwise_row_hashes(pd.DataFrame({"x": [0.0]}))
    neg = bitwise_row_hashes(pd.DataFrame({"x": [-0.0]}))
    assert list(pos) != list(neg)
