"""Custom stateful streaming operators via ``transformWithStateInPandas``
(SURVEY §2.8/§2.9 extension point).

Spark's built-in stateful ops (windowed agg, stream dedup, stream-stream
join) cover the reference's needs; this module is the sanctioned escape
hatch for semantics they can't express — here, per-key deviation flags
over a bounded history of each key's prior values.

State is per-key and Arrow-batched: each micro-batch routes a key's rows
to one task, the handler folds them into the key's ``ListState``, and a
per-state TTL expires idle keys — O(active keys) state, which is what
survives an unbounded stream (the discipline the reference's
unwatermarked ``dropDuplicates`` lacks, Silver1.py:41).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor


def deviation_flags(
    keyed: DataFrame,
    key_col: str = "key",
    value_col: str = "value",
    ts_col: str = "ts",
    z_threshold: float = 3.0,
    min_history: int = 5,
    max_history: int = 100,
    state_ttl_ms: int | None = 86_400_000,
) -> DataFrame:
    """Per-key streaming anomaly flags via ``transformWithStateInPandas``
    (the Spark 4 arbitrary-state API that replaces
    ``applyInPandasWithState``): a row is flagged when its value exceeds
    mean + ``z_threshold``·std of that key's PRIOR values.

    Why the new API here: typed composable state (this uses a
    ``ListState`` of recent values, capped at ``max_history``) and
    per-state TTL (``state_ttl_ms``) — the state store, not handler
    bookkeeping, expires idle keys.  State is O(keys × max_history)
    regardless of stream length, and each key's history lives on one
    task, so the operator scales with the key space like any keyed
    stateful op.  Emits (key, ts, value, zscore, is_anomaly) per input
    row in ``ts`` order.
    """
    output_schema = (
        f"{key_col} string, {ts_col} timestamp, {value_col} double, "
        "zscore double, is_anomaly boolean"
    )
    return keyed.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=DeviationProcessor(
            key_col=key_col,
            value_col=value_col,
            ts_col=ts_col,
            z_threshold=z_threshold,
            min_history=min_history,
            max_history=max_history,
            state_ttl_ms=state_ttl_ms,
        ),
        outputStructType=output_schema,
        outputMode="append",
        timeMode="none",
    )


class DeviationProcessor(StatefulProcessor):
    """The ``transformWithStateInPandas`` handler behind
    ``deviation_flags`` — module-level (not a closure) so the fold logic
    is unit-testable against a stub handle even where the streaming
    runtime's protobuf bridge is unavailable."""

    def __init__(
        self,
        key_col: str,
        value_col: str,
        ts_col: str,
        z_threshold: float,
        min_history: int,
        max_history: int,
        state_ttl_ms: int | None,
    ) -> None:
        self._key_col = key_col
        self._value_col = value_col
        self._ts_col = ts_col
        self._z = z_threshold
        self._min = min_history
        self._max = max_history
        self._ttl = state_ttl_ms

    def init(self, handle) -> None:
        self._history = handle.getListState("history", "v double", ttlDurationMs=self._ttl)

    def handleInputRows(self, key, rows, timer_values):
        import math

        hist = [r[0] for r in self._history.get()] if self._history.exists() else []
        out = []
        for pdf in rows:
            for _, row in pdf.sort_values(self._ts_col).iterrows():
                v = float(row[self._value_col])
                z, flag = 0.0, False
                if len(hist) >= self._min:
                    mean = sum(hist) / len(hist)
                    std = math.sqrt(sum((x - mean) ** 2 for x in hist) / len(hist))
                    z = (v - mean) / std if std > 0 else 0.0
                    flag = z > self._z
                out.append((key[0], row[self._ts_col], v, round(z, 4), flag))
                hist.append(v)
                if len(hist) > self._max:
                    hist = hist[-self._max:]
        self._history.clear()
        self._history.put([(v,) for v in hist])
        yield pd.DataFrame(
            out,
            columns=[self._key_col, self._ts_col, self._value_col, "zscore", "is_anomaly"],
        )

    def close(self) -> None:
        pass
