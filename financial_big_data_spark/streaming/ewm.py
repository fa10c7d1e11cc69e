"""Streaming EWM / MACD: the batch kernel, continued across micro-batches
(SURVEY §2.10 / W8 streaming surface).

``functions/ewm.py`` holds the one seeded EWM kernel. The batch operators
fold it over the Arrow batches of a series-sorted partition; the
operators here call the same columns on each micro-batch's rows of one
series, with the kernel's carry as their state:

- the carry per series is O(1), not a window of history (contrast
  streaming/regime.py, which must carry the last ``2×window`` closes):
  per EWM, the last weighted value and the number of NULL inputs since the
  last observation, so a micro-batch may end inside a NULL run. That is
  one pair for ``streaming_ewm_mean`` and three for ``streaming_macd``
  (fast/slow/signal EMAs);
- splitting a series across ANY number of micro-batches therefore gives
  byte-identical doubles to the single-pass batch operator (pinned by the
  parity tests, which assert ``==`` on floats, not approx);
- ordering, admission (``on_late``), the reorder buffer
  (``delay_seconds``, default 0 = in-order delivery), the state layout
  guard and the TTL (none by default; see the trigger caveat) are the
  shared driver's, ``streaming/ordering.py``. Each operator here is only
  its output schema, its carry fields and its columns.

API note: built on ``applyInPandasWithState``. Spark 4 also ships the
richer ``transformWithStateInPandas``; its Python state server requires
``google.protobuf`` at runtime, which this environment does not provide,
and the per-series ValueState carried here needs none of its extras
(timers, multiple state variables, initial state), so the widely-available
API is the right dependency floor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.ewm import MACD_COLS, Columns, ewm_columns, macd_columns
from .ordering import ordered_recurrence


def _one_series(columns: Columns):
    """``columns`` as an ``ordered_recurrence`` step: the rows are one
    series, i.e. one run."""

    def step(rows: pd.DataFrame, carry: tuple) -> tuple[pd.DataFrame, tuple]:
        cols, carry = columns(rows, np.zeros(len(rows), dtype=np.int64), carry)
        return rows.assign(**cols), carry

    return step


def _carry_fields(*names: str) -> list[T.StructField]:
    """One kernel carry per name: its last value and its pending NULLs."""
    return [
        f
        for n in names
        for f in (T.StructField(n, T.DoubleType()), T.StructField(f"{n}_nans", T.LongType()))
    ]


def streaming_ewm_mean(
    stream: DataFrame,
    value: str,
    span: int,
    series: str = "symbol",
    time: str = "ts",
    out: str = "ewm",
    state_ttl_ms: int | None = None,
    order_tiebreak: list[str] | None = None,
    on_late: str = "error",
    delay_seconds: float = 0,
) -> DataFrame:
    """Streaming ``ewm(span, adjust=False).mean()`` per series — the
    unbounded-series companion of ``functions.ewm.ewm_mean``: the input
    columns plus ``out``, identical doubles for any micro-batch split of
    the same input once it is emitted in event-time order.

    ``order_tiebreak``: extra sort columns after ``time``. Duplicate
    timestamps within a series otherwise leave the recurrence order (and
    the carried value) to Arrow chunk arrival order — pass a unique
    column (event id) whenever ties are possible; the batch operator
    sorts by the same keys.

    ``on_late``, ``delay_seconds`` and ``state_ttl_ms`` are the shared
    driver's (streaming/ordering.py): a row older than the last emitted
    event time raises naming the series and timestamps, or is dropped;
    a positive ``delay_seconds`` holds rows until the series' watermark
    passes them, absorbing disorder up to that bound."""
    return ordered_recurrence(
        stream,
        _one_series(ewm_columns(value, span, out)),
        out_schema=T.StructType(
            stream.schema.fields + [T.StructField(out, T.DoubleType())]
        ),
        carry_fields=_carry_fields("last_ewm"),
        operator="streaming_ewm_mean",
        series=series,
        time=time,
        order_tiebreak=order_tiebreak,
        on_late=on_late,
        delay_seconds=delay_seconds,
        state_ttl_ms=state_ttl_ms,
    )


def streaming_macd(
    stream: DataFrame,
    close: str = "close",
    series: str = "symbol",
    time: str = "ts",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    state_ttl_ms: int | None = None,
    order_tiebreak: list[str] | None = None,
    on_late: str = "error",
    delay_seconds: float = 0,
) -> DataFrame:
    """Streaming MACD(fast, slow, signal) — appends macd, macd_signal,
    macd_hist exactly as ``functions.ewm.macd`` does in batch, carrying
    three kernel carries per series across micro-batches. See
    ``streaming_ewm_mean`` for ``order_tiebreak``, ``on_late``,
    ``delay_seconds`` and ``state_ttl_ms``."""
    return ordered_recurrence(
        stream,
        _one_series(macd_columns(close, fast, slow, signal)),
        out_schema=T.StructType(
            stream.schema.fields + [T.StructField(c, T.DoubleType()) for c in MACD_COLS]
        ),
        carry_fields=_carry_fields("ema_fast", "ema_slow", "ema_signal"),
        operator="streaming_macd",
        series=series,
        time=time,
        order_tiebreak=order_tiebreak,
        on_late=on_late,
        delay_seconds=delay_seconds,
        state_ttl_ms=state_ttl_ms,
    )
