"""Streaming EWM / MACD — O(1)-state continuation of the batch recurrence
(SURVEY §2.10 / W8 streaming surface).

``functions/ewm.py`` computes the adjust=False recurrence
``y_t = (1-α)·y_{t-1} + α·x_t`` (reference src/models/lstm_forecasting.py:
150-163) with one ``applyInPandas`` task per series and explicitly declares
the pathological case — a single series whose full history exceeds one
task's memory — out of scope for batch, pointing at "chunked carry-over
(stateful streaming)". This module IS that carry-over path:

- the carry per series is O(1) — exactly the last EWM value(s), not a
  window of history (contrast streaming/regime.py, which must carry the
  last ``2×window`` closes): one double for ``streaming_ewm_mean``, three
  for ``streaming_macd`` (fast/slow/signal EMAs);
- each emitted slice continues the recurrence bit-for-bit: the carried
  value seeds pandas' own C ``ewm`` kernel (prepend-seed-then-drop-it),
  which runs the identical float recurrence in the identical operand
  order — so splitting a series across ANY number of micro-batches
  produces byte-identical doubles to the single-pass batch operator
  (pinned by the parity test, which asserts ``==`` on floats, not
  approx);
- ordering, admission (``on_late``), the reorder buffer
  (``delay_seconds``, default 0 = in-order delivery), the state layout
  guard and the TTL (none by default; see the trigger caveat) are the
  shared driver's, ``streaming/ordering.py``. Each operator here is only
  its output schema, its carry fields and its ``step``.

API note: built on ``applyInPandasWithState``. Spark 4 also ships the
richer ``transformWithStateInPandas``; its Python state server requires
``google.protobuf`` at runtime, which this environment does not provide,
and the per-series ValueState carried here needs none of its extras
(timers, multiple state variables, initial state), so the widely-available
API is the right dependency floor.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .ordering import ordered_recurrence


def _continue_ewm(series: pd.Series, span: int, prev: float | None) -> pd.Series:
    """Continue an adjust=False EWM from carried value ``prev`` —
    bit-exact: the seed row reproduces the recurrence's y_{t-1} operand and
    the kernel is the same C path the batch operator uses.

    Parameterized by ``span``, NOT a precomputed alpha: pandas derives the
    internal decay weight differently for ``span=`` (com/(1+com)) and
    ``alpha=`` (1-alpha) — equal as reals, off by one ulp as doubles, which
    diverges the recurrence within ~5 steps (measured). Byte-parity with
    ``functions/ewm.py`` requires the identical parameterization."""
    s = series.astype("float64").reset_index(drop=True)
    if prev is None:
        return s.ewm(span=span, adjust=False).mean()
    seeded = pd.concat([pd.Series([prev], dtype="float64"), s], ignore_index=True)
    return seeded.ewm(span=span, adjust=False).mean().iloc[1:].reset_index(drop=True)


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
    column (event id) whenever ties are possible. The sort is stable
    (mergesort) either way, matching functions/ewm.py.

    ``on_late``, ``delay_seconds`` and ``state_ttl_ms`` are the shared
    driver's (streaming/ordering.py): a row older than the last emitted
    event time raises naming the series and timestamps, or is dropped;
    a positive ``delay_seconds`` holds rows until the series' watermark
    passes them, absorbing disorder up to that bound."""

    def step(rows: pd.DataFrame, carry: tuple) -> tuple[pd.DataFrame, tuple]:
        y = _continue_ewm(rows[value], span, carry[0])
        return rows.assign(**{out: y.to_numpy()}), (float(y.iloc[-1]),)

    return ordered_recurrence(
        stream,
        step,
        out_schema=T.StructType(
            stream.schema.fields + [T.StructField(out, T.DoubleType())]
        ),
        carry_fields=[T.StructField("last_ewm", T.DoubleType())],
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
    three doubles per series across micro-batches. See
    ``streaming_ewm_mean`` for ``order_tiebreak``, ``on_late``,
    ``delay_seconds`` and ``state_ttl_ms``."""

    def step(rows: pd.DataFrame, carry: tuple) -> tuple[pd.DataFrame, tuple]:
        prev_f, prev_s, prev_sig = carry
        ef = _continue_ewm(rows[close], fast, prev_f)
        es = _continue_ewm(rows[close], slow, prev_s)
        macd_line = ef - es
        sig = _continue_ewm(macd_line, signal, prev_sig)
        out = rows.assign(
            macd=macd_line.to_numpy(),
            macd_signal=sig.to_numpy(),
            macd_hist=(macd_line - sig).to_numpy(),
        )
        return out, (float(ef.iloc[-1]), float(es.iloc[-1]), float(sig.iloc[-1]))

    return ordered_recurrence(
        stream,
        step,
        out_schema=T.StructType(
            stream.schema.fields
            + [
                T.StructField(c, T.DoubleType())
                for c in ("macd", "macd_signal", "macd_hist")
            ]
        ),
        carry_fields=[
            T.StructField(c, T.DoubleType())
            for c in ("ema_fast", "ema_slow", "ema_signal")
        ],
        operator="streaming_macd",
        series=series,
        time=time,
        order_tiebreak=order_tiebreak,
        on_late=on_late,
        delay_seconds=delay_seconds,
        state_ttl_ms=state_ttl_ms,
    )
