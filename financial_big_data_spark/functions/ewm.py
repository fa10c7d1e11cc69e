"""Exponentially-weighted recurrences (SURVEY W8): one seeded kernel for
batch and streaming.

``ewm(span, adjust=False)`` is the one reference operator with a genuinely
sequential recurrence (y_t = (1-α)·y_{t-1} + α·x_t, reference
src/models/lstm_forecasting.py:153-156), which no Spark window frame can
express. :func:`ewm_runs` computes it for rows sorted by (series, time) with
one pandas ``groupby(run).ewm(span=…, adjust=False).mean()`` call over the
contiguous series runs, the first run seeded from a carry. The carry is
pandas' exact state at the end of a run: the last weighted value, then one
NaN per input row since the last observation (pandas decays its weight on
NaN rows without resetting it, so the value alone is not enough).

- Batch (:func:`ewm_mean`, :func:`macd`): ``repartition(series)`` →
  ``sortWithinPartitions(series, time, *order_tiebreak)``, nulls last as in
  pandas' sort → ``mapInPandas``, folding a partition's Arrow batches in
  order with the carry. Per-task memory is one Arrow batch plus the carry,
  however long a series is. After a window stage on the same series key
  Catalyst drops the repartition: the pass adds a local sort, no exchange.
- Streaming (``streaming/ewm.py``) runs the same columns on each
  micro-batch's rows of one series, with the carry in its state.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# (last weighted value, NaN inputs since the last observation); a NULL or
# NaN value means no observation yet, i.e. an unseeded run
FRESH = (None, None)

# (rows, run labels, carry) -> (output columns, carry)
Columns = Callable[[pd.DataFrame, np.ndarray, tuple], tuple[dict, tuple]]

MACD_COLS = ("macd", "macd_signal", "macd_hist")


def ewm_runs(values, runs: np.ndarray, span: int, seed: tuple = FRESH) -> tuple:
    """``ewm(span=span, adjust=False).mean()`` of ``values`` per run, the
    first run continued from ``seed``; returns the outputs and the last
    run's carry.

    ``runs`` labels contiguous runs with non-decreasing integers. The
    kernel is parameterized by ``span``, not a precomputed alpha: pandas
    derives the decay weight differently for ``span=`` and ``alpha=``
    (equal as reals, one ulp apart as doubles), which diverges the
    recurrence within a few steps."""
    v = np.asarray(values, dtype="float64")
    runs = np.asarray(runs)
    value, nans = seed
    k = 0
    if value is not None and not np.isnan(value):
        k = 1 + nans
        v = np.concatenate([[value], np.full(nans, np.nan), v])
        runs = np.concatenate([np.full(k, runs[0]), runs])
    y = pd.Series(v).groupby(runs).ewm(span=span, adjust=False).mean().to_numpy()
    start = int(np.searchsorted(runs, runs[-1]))
    seen = np.flatnonzero(~np.isnan(v[start:]))
    pending = len(v) - start - 1 - int(seen[-1]) if len(seen) else 0
    return y[k:], (float(y[-1]), pending)


def ewm_columns(value: str, span: int, out: str) -> Columns:
    def columns(pdf, runs, carry):
        y, carry = ewm_runs(pdf[value], runs, span, carry)
        return {out: y}, carry

    return columns


def macd_columns(close: str, fast: int, slow: int, signal: int) -> Columns:
    """The MACD line, signal and histogram from three kernel calls; the
    carry is the three EWMs' carries, fast, slow, signal."""

    def columns(pdf, runs, carry):
        ema_fast, c_fast = ewm_runs(pdf[close], runs, fast, carry[0:2])
        ema_slow, c_slow = ewm_runs(pdf[close], runs, slow, carry[2:4])
        line = ema_fast - ema_slow
        sig, c_sig = ewm_runs(line, runs, signal, carry[4:6])
        return dict(zip(MACD_COLS, (line, sig, line - sig))), c_fast + c_slow + c_sig

    return columns


def _fold_sorted(
    df: DataFrame,
    columns: Columns,
    fresh: tuple,
    out_fields: list[T.StructField],
    series: str,
    time: str,
    order_tiebreak: list[str] | None,
) -> DataFrame:
    """``df`` plus ``columns``' output, computed over each partition's
    Arrow batches in (series, time, *order_tiebreak) order; a batch whose
    first series continues the previous batch's last is seeded with its
    carry. A NULL series key is one series, as in ``groupBy``."""
    order = [series, time, *(order_tiebreak or [])]
    no_key = object()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        key, carry = no_key, fresh
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf[series]
            runs = pd.factorize(keys, use_na_sentinel=False)[0]
            first = keys.iloc[0]
            if not (first == key or (pd.isna(first) and pd.isna(key))):
                carry = fresh
            cols, carry = columns(pdf, runs, carry)
            key = keys.iloc[-1]
            yield pdf.assign(**cols)

    return (
        df.repartition(series)
        .sortWithinPartitions(*[F.col(c).asc_nulls_last() for c in order])
        .mapInPandas(fn, T.StructType(df.schema.fields + out_fields))
    )


def ewm_mean(
    df: DataFrame,
    value: str,
    span: int,
    series: str = "symbol",
    time: str = "ts",
    out: str = "ewm",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Append ``out`` = ewm(span, adjust=False).mean() of ``value`` per series."""
    return _fold_sorted(
        df, ewm_columns(value, span, out), FRESH,
        [T.StructField(out, T.DoubleType())], series, time, order_tiebreak,
    )


def macd(
    df: DataFrame,
    close: str = "close",
    series: str = "symbol",
    time: str = "ts",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """MACD(fast, slow, signal): appends macd, macd_signal, macd_hist.

    Reference lstm_forecasting.py:150-163. One sorted pass computes all
    three EWMs, not three separate shuffles."""
    return _fold_sorted(
        df, macd_columns(close, fast, slow, signal), FRESH * 3,
        [T.StructField(c, T.DoubleType()) for c in MACD_COLS],
        series, time, order_tiebreak,
    )
