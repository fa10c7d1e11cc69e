"""Pandas-golden parity for the window-feature library (SURVEY §5.2 item 2).

Each test computes the reference's pandas formulation per symbol and asserts
the Spark column matches within 1e-9 — pinning min_periods, ddof, and
NaN-propagation semantics that the DuckDB oracle can't distinguish.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.functions.windows import (
    bar_window,
    bollinger,
    log_return,
    pct_change,
    price_diff,
    rolling_mean,
    rolling_std,
    rsi,
    trend_strength,
)
from tests.conftest import assert_series_close

W = None  # built per test from bar_window


def _collect(bars_df, col):
    rows = bars_df.select("symbol", "ts", col.alias("x")).orderBy("symbol", "ts").collect()
    return [r.x for r in rows]


def _expected(bars_pdf, fn):
    out = []
    for _, g in bars_pdf.sort_values(["symbol", "ts"]).groupby("symbol", sort=True):
        out.extend(fn(g).tolist())
    return out


def test_pct_change(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, pct_change("close", w))
    exp = _expected(bars_pdf, lambda g: g["close"].pct_change())
    assert_series_close(got, exp, name="pct_change")


def test_pct_change_k(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, pct_change("close", w, periods=24))
    exp = _expected(bars_pdf, lambda g: g["close"].pct_change(24))
    assert_series_close(got, exp, name="pct_change_24")


def test_diff(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, price_diff("close", w))
    exp = _expected(bars_pdf, lambda g: g["close"].diff())
    assert_series_close(got, exp, name="diff")


def test_log_return(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, log_return("close", w))
    exp = _expected(bars_pdf, lambda g: np.log(g["close"]).diff())
    assert_series_close(got, exp, name="log_return")


def test_rolling_mean_default_min_periods(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, rolling_mean("volume", w, 24))
    exp = _expected(bars_pdf, lambda g: g["volume"].rolling(24).mean())
    assert_series_close(got, exp, name="rolling_mean_24")


def test_rolling_mean_min_periods_1(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, rolling_mean("volume", w, 24, min_periods=1))
    exp = _expected(bars_pdf, lambda g: g["volume"].rolling(24, min_periods=1).mean())
    assert_series_close(got, exp, name="rolling_mean_24_mp1")


def test_rolling_std_over_returns(bars_df, bars_pdf):
    """std of a derived (NaN-leading) series: non-null frame count semantics."""
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, rolling_std(pct_change("close", w), w, 24))
    exp = _expected(bars_pdf, lambda g: g["close"].pct_change().rolling(24).std())
    assert_series_close(got, exp, name="rolling_std_24")


def test_trend_strength(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    daily = pct_change("close", w, periods=24)
    got = _collect(bars_df, trend_strength(daily, w, 24))

    def exp_fn(g):
        dr = g["close"].pct_change(24)
        return np.sign(dr).rolling(24).mean().abs()

    exp = _expected(bars_pdf, exp_fn)
    assert_series_close(got, exp, name="trend_strength")


def test_rsi(bars_df, bars_pdf):
    """Reference RSI (lstm_forecasting.py:130-148): simple rolling means,
    min_periods=1, zero-loss → null → neutral 50."""
    w = bar_window("symbol", "ts")
    got = _collect(bars_df, rsi("close", w, 14))

    def exp_fn(g):
        delta = g["close"].diff()
        gain = delta.where(delta > 0, 0.0).rolling(14, min_periods=1).mean()
        loss = (-delta.where(delta < 0, 0.0)).rolling(14, min_periods=1).mean()
        rs = gain / loss.replace(0, np.nan)
        return (100 - 100 / (1 + rs)).fillna(50.0)

    exp = _expected(bars_pdf, exp_fn)
    assert_series_close(got, exp, atol=1e-8, name="rsi_14")


def test_bollinger(bars_df, bars_pdf):
    w = bar_window("symbol", "ts")
    pos, width = bollinger("close", w, 20, 2.0)
    got_pos = _collect(bars_df, pos)
    got_width = _collect(bars_df, width)

    def exp_fn(g):
        ma = g["close"].rolling(20, min_periods=1).mean()
        sd = g["close"].rolling(20, min_periods=1).std()
        upper, lower = ma + 2 * sd, ma - 2 * sd
        pos = (g["close"] - lower) / (upper - lower).replace(0, np.nan)
        return pos

    def exp_width(g):
        ma = g["close"].rolling(20, min_periods=1).mean()
        sd = g["close"].rolling(20, min_periods=1).std()
        return sd / ma.replace(0, np.nan)

    assert_series_close(got_pos, _expected(bars_pdf, exp_fn), atol=1e-8, name="bb_position")
    assert_series_close(got_width, _expected(bars_pdf, exp_width), atol=1e-8, name="bb_width")


def _ewm_panel():
    """Rows (symbol, ts, event_id, close) for the EWM batch-boundary test:
    a 10-row NULL-close run (so a 7-row Arrow batch ends inside it), a
    series that starts with NULLs, tied timestamps whose order only
    ``event_id`` decides (ids run against arrival order) and a NULL series
    key, which must form one series as in ``groupBy``."""
    t0 = pd.Timestamp("2024-01-01")
    rows, eid = [], 0
    for sym, n in (("AAA", 60), ("BBB", 30), ("CCC", 40), (None, 25)):
        for i in range(n):
            close = 100.0 + ((i * 37) % 13) - (i % 5) * 0.7
            if sym == "AAA" and (10 <= i < 20 or i % 9 == 4):
                close = None
            if sym == "BBB" and (i < 4 or i == 11):
                close = None
            if sym is None and i in (7, 8):
                close = None
            ts = t0 + pd.Timedelta(hours=i // 3 if sym == "CCC" else i)
            eid += 1
            rows.append((sym, ts.to_pydatetime(), -eid if sym == "CCC" else eid, close))
    return rows


def _pandas_ewm(rows, cols):
    """Per-series pandas ``ewm(adjust=False)`` of ``close`` (the reference
    formulation), keyed by event_id, NaN as None."""
    pdf = pd.DataFrame(rows, columns=["symbol", "ts", "event_id", "close"])
    out = {}
    for _, g in pdf.groupby("symbol", dropna=False, sort=False):
        g = g.sort_values(["ts", "event_id"], kind="mergesort")
        for eid, vals in zip(g["event_id"], zip(*[f(g["close"]) for f in cols])):
            out[eid] = tuple(None if np.isnan(v) else v for v in vals)
    return out


def _macd_pandas(close):
    fast = close.ewm(span=12, adjust=False).mean()
    line = fast - close.ewm(span=26, adjust=False).mean()
    sig = line.ewm(span=9, adjust=False).mean()
    return line, sig, line - sig


@pytest.mark.parametrize("batch_rows", [7, 97, None])
def test_ewm_batch_boundaries_match_pandas(spark, batch_rows):
    """The batch EWM/MACD kernel, seeded across Arrow batches, gives the
    same doubles (``==``) as per-series pandas ``ewm`` at any batch size,
    including batches that end inside a NULL run or a series."""
    from financial_big_data_spark.functions.ewm import ewm_mean, macd

    rows = _ewm_panel()
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, event_id long, close double")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch_rows is not None:
        spark.conf.set(conf, str(batch_rows))
    try:
        got_ewm = {
            r.event_id: (r.e,)
            for r in ewm_mean(df, "close", 5, out="e", order_tiebreak=["event_id"]).collect()
        }
        got_macd = {
            r.event_id: (r.macd, r.macd_signal, r.macd_hist)
            for r in macd(df, order_tiebreak=["event_id"]).collect()
        }
    finally:
        spark.conf.set(conf, old)
    exp_ewm = _pandas_ewm(rows, [lambda c: c.ewm(span=5, adjust=False).mean()])
    exp_macd = _pandas_ewm(rows, [lambda c, i=i: _macd_pandas(c)[i] for i in range(3)])
    assert len(got_ewm) == len(rows) == 155
    assert got_ewm == exp_ewm
    assert got_macd == exp_macd
