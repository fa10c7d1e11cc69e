"""LSTM-style feature engineering, sequence building and ordered splits.

Mirrors the reference's 16-feature matrix (src/models/lstm_forecasting.py:
55-128), sliding sequence construction (:186-192) and the time-ordered
70/15/15 split (:210-218) — all as one window stage per series plus a single
sorted pass for the MACD recurrence (functions/ewm.py).

Scale notes: every feature shares W_sym = partitionBy(series).orderBy(time),
so Catalyst fuses them into ONE window physical node after ONE exchange.
``sequences`` uses collect_list over a bounded 30-row frame (arrays of
16 floats ≈ 3.8 KB/row peak) — bounded state, no per-series materialization.
The split is rank-vs-count based (row_number over the same window; counts
broadcast back) — deterministic under any partitioning, never randomSplit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.ewm import macd
from ..functions.windows import bar_window, bollinger, clip, log_return, pct_change, rolling_mean, rolling_std, rsi

FEATURE_COLS = [
    "returns",
    "log_returns",
    "volatility_5",
    "volatility_24",
    "trend_5",
    "trend_24",
    "price_range",
    "volume_intensity",
    "volume_change",
    "volume_volatility",
    "rsi",
    "macd",
    "macd_signal",
    "macd_hist",
    "bb_position",
    "bb_width",
]


def lstm_features(
    bars: DataFrame,
    series: str = "symbol",
    time: str = "ts",
    close: str = "close",
    high: str = "high",
    low: str = "low",
    volume: str = "volume",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """16-feature block (reference lstm_forecasting.py:57-105), one window
    stage + one sorted MACD pass on the same series partitioning.
    Clips/fills follow the reference."""
    order = [time] + (order_tiebreak or [])
    w = bar_window(series, order)
    ret = pct_change(close, w)
    logret = log_return(close, w)
    vol5 = rolling_std(ret, w, 5, min_periods=1)
    vol24 = rolling_std(ret, w, 24, min_periods=1)
    trend5 = F.try_divide(F.col(close), rolling_mean(close, w, 5, min_periods=1)) - 1
    trend24 = F.try_divide(F.col(close), rolling_mean(close, w, 24, min_periods=1)) - 1
    prange = F.try_divide(F.col(high) - F.col(low), F.col(close))
    vol_ma = rolling_mean(volume, w, 24, min_periods=1)
    vol_int = F.try_divide(F.col(volume), vol_ma)
    vol_chg = pct_change(volume, w)
    vol_vol = rolling_std(pct_change(volume, w), w, 24, min_periods=1)
    bb_pos, bb_w = bollinger(close, w, 20, 2.0)

    with_feats = bars.select(
        "*",
        clip(ret, -0.5, 0.5).alias("returns"),
        clip(logret, -0.5, 0.5).alias("log_returns"),
        vol5.alias("volatility_5"),
        vol24.alias("volatility_24"),
        clip(trend5, -0.5, 0.5).alias("trend_5"),
        clip(trend24, -0.5, 0.5).alias("trend_24"),
        clip(prange, 0.0, 1.0).alias("price_range"),
        clip(vol_int, 0.0, 10.0).alias("volume_intensity"),
        clip(vol_chg, -5.0, 5.0).alias("volume_change"),
        vol_vol.alias("volume_volatility"),
        rsi(close, w, 14).alias("rsi"),
        clip(bb_pos, -0.5, 1.5).alias("bb_position"),
        bb_w.alias("bb_width"),
    )
    with_macd = macd(
        with_feats, close=close, series=series, time=time,
        order_tiebreak=order_tiebreak,
    )
    # reference fills: neutral constants, then zero (lstm_forecasting.py:109-110)
    filled = with_macd.na.fill({"rsi": 50.0, "bb_position": 0.5})
    return filled.na.fill({c: 0.0 for c in FEATURE_COLS})


def sequences(
    features: DataFrame,
    feature_cols: list[str] | None = None,
    seq_len: int = 30,
    series: str = "symbol",
    time: str = "ts",
    label: str | None = None,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """W13: sliding (seq_len × n_features) windows as array<array<double>>.

    Only complete windows survive (reference builds exactly n-seq_len
    sequences per series). Output: series, time, features (nested array),
    optional label of the *current* row (the prediction target).
    """
    feature_cols = feature_cols or FEATURE_COLS
    order = [time] + (order_tiebreak or [])
    w = bar_window(series, order).rowsBetween(-(seq_len - 1), 0)
    vec = F.array(*[F.col(c).cast("double") for c in feature_cols])
    out = features.select(
        series,
        time,
        *([label] if label else []),
        F.collect_list(vec).over(w).alias("seq"),
    )
    return out.where(F.size("seq") == seq_len)


def ordered_split(
    df: DataFrame,
    fractions: tuple[float, float] = (0.70, 0.85),
    series: str = "symbol",
    time: str = "ts",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """W14: deterministic time-ordered train/val/test split per series.

    Appends ``split`` ∈ {train, val, test} using row_number vs per-series
    count (reference lstm_forecasting.py:210-218 slices positionally; NOT
    randomSplit — order matters). Thresholds: floor(n·f) like positional
    slicing.
    """
    order = [time] + (order_tiebreak or [])
    w = bar_window(series, order)
    wc = Window.partitionBy(series)
    rn = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wc)
    train_end = F.floor(n * F.lit(fractions[0]))
    val_end = F.floor(n * F.lit(fractions[1]))
    split = (
        F.when(rn <= train_end, "train").when(rn <= val_end, "val").otherwise("test")
    )
    return df.withColumn("split", split)
