"""Structured Streaming variants of the batch regime operators (SURVEY §2.10).

The reference is batch-only; its paginated fetch loop (reference
src/data_processing/data_fetching.py:91-113) is an incremental append source,
so the natural streaming surface declared in SURVEY §2.10 is:

    bar stream → watermark(ts) → tumbling aggregates        (stateless path)
    bar stream → stateful per-series labeler + transitions  (stateful path)

Design constraints Structured Streaming imposes (and how we meet them):

- Arbitrary window functions (lag/row_number) are unsupported on streams →
  the per-series rolling features are computed inside
  ``applyInPandasWithState``: the GroupState carries the last
  ``window_size×2`` closes per series (bounded state, ~KB per series), so
  each micro-batch labels its rows exactly as the batch operator would given
  the same prefix.
- Late data: the stateless path uses an event-time watermark; the stateful
  operators run on the shared ordered-recurrence driver
  (streaming/ordering.py), which sorts each series' rows by event time,
  admits new rows against the last emitted event time (``on_late``:
  raise, or drop, never silently fold a late row into the carried
  state) and, with ``delay_seconds > 0``, holds rows until the series'
  watermark passes them. ``delay_seconds=0`` (default) is in-order
  delivery, which availableNow/file replays satisfy by construction.
- State TTL: none by default; ``state_ttl_ms`` drops idle series
  (processing-time) to bound total state, but keeps an availableNow
  query from terminating (the driver's trigger caveat).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.regime import ShortTermThresholds
from .ordering import micros, ordered_recurrence


def streaming_bar_stats(
    stream: DataFrame,
    time: str = "ts",
    series: str = "symbol",
    value: str = "close",
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stateless path: watermarked tumbling per-series stats (A18 analog)."""
    return (
        stream.withWatermark(time, watermark)
        .groupBy(F.window(F.col(time), window).alias("w"), F.col(series))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(value).alias("mean_value"),
            F.stddev_samp(value).alias("std_value"),
            F.min(value).alias("min_value"),
            F.max(value).alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            series,
            "n",
            "mean_value",
            "std_value",
            "min_value",
            "max_value",
        )
    )


def _label_rows(
    closes: pd.Series, window_size: int, t: ShortTermThresholds
) -> pd.Series:
    """Batch-identical 5-way labeling over a (prefix + batch) close series.

    Pure pandas mirror of operators.regime.regime_features +
    detect_regime_5way so streaming output converges to batch output.
    """
    hourly = closes.pct_change()
    daily = closes.pct_change(window_size)
    vol = hourly.rolling(window_size).std() * np.sqrt(window_size)
    trend = np.sign(daily).rolling(window_size).mean().abs()
    bull = (daily > t.ret) & (trend > t.trend)
    bear = (daily < -t.ret) & (trend > t.trend)
    hivol = vol > t.volatility
    out = pd.Series("consolidation", index=closes.index)
    out[bull & ~hivol] = "stable_bull"
    out[bull & hivol] = "volatile_bull"
    out[bear & ~hivol] = "stable_bear"
    out[bear & hivol] = "volatile_bear"
    return out


def _columns(stream: DataFrame, *names: str) -> DataFrame:
    """``stream`` projected to the columns a step reads, so the driver
    ships and holds nothing else."""
    return stream.select(*dict.fromkeys(names))


def streaming_label_transitions(
    stream: DataFrame,
    series: str = "symbol",
    time: str = "ts",
    close: str = "close",
    window_size: int = 24,
    thresholds: ShortTermThresholds | None = None,
    state_ttl_ms: int | None = None,
    order_tiebreak: list[str] | None = None,
    on_late: str = "error",
    delay_seconds: float = 0,
) -> DataFrame:
    """Stateful path: per-series regime labels + transition flags on a stream.

    Emits one row per input bar: (series, ts, close, regime, prev_regime,
    is_transition). The carry per series is the last ``2×window_size``
    closes (warm-up prefix) and the last emitted regime — bounded
    regardless of stream length. ``order_tiebreak``, ``on_late``,
    ``delay_seconds`` and ``state_ttl_ms`` are the shared driver's
    (streaming/ordering.py): rows are labelled in ``[time,
    *order_tiebreak]`` order, a late row raises or is dropped instead of
    corrupting the close prefix, and a positive delay holds rows until
    the series' watermark passes them."""
    t = thresholds or ShortTermThresholds()
    keep = 2 * window_size

    def step(rows: pd.DataFrame, carry: tuple) -> tuple[pd.DataFrame, tuple]:
        prefix, last_regime = carry
        prefix = list(prefix or [])
        closes = prefix + rows[close].astype(float).tolist()
        labels = _label_rows(pd.Series(closes), window_size, t).to_numpy()[len(prefix):]
        prev = [last_regime] + labels.tolist()[:-1]
        out = pd.DataFrame(
            {
                series: rows[series].astype(str).to_numpy(),
                time: rows[time].to_numpy(),
                close: closes[len(prefix):],
                "regime": labels,
                "prev_regime": prev,
                "is_transition": [
                    p is not None and p != r for p, r in zip(prev, labels)
                ],
            }
        )
        return out, (closes[-keep:], labels[-1])

    return ordered_recurrence(
        _columns(stream, series, time, close, *(order_tiebreak or [])),
        step,
        out_schema=T.StructType(
            [
                T.StructField(series, T.StringType()),
                T.StructField(time, T.TimestampType()),
                T.StructField(close, T.DoubleType()),
                T.StructField("regime", T.StringType()),
                T.StructField("prev_regime", T.StringType()),
                T.StructField("is_transition", T.BooleanType()),
            ]
        ),
        carry_fields=[
            T.StructField("closes", T.ArrayType(T.DoubleType())),
            T.StructField("last_regime", T.StringType()),
        ],
        operator="streaming_label_transitions",
        series=series,
        time=time,
        order_tiebreak=order_tiebreak,
        on_late=on_late,
        delay_seconds=delay_seconds,
        state_ttl_ms=state_ttl_ms,
    )


def streaming_regime_transitions(
    stream: DataFrame,
    series: str = "symbol",
    time: str = "ts",
    regime: str = "regime",
    state_ttl_ms: int | None = None,
    order_tiebreak: list[str] | None = None,
    on_late: str = "error",
    delay_seconds: float = 0,
) -> DataFrame:
    """W12 gaps-and-islands ACROSS micro-batch boundaries (VERDICT r7 #8):
    the streaming continuation of ``operators.transitions.regime_transitions``
    over an already-labeled stream (series, ts, regime).

    The carry per series is O(1) — the OPEN run only: (regime, start,
    end). Each emitted slice (in ``[time, *order_tiebreak]`` order, the
    shared driver's, streaming/ordering.py) extends or closes it; a row
    whose label differs from the open run's emits the completed run as a
    transition — (from_regime, to_regime, start_time, end_time, duration,
    duration_days, is_volatility_increase, is_trend_change), the exact
    batch columns with the exact arithmetic (integer-microsecond diff /
    3.6e9, the same operand order as ``_duration_hours``) — so ANY
    micro-batch split of the same input yields byte-identical rows to the
    batch operator on the concatenation. The batch operator drops the
    final (still-open) run for the same reason this one keeps it in
    state: its successor hasn't arrived; a TTL flush emits the
    transitions among the held rows and drops the open run likewise.

    Composition note: labeling and run-tracking are BOTH stateful; chain
    them across two streaming queries (label → sink → this) rather than
    stacking two applyInPandasWithState operators in one query."""
    out_schema = T.StructType(
        [
            T.StructField(series, T.StringType()),
            T.StructField("from_regime", T.StringType()),
            T.StructField("to_regime", T.StringType()),
            T.StructField("start_time", T.TimestampType()),
            T.StructField("end_time", T.TimestampType()),
            T.StructField("duration", T.DoubleType()),
            T.StructField("duration_days", T.DoubleType()),
            T.StructField("is_volatility_increase", T.BooleanType()),
            T.StructField("is_trend_change", T.BooleanType()),
        ]
    )

    def step(rows: pd.DataFrame, carry: tuple) -> tuple[pd.DataFrame | None, tuple]:
        run_regime, run_start, run_end = carry
        labels = rows[regime].to_numpy(dtype=object)
        ts = micros(rows[time])
        if run_regime is not None:
            # the open run re-enters as its first and last row
            labels = np.concatenate([np.array([run_regime] * 2, dtype=object), labels])
            ts = np.concatenate([np.array([run_start, run_end], dtype=np.int64), ts])
        first = np.flatnonzero(np.r_[True, labels[1:] != labels[:-1]])
        carry = (labels[first[-1]], int(ts[first[-1]]), int(ts[-1]))
        if len(first) == 1:
            return None, carry
        frm, to = labels[first[:-1]], labels[first[1:]]
        start, end = ts[first[:-1]], ts[first[1:] - 1]
        duration = (end - start) / 3_600_000_000.0
        out = pd.DataFrame(
            {
                series: str(rows[series].iloc[0]),
                "from_regime": frm,
                "to_regime": to,
                "start_time": start.astype("datetime64[us]"),
                "end_time": end.astype("datetime64[us]"),
                "duration": duration,
                "duration_days": duration / 24.0,
                "is_volatility_increase": [
                    "volatile" not in a and "volatile" in b for a, b in zip(frm, to)
                ],
                "is_trend_change": [
                    ("bull" in a and "bear" in b) or ("bear" in a and "bull" in b)
                    for a, b in zip(frm, to)
                ],
            }
        )
        return out, carry

    return ordered_recurrence(
        _columns(stream, series, time, regime, *(order_tiebreak or [])),
        step,
        out_schema=out_schema,
        carry_fields=[
            T.StructField("run_regime", T.StringType()),
            T.StructField("run_start_us", T.LongType()),
            T.StructField("run_end_us", T.LongType()),
        ],
        operator="streaming_regime_transitions",
        series=series,
        time=time,
        order_tiebreak=order_tiebreak,
        on_late=on_late,
        delay_seconds=delay_seconds,
        state_ttl_ms=state_ttl_ms,
    )
