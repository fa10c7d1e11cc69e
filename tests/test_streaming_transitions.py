"""Streaming gaps-and-islands (W12) across micro-batch boundaries:
streaming_regime_transitions must byte-match the batch operator on the
concatenated input for any micro-batch split (VERDICT r7 #8), and the
shared ordered-recurrence driver's tie order and ``on_late`` admission
hold at every ``delay_seconds``."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException
from pyspark.sql import functions as F

from financial_big_data_spark.functions.ewm import macd as batch_macd
from financial_big_data_spark.operators.regime import detect_regime_5way, regime_features
from financial_big_data_spark.operators.transitions import regime_transitions
from financial_big_data_spark.streaming.ewm import streaming_macd
from financial_big_data_spark.streaming.regime import (
    streaming_label_transitions,
    streaming_regime_transitions,
)

REGIMES = [
    # runs deliberately SPAN the 3 batch cuts (minutes 0-20-40-60): the
    # run open at each boundary must close correctly in a later batch
    "bull_calm", "bull_calm", "bull_volatile", "bull_volatile", "bear_calm",
]
TRANSITION_COLS = (
    "symbol from_regime to_regime start_time end_time duration "
    "duration_days is_volatility_increase is_trend_change"
).split()


def _replay(spark, df, batches, build, name):
    """Write ``df`` cut by the ``batches`` conditions as files with
    increasing mtimes (one micro-batch each under maxFilesPerTrigger=1),
    run ``build(stream)`` to completion under availableNow, and return
    the memory-sink rows. A query that fails raises from here."""
    d = tempfile.mkdtemp(prefix=f"{name}_")
    try:
        for j, cond in enumerate(batches):
            path = f"{d}/f{j}"
            df.where(cond).coalesce(1).write.mode("overwrite").parquet(path)
            for p in os.listdir(path):
                os.utime(os.path.join(path, p), (1_700_000_000 + 60 * j,) * 2)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/f*")
        )
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(180), f"{name}: replay did not finish"
            n = len([p for p in q.recentProgress if p["numInputRows"] > 0])
            assert n == len(batches), f"{name}: {n} micro-batches"
        finally:
            q.stop()
        return spark.table(name).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _transitions(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in TRANSITION_COLS) for r in rows)


def _minute_series(spark, day: int, n: int):
    """One series "AAA", a row per minute of 2024-04-``day``: event id,
    a close and a regime that changes every 7 minutes."""
    rows = [
        ("AAA", i, dt.datetime(2024, 4, day) + dt.timedelta(minutes=i),
         100.0 + ((i * 37) % 13) - (i % 5) * 2.1,
         REGIMES[(i // 7) % len(REGIMES)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "symbol string, event_id long, ts timestamp, close double, regime string"
    )


def _minute(lo, hi):
    return (F.minute("ts") >= lo) & (F.minute("ts") < hi)


def test_streaming_transitions_byte_match_batch(spark):
    rows = [
        (s, dt.datetime(2024, 3, 1) + dt.timedelta(minutes=i),
         REGIMES[(i // stride) % len(REGIMES)])
        for s, stride in (("AAA", 7), ("BBB", 11))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, regime string")
    cuts = [_minute(lo, lo + 20) for lo in (0, 20, 40)]
    got = _transitions(_replay(spark, df, cuts, streaming_regime_transitions, "trans_tws"))
    # exact ==, not approx: durations must be byte-identical doubles
    assert got == _transitions(regime_transitions(df).collect())
    assert len(got) >= 6
    # at least one run spans a batch boundary (starts before a cut, ends
    # at/after it) — the thing single-batch processing cannot produce
    cut = dt.datetime(2024, 3, 1, 0, 20)
    assert any(r[3] < cut <= r[4] for r in got)


def test_streaming_transitions_out_of_order_raises_named(spark):
    """VERDICT r8 #5: a batch-2 row older than the last emitted event
    must fail loudly (naming the series), never silently extend a run it
    precedes."""
    df = _minute_series(spark, 2, 40)
    # batch 1 = minutes 20-39, batch 2 = minutes 0-19 (entirely late)
    cuts = [_minute(20, 40), _minute(0, 20)]
    with pytest.raises(StreamingQueryException, match="out-of-order") as err:
        _replay(spark, df, cuts, streaming_regime_transitions, "trans_ooo_err")
    assert "AAA" in str(err.value)


def test_state_layout_guard_named_error():
    """VERDICT r9 #7 / ADVICE r9: a state row restored from a checkpoint
    written by a different build (wrong field count OR wrong layout tag)
    must raise the NAMED restart-from-fresh-checkpoint error, never a raw
    tuple-unpack ValueError deep in the worker."""
    from financial_big_data_spark.streaming.ordering import (
        STATE_VERSION,
        read_state,
    )

    class FakeState:
        def __init__(self, row):
            self._row = row

        @property
        def get(self):
            return self._row

    # pre-r9 layout: operator fields only (1-tuple)
    with pytest.raises(ValueError, match="fresh checkpoint"):
        read_state(FakeState((0.5,)), 3, "streaming_ewm_mean")
    # r9 layout: right op fields + last_ts but NO version tag
    with pytest.raises(ValueError, match="incompatible layout"):
        read_state(FakeState((0.5, dt.datetime(2024, 1, 1))), 3, "x")
    # same length but a stale tag value (the previous layout's 4)
    with pytest.raises(ValueError, match="incompatible layout"):
        read_state(FakeState((4, 0.5, None)), 3, "x")
    # current layout round-trips
    assert read_state(FakeState((STATE_VERSION, 0.5, None)), 3, "x") == (0.5, None)


@pytest.mark.parametrize("tiebreak", ["int", "float", "string"])
def test_sort_order_matches_stable_sort_values(tiebreak):
    """The driver's one ``np.lexsort`` orders a tie-heavy frame row for row
    as ``sort_values([ts, event_id], kind="mergesort")`` does: timestamps
    drawn from six values with NaT among them, ``event_id`` with ties and
    missing values, NaN/NaT last."""
    import numpy as np
    import pandas as pd

    from financial_big_data_spark.streaming.ordering import sort_order

    rng = np.random.default_rng(5)
    n = 400
    ts = pd.Series(pd.to_datetime("2024-01-01") + pd.to_timedelta(rng.integers(0, 6, n), "min"))
    ts[rng.random(n) < 0.05] = pd.NaT
    ids = rng.integers(0, 8, n)
    event_id = {
        "int": pd.Series(ids),
        "float": pd.Series(np.where(rng.random(n) < 0.1, np.nan, ids * 0.5)),
        "string": pd.Series([None if r < 0.1 else f"e{i}" for r, i in zip(rng.random(n), ids)]),
    }[tiebreak]
    pdf = pd.DataFrame({"ts": ts, "event_id": event_id, "row": np.arange(n)})
    want = pdf.sort_values(["ts", "event_id"], kind="mergesort")["row"].to_numpy()
    assert (pdf["row"].to_numpy()[sort_order(pdf, ["ts", "event_id"])] == want).all()


def test_streaming_transitions_buffered_disordered_byte_match(spark):
    """VERDICT r9 #4: delay_seconds= on the W12 run tracker — a
    disordered-within-bound replay byte-matches the batch operator (the
    late minute-28 row folds back into event-time order; every
    transition-triggering row clears the final watermark, so the outputs
    are IDENTICAL, not a prefix)."""
    df = _minute_series(spark, 1, 60).select("symbol", "ts", "regime")
    # batch 1 = minutes 0-29 except 28; batch 2 leads with the
    # 1-minute-late 28, then 30-59: a 90 s bound absorbs it
    late = F.minute("ts") == 28
    cuts = [(F.minute("ts") <= 29) & ~late, late | (F.minute("ts") >= 30)]
    got = _transitions(
        _replay(
            spark, df, cuts,
            lambda s: streaming_regime_transitions(s, delay_seconds=90),
            "trans_buf",
        )
    )
    # 4 completed runs (consecutive REGIMES entries repeat, merging
    # adjacent 7-minute blocks); the 5th run stays open and drops, same
    # as batch
    assert got == _transitions(regime_transitions(df).collect()) and len(got) == 4
    # the late minute-28 row OPENS the bear_calm run — its start time is
    # exactly the absorbed row, proving it folded back in order
    assert any(r[3] == dt.datetime(2024, 4, 1, 0, 28) for r in got)


def test_streaming_transitions_buffered_beyond_bound_raises(spark):
    df = _minute_series(spark, 2, 40).select("symbol", "ts", "regime")
    # batch 2 leads with minute 5 — 15 min behind batch 1's max of 20,
    # far beyond the 60 s bound (minute 5 predates emitted rows)
    cuts = [
        (F.minute("ts") >= 6) & (F.minute("ts") <= 20),
        (F.minute("ts") <= 5) | (F.minute("ts") > 20),
    ]
    with pytest.raises(StreamingQueryException, match="beyond the reorder bound") as err:
        _replay(
            spark, df, cuts,
            lambda s: streaming_regime_transitions(s, delay_seconds=60),
            "trans_buf_err",
        )
    assert "AAA" in str(err.value)


def test_label_to_transitions_buffered_end_to_end(spark):
    """VERDICT r9 #4 done-bar: a disordered-within-bound bar replay,
    buffered at the LABELING entry, byte-matches the batch pipeline end
    to end THROUGH transitions: buffered labels == batch labels on the
    emitted prefix, and the (in-order) label stream through the run
    tracker == batch regime_transitions on that prefix."""
    rows = [
        ("AAA", dt.datetime(2024, 4, 3) + dt.timedelta(minutes=i),
         100.0 + ((i * 37) % 13) - (i % 5) * 2.1)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
    # timestamp-literal cuts, NOT minute() — the 90-row series crosses
    # the hour, so minute() wraps and would scramble the batches
    t0 = dt.datetime(2024, 4, 3)
    late = F.col("ts") == F.lit(t0 + dt.timedelta(minutes=43))
    cut = F.col("ts") >= F.lit(t0 + dt.timedelta(minutes=45))
    got_rows = _replay(
        spark, df, [~cut & ~late, late | cut],
        lambda s: streaming_label_transitions(
            s, series="symbol", time="ts", close="close",
            window_size=8, delay_seconds=90,
        ),
        "labels_buf",
    )
    # final watermark = minute 89 - 1.5 => labels emitted through 87
    wm = dt.datetime(2024, 4, 3, 1, 27, 30)
    batch_labels = detect_regime_5way(
        regime_features(
            df.withColumn("volume", F.col("close")),
            series="symbol", time="ts", close="close", volume="volume",
            window_size=8,
        )
    ).where(F.col("ts") <= F.lit(wm))
    exp_map = {r.ts: r.regime for r in batch_labels.collect()}
    got_map = {r.ts: r.regime for r in got_rows}
    assert got_map == exp_map and len(got_map) >= 85
    # ...and THROUGH transitions: buffered-label output is in order,
    # so the run tracker consumes it under its enforced contract
    got_labels = spark.createDataFrame(
        [(r.symbol, r.ts, r.regime) for r in got_rows],
        "symbol string, ts timestamp, regime string",
    )
    assert _transitions(regime_transitions(got_labels).collect()) == _transitions(
        regime_transitions(batch_labels.select("symbol", "ts", "regime")).collect()
    )


# A series with two rows at one timestamp (minute 5, event ids 5 and 6)
# whose event-id order differs from their label order: a tie broken by
# label gives bull, bear, bull, bear, bull (4 transitions) where the
# event-id order gives bull, bear, bull (2).
TIE_CLOSES = [100.0, 101.5, 103.0, 104.6, 106.2, 99.0, 108.0,
              109.7, 111.3, 104.0, 98.0, 97.0, 96.0]


@pytest.fixture(scope="module")
def tied_series(spark):
    rows = [
        ("AAA", i, dt.datetime(2024, 4, 5) + dt.timedelta(minutes=i - (i > 5)),
         TIE_CLOSES[i], "bear_calm" if i in (6, 7) else "bull_calm")
        for i in range(len(TIE_CLOSES))
    ]
    return spark.createDataFrame(
        rows, "symbol string, event_id long, ts timestamp, close double, regime string"
    )


@pytest.mark.parametrize("delay", [0, 90])
def test_streaming_transitions_tie_order_matches_batch(spark, tied_series, delay):
    """The tie at minute 5 sits inside batch 1 and is ordered by
    ``order_tiebreak`` at every delay, as in the batch operator."""
    df = tied_series.select("symbol", "event_id", "ts", "regime")
    got = _transitions(
        _replay(
            spark, df, [F.minute("ts") <= 6, F.minute("ts") > 6],
            lambda s: streaming_regime_transitions(
                s, order_tiebreak=["event_id"], delay_seconds=delay
            ),
            f"trans_tie_{delay}",
        )
    )
    exp = _transitions(regime_transitions(df, order_tiebreak=["event_id"]).collect())
    assert got == exp and len(got) == 2


@pytest.mark.parametrize("delay", [0, 90])
def test_streaming_labels_tie_split_across_batches_matches_batch(
    spark, tied_series, delay
):
    """The tie at minute 5 is split across batches (event 5 in batch 1,
    event 6 in batch 2); the labels follow the event-id order, as the
    batch labeller's with the same tiebreak (the close order at the tie
    changes the labels)."""
    df = tied_series.select("symbol", "event_id", "ts", "close")
    got = _replay(
        spark, df, [F.col("event_id") <= 5, F.col("event_id") > 5],
        lambda s: streaming_label_transitions(
            s, window_size=2, order_tiebreak=["event_id"], delay_seconds=delay
        ),
        f"labels_tie_{delay}",
    )
    batch = detect_regime_5way(
        regime_features(
            df.withColumn("volume", F.col("close")),
            window_size=2, order_tiebreak=["event_id"],
        )
    )
    exp = [(r.ts, r.close, r.regime) for r in batch.orderBy("event_id").collect()]
    # the 90 s delay holds minutes 10 and 11 back (final watermark 9:30)
    emitted = [e for e in exp if delay == 0 or e[0] <= dt.datetime(2024, 4, 5, 0, 9, 30)]
    assert sorted((r.ts, r.close, r.regime) for r in got) == sorted(emitted)


def _late_cuts():
    """Batch 1 = minutes 6-20; batch 2 leads with minute 5, behind the
    last emitted minute 19 under a 60 s bound."""
    return [_minute(6, 21), (F.minute("ts") == 5) | (F.minute("ts") > 20)]


LATE_OPS = {
    "macd": (
        lambda s, **kw: streaming_macd(s, **kw),
        lambda df: sorted(
            (r.ts, r.macd, r.macd_signal, r.macd_hist) for r in batch_macd(df).collect()
        ),
        lambda rows: sorted((r.ts, r.macd, r.macd_signal, r.macd_hist) for r in rows),
    ),
    "labels": (
        lambda s, **kw: streaming_label_transitions(s, window_size=4, **kw),
        lambda df: sorted(
            (r.ts, r.regime)
            for r in detect_regime_5way(
                regime_features(df.withColumn("volume", F.col("close")), window_size=4)
            ).collect()
        ),
        lambda rows: sorted((r.ts, r.regime) for r in rows),
    ),
    "transitions": (
        lambda s, **kw: streaming_regime_transitions(s, **kw),
        lambda df: _transitions(regime_transitions(df).collect()),
        _transitions,
    ),
}


@pytest.mark.parametrize("op", sorted(LATE_OPS))
def test_on_late_drop_discards_row_beyond_bound(spark, op):
    """``on_late="drop"`` at ``delay_seconds=60`` discards the late
    minute 5; the output equals the batch operator on the delivered rows
    from minute 6 up to the final watermark (minute 38)."""
    build, batch, key = LATE_OPS[op]
    df = _minute_series(spark, 6, 40)
    got = _replay(
        spark, df, _late_cuts(),
        lambda s: build(s, on_late="drop", delay_seconds=60),
        f"late_drop_{op}",
    )
    kept = df.where((F.minute("ts") >= 6) & (F.minute("ts") <= 38))
    assert key(got) == batch(kept)


@pytest.mark.parametrize("op", sorted(LATE_OPS))
def test_on_late_error_raises_beyond_bound(spark, op):
    build, _, _ = LATE_OPS[op]
    df = _minute_series(spark, 7, 40)
    with pytest.raises(StreamingQueryException, match="beyond the reorder bound") as err:
        _replay(
            spark, df, _late_cuts(),
            lambda s: build(s, on_late="error", delay_seconds=60),
            f"late_err_{op}",
        )
    assert "AAA" in str(err.value)
