"""Streaming EWM/MACD: byte-exact continuation of the batch recurrence
across micro-batches, through the one seeded kernel both share."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.functions.ewm import ewm_mean as batch_ewm
from financial_big_data_spark.functions.ewm import macd as batch_macd
from financial_big_data_spark.streaming.ewm import streaming_ewm_mean, streaming_macd


def _write_batches(df, conds, d):
    """One file per condition, with strictly increasing mtimes: one
    micro-batch each, in this order, under maxFilesPerTrigger=1
    (FileStreamSource orders by modification time)."""
    for j, cond in enumerate(conds):
        path = f"{d}/f{j}"
        df.where(cond).coalesce(1).write.mode("overwrite").parquet(path)
        for p in os.listdir(path):
            os.utime(os.path.join(path, p), (1_700_000_000 + 60 * j,) * 2)


@pytest.fixture(scope="module")
def ewm_stream(spark):
    rows = []
    for s in ("AAA", "BBB"):
        for i in range(60):
            rows.append(
                (
                    s,
                    dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                    100.0 + ((i * 37) % 13) - (i % 5) * 0.7,
                )
            )
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
    d = tempfile.mkdtemp(prefix="ewm_stream_")
    # three micro-batches in event-time order
    _write_batches(
        df,
        [(F.minute("ts") >= lo) & (F.minute("ts") < lo + 20) for lo in (0, 20, 40)],
        d,
    )
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


def _run(spark, d, build, name):
    schema = spark.read.parquet(f"{d}/f0").schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{d}/f*")
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
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    finally:
        q.stop()
    return spark.table(name), n_batches


def test_streaming_ewm_mean_bit_exact_across_batches(spark, ewm_stream):
    df, d = ewm_stream
    got_df, n_batches = _run(
        spark, d, lambda s: streaming_ewm_mean(s, value="close", span=10), "ewm_tws"
    )
    assert n_batches >= 3, "state carry-over untested with a single micro-batch"
    got = {(r.symbol, r.ts): r.ewm for r in got_df.collect()}
    exp = {
        (r.symbol, r.ts): r.ewm
        for r in batch_ewm(df, value="close", span=10).collect()
    }
    assert len(got) == len(exp) == 120
    # exact ==, not approx: the continuation must be byte-identical
    mism = [k for k in exp if got[k] != exp[k]]
    assert not mism, mism[:5]


def test_streaming_macd_bit_exact_across_batches(spark, ewm_stream):
    df, d = ewm_stream
    got_df, n_batches = _run(spark, d, streaming_macd, "macd_tws")
    assert n_batches >= 3
    got = {
        (r.symbol, r.ts): (r.macd, r.macd_signal, r.macd_hist)
        for r in got_df.collect()
    }
    exp = {
        (r.symbol, r.ts): (r.macd, r.macd_signal, r.macd_hist)
        for r in batch_macd(df).collect()
    }
    assert len(got) == len(exp) == 120
    mism = [k for k in exp if got[k] != exp[k]]
    assert not mism, mism[:5]


def test_continue_ewm_span_not_alpha():
    """pandas derives the decay weight differently for span= and alpha= —
    equal as reals, one ulp apart as doubles, diverging the recurrence
    within a few steps. The shared kernel, continued chunk by chunk from
    its carry, must use span=."""
    import numpy as np
    import pandas as pd

    from financial_big_data_spark.functions.ewm import FRESH, ewm_runs

    s = pd.Series([100.0 + ((i * 37) % 13) for i in range(20)])
    a = s.ewm(span=10, adjust=False).mean()
    b = s.ewm(alpha=2.0 / 11.0, adjust=False).mean()
    assert (a.to_numpy() != b.to_numpy()).any()  # the trap is real

    out, carry = [], FRESH
    for chunk in (s[:7], s[7:13], s[13:]):
        y, carry = ewm_runs(chunk, np.zeros(len(chunk), dtype=np.int64), 10, carry)
        out.append(y)
    assert (np.concatenate(out) == a.to_numpy()).all()


@pytest.fixture(scope="module")
def null_run_stream(spark):
    """Every cut point of two series with NULL closes, in one stream: series
    ``{name}/{cut}`` holds the values of ``name``, rows before ``cut`` in
    micro-batch 1 and the rest in micro-batch 2. ``lead`` is NULL-led."""
    values = {
        "mid": [1.0, 2.0, None, None, 5.0, 6.0, 7.0],
        "lead": [None, None, 3.0, None, None, 6.0, 7.0],
    }
    rows = [
        (f"{name}/{cut}", dt.datetime(2024, 3, 1) + dt.timedelta(minutes=i), v, i, cut)
        for name, vs in values.items()
        for cut in range(len(vs) + 1)
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts timestamp, close double, i int, cut int"
    )
    d = tempfile.mkdtemp(prefix="ewm_null_run_")
    _write_batches(df, [F.col("i") < F.col("cut"), F.col("i") >= F.col("cut")], d)
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("op", ["ewm", "macd"])
def test_streaming_cut_inside_null_run_matches_batch(spark, null_run_stream, op):
    """A micro-batch may end inside a NULL-close run: pandas decays its
    weight on every NULL row without resetting it, so the carry must hold
    the pending NULLs as well as the value. Every cut point gives the batch
    operator's doubles exactly."""
    df, d = null_run_stream
    if op == "ewm":
        build = lambda s: streaming_ewm_mean(s, value="close", span=12)  # noqa: E731
        batch = batch_ewm(df, value="close", span=12)
        cols = ["ewm"]
    else:
        build, batch, cols = streaming_macd, batch_macd(df), ["macd", "macd_signal", "macd_hist"]
    got_df, n_batches = _run(spark, d, build, f"null_run_{op}")
    assert n_batches == 2
    got = {(r.symbol, r.i): tuple(r[c] for c in cols) for r in got_df.collect()}
    exp = {(r.symbol, r.i): tuple(r[c] for c in cols) for r in batch.collect()}
    assert len(got) == len(exp) == 112
    mism = sorted(k for k in exp if got[k] != exp[k])
    assert not mism, mism[:5]


def test_streaming_ewm_multi_chunk_group(spark, ewm_stream):
    """A group bigger than arrow maxRecordsPerBatch arrives as MULTIPLE
    unordered chunks — the processor must concat + sort the whole batch
    before continuing the recurrence (regression: per-chunk sorting with
    cross-chunk carry diverged from batch)."""
    df, d = ewm_stream
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got_df, _ = _run(
            spark,
            d,
            lambda s: streaming_ewm_mean(s, value="close", span=10),
            "ewm_chunked",
        )
        got = {(r.symbol, r.ts): r.ewm for r in got_df.collect()}
        exp = {
            (r.symbol, r.ts): r.ewm
            for r in batch_ewm(df, value="close", span=10).collect()
        }
        assert len(got) == 120
        mism = [k for k in exp if got[k] != exp[k]]
        assert not mism, mism[:5]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.fixture(scope="module")
def ooo_stream(spark):
    """Two micro-batches that VIOLATE the cross-batch order: batch 1 holds
    the even minutes 0..58, batch 2 the odd minutes 1..59 — every batch-2
    row except :59 is older than batch 1's last processed event."""
    rows = [
        ("AAA", dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
         100.0 + ((i * 37) % 13) - (i % 5) * 0.7)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
    d = tempfile.mkdtemp(prefix="ewm_ooo_")
    _write_batches(df, [F.minute("ts") % 2 == 0, F.minute("ts") % 2 == 1], d)
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_ewm_out_of_order_raises_named(spark, ooo_stream):
    """VERDICT r8 #5: a late row must fail the batch LOUDLY, naming the
    series and timestamps — never silently corrupt the recurrence."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    _, d = ooo_stream
    with pytest.raises(StreamingQueryException, match="out-of-order") as err:
        _run(
            spark, d, lambda s: streaming_ewm_mean(s, value="close", span=10), "ewm_ooo_err"
        )
    assert "AAA" in str(err.value)


def test_streaming_ewm_out_of_order_drop_processes_in_order_subset(spark, ooo_stream):
    """on_late='drop': late rows are discarded and the survivors continue
    the recurrence byte-identically to the batch operator on the kept
    (in-order) subset."""
    df, d = ooo_stream
    got_df, _ = _run(
        spark,
        d,
        lambda s: streaming_ewm_mean(s, value="close", span=10, on_late="drop"),
        "ewm_ooo_drop",
    )
    got = {(r.symbol, r.ts): r.ewm for r in got_df.collect()}
    # kept subset: all even minutes (batch 1) + :59 (the only odd row not
    # older than batch 1's last processed :58)
    kept = df.where((F.minute("ts") % 2 == 0) | (F.minute("ts") == 59))
    exp = {
        (r.symbol, r.ts): r.ewm
        for r in batch_ewm(kept, value="close", span=10).collect()
    }
    assert got == exp and len(got) == 31


def test_on_late_validated_eagerly(spark, ooo_stream):
    df, _ = ooo_stream
    with pytest.raises(ValueError, match="on_late"):
        streaming_ewm_mean(df, value="close", span=10, on_late="ignore")


@pytest.fixture(scope="module")
def buffered_stream(spark):
    """Bounded disorder: batch 1 = minutes 0-24 and 26-29; batch 2 leads
    with the late minute 25 (4 min behind batch 1's max) then 30-59."""
    rows = [
        ("AAA", dt.datetime(2024, 2, 1) + dt.timedelta(minutes=i),
         100.0 + ((i * 37) % 13) - (i % 5) * 0.7)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "symbol string, ts timestamp, close double")
    d = tempfile.mkdtemp(prefix="ewm_buf_")
    b1 = (F.minute("ts") <= 24) | ((F.minute("ts") >= 26) & (F.minute("ts") <= 29))
    b2 = (F.minute("ts") == 25) | (F.minute("ts") >= 30)
    _write_batches(df, [b1, b2], d)
    yield df, d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_ewm_buffered_absorbs_bounded_disorder(spark, buffered_stream):
    """The reorder buffer (``delay_seconds > 0``): a 10-minute watermark
    absorbs the 4-minute-late row; emitted rows are byte-identical to
    the batch operator on the SORTED full input (prefix up to the final
    watermark); the last delay's worth of rows stays buffered."""
    df, d = buffered_stream
    got_df, _ = _run(
        spark,
        d,
        lambda s: streaming_ewm_mean(s, value="close", span=10, delay_seconds=600),
        "ewm_buf",
    )
    got = {(r.symbol, r.ts): r.ewm for r in got_df.collect()}
    # final watermark = minute 59 - 10 => rows up to minute 49 emitted,
    # INCLUDING the late minute 25 folded back into event-time order
    exp = {
        (r.symbol, r.ts): r.ewm
        for r in batch_ewm(df, value="close", span=10)
        .where(F.minute("ts") <= 49)
        .collect()
    }
    assert len(got) == 50 and got == exp


def test_streaming_ewm_buffered_beyond_bound_raises(spark, buffered_stream):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    df, d = buffered_stream
    # 60s bound: after batch 1 the watermark sits at minute 28, so the
    # 4-minute-late minute 25 in batch 2 is older than the last EMITTED
    # event — beyond the bound, must fail naming the series
    with pytest.raises(StreamingQueryException, match="beyond the reorder bound") as err:
        _run(
            spark,
            d,
            lambda s: streaming_ewm_mean(s, value="close", span=10, delay_seconds=60),
            "ewm_buf_err",
        )
    assert "AAA" in str(err.value)


def test_streaming_ewm_buffered_carries_input_columns(spark):
    """VERDICT r9 #4: the buffered EWM's output schema is the INPUT
    schema + ewm — extra columns ride the reorder buffer instead of
    being projected away (no re-join on (series, ts) needed)."""
    rows = [
        ("AAA", dt.datetime(2024, 5, 1) + dt.timedelta(minutes=i),
         100.0 + i * 0.5, i * 10, f"tag{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts timestamp, close double, volume long, tag string"
    )
    d = tempfile.mkdtemp(prefix="ewm_buf_carry_")
    try:
        b1 = (F.minute("ts") <= 14) & (F.minute("ts") != 13)
        b2 = (F.minute("ts") == 13) | (F.minute("ts") >= 15)
        _write_batches(df, [b1, b2], d)

        def build(stream):
            out = streaming_ewm_mean(stream, value="close", span=5, delay_seconds=120)
            assert out.columns == ["symbol", "ts", "close", "volume", "tag", "ewm"]
            return out

        got_df, _ = _run(spark, d, build, "ewm_carry")
        got = {r.ts: (r.volume, r.tag, r.ewm) for r in got_df.collect()}
        # watermark = minute 29 - 2 => rows through minute 27 emitted,
        # the late minute 13 included, extra columns intact
        exp_ewm = {
            r.ts: r.ewm
            for r in batch_ewm(df, value="close", span=5)
            .where(F.minute("ts") <= 27)
            .collect()
        }
        assert set(got) == set(exp_ewm) and len(got) == 28
        for i in range(28):
            ts = dt.datetime(2024, 5, 1) + dt.timedelta(minutes=i)
            vol, tag, ewm = got[ts]
            assert (vol, tag) == (i * 10, f"tag{i}")
            assert ewm == exp_ewm[ts]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_drop_replayed_discards_equal_timestamp_redelivery():
    """ADVICE r9: on_late='drop' keeps rows with event time EQUAL to the
    last emitted (an at-least-once redelivery re-folds into the
    recurrence); on_late='drop-replayed' drops at-or-before rows, so the
    redelivered last row is discarded. The driver's admission step is
    the same at every delay."""
    import pandas as pd

    from financial_big_data_spark.streaming.ordering import admit, micros

    t = [dt.datetime(2024, 6, 1, 0, m) for m in range(4)]
    last_us = int(micros(pd.Series([t[2]]))[0])

    def kept(ts, on_late, delay=0):
        pdf = pd.DataFrame({"ts": ts, "v": [1.0, 2.0]})
        rows, _ = admit(pdf, micros(pdf["ts"]), last_us, on_late, "AAA", "op", delay)
        return rows["ts"].tolist()

    for delay in (0, 60):
        assert kept([t[2], t[3]], "drop", delay) == [t[2], t[3]]  # equal ts reprocessed
        assert kept([t[2], t[3]], "drop-replayed", delay) == [t[3]]  # redelivery discarded
        # strictly-late rows drop under both
        assert kept([t[0], t[3]], "drop", delay) == [t[3]]
        assert kept([t[0], t[3]], "drop-replayed", delay) == [t[3]]
        with pytest.raises(ValueError, match="beyond the reorder bound"):
            kept([t[0], t[3]], "error", delay)


def test_streaming_macd_buffered_absorbs_disorder_and_carries_columns(spark):
    """delay_seconds= on MACD: a disordered-within-bound replay
    byte-matches the batch MACD on the emitted watermark prefix, with
    input columns carried."""
    rows = [
        ("AAA", dt.datetime(2024, 5, 2) + dt.timedelta(minutes=i),
         100.0 + ((i * 37) % 13) - (i % 5) * 0.7, i)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "symbol string, ts timestamp, close double, seq long"
    )
    d = tempfile.mkdtemp(prefix="macd_buf_")
    try:
        b1 = (F.minute("ts") <= 19) & (F.minute("ts") != 18)
        b2 = (F.minute("ts") == 18) | (F.minute("ts") >= 20)
        _write_batches(df, [b1, b2], d)

        def build(stream):
            out = streaming_macd(stream, close="close", delay_seconds=120)
            assert out.columns == [
                "symbol", "ts", "close", "seq", "macd", "macd_signal", "macd_hist"
            ]
            return out

        got_df, _ = _run(spark, d, build, "macd_buf")
        got = {
            r.ts: (r.seq, r.macd, r.macd_signal, r.macd_hist)
            for r in got_df.collect()
        }
        # watermark = minute 39 - 2 => rows through minute 37 emitted
        exp = {
            r.ts: (r.macd, r.macd_signal, r.macd_hist)
            for r in batch_macd(df, close="close")
            .where(F.minute("ts") <= 37)
            .collect()
        }
        assert set(got) == set(exp) and len(got) == 38
        for ts, (seq, m, s, h) in got.items():
            assert (m, s, h) == exp[ts]  # byte-exact doubles
            assert seq == ts.minute  # carried column intact
    finally:
        shutil.rmtree(d, ignore_errors=True)
