"""Structured Streaming operators + the EP2 composite plan."""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.operators.regime import detect_regime_5way, regime_features
from financial_big_data_spark.plans.market_analysis import market_analysis_plan
from financial_big_data_spark.streaming.regime import (
    streaming_bar_stats,
    streaming_label_transitions,
)


@pytest.fixture(scope="module")
def stream_dir(spark, bars_df):
    d = tempfile.mkdtemp(prefix="bars_stream_")
    # timestamp (not ntz) for watermark support; 4 files → several input splits
    bars_df.withColumn("ts", F.col("ts").cast("timestamp")).repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120), f"{name}: stream did not finish"
    finally:
        q.stop()
    return spark.table(name)


def test_streaming_bar_stats_matches_batch(spark, stream_dir, bars_df):
    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    out = streaming_bar_stats(stream, time="ts", series="symbol", value="close")
    # append mode emits only watermark-closed windows; compare those to batch
    got = _run_stream(spark, out, "bar_stats")
    batch = (
        bars_df.groupBy(F.window(F.col("ts").cast("timestamp"), "1 day").alias("w"), "symbol")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("close").alias("mean_value"))
        .select(F.col("w.start").alias("window_start"), "symbol", "n", "mean_value")
    )
    got_rows = {
        (r.window_start, r.symbol): (r.n, round(r.mean_value, 9))
        for r in got.collect()
    }
    batch_rows = {
        (r.window_start, r.symbol): (r.n, round(r.mean_value, 9))
        for r in batch.collect()
    }
    assert got_rows, "stream emitted nothing"
    for k, v in got_rows.items():
        assert batch_rows[k] == v, k
    # every emitted window is complete (closed by the watermark)
    emitted = set(got_rows)
    assert all(k in batch_rows for k in emitted)


def test_streaming_labels_match_batch(spark, stream_dir, bars_df, bars_pdf):
    schema = spark.read.parquet(stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    out = streaming_label_transitions(stream, series="symbol", time="ts", close="close")
    got = _run_stream(spark, out, "labels")
    assert got.count() == len(bars_pdf)

    batch = detect_regime_5way(
        regime_features(bars_df, series="symbol", time="ts", close="close", volume="volume")
    )
    batch_map = {(r.symbol, r.ts): r.regime for r in batch.select("symbol", "ts", "regime").collect()}
    mismatches = [
        (r.symbol, r.ts, r.regime, batch_map[(r.symbol, r.ts.replace(tzinfo=None))])
        for r in got.collect()
        if batch_map[(r.symbol, r.ts.replace(tzinfo=None))] != r.regime
    ]
    assert not mismatches, mismatches[:5]
    # transition flags: count equals batch islands - n_series
    n_trans = got.where("is_transition").count()
    from financial_big_data_spark.operators.transitions import regime_transitions

    assert n_trans == regime_transitions(batch).count()


def test_market_analysis_plan(spark, bars_df, bars_pdf):
    res = market_analysis_plan(bars_df)
    dist = {r.regime: r.n for r in res.regime_distribution.collect()}
    assert sum(dist.values()) == len(bars_pdf)
    assert len(dist) >= 4  # nondegenerate fixture
    probs = res.transition_matrix.groupBy("from_regime").agg(
        F.sum("probability").alias("p")
    ).collect()
    for r in probs:
        assert abs(r.p - 1.0) < 1e-9
    assert res.top_transitions.count() <= 5
    assert res.profiles.count() == bars_pdf["symbol"].nunique()
    stats = res.period_stats.collect()[0]
    assert stats.n_series == 3 and stats.n_rows == len(bars_pdf)
    # daily buckets partition all rows
    assert res.daily_regime.agg(F.sum("n")).collect()[0][0] == len(bars_pdf)
    res.unpersist()


def test_market_analysis_plan_period_filter(spark, bars_df, bars_pdf):
    res = market_analysis_plan(bars_df, start="2024-01-05", end="2024-01-10")
    n = res.regime_distribution.agg(F.sum("n")).collect()[0][0]
    exp = len(
        bars_pdf[(bars_pdf.ts >= "2024-01-05") & (bars_pdf.ts <= "2024-01-10")]
    )
    assert n == exp
    res.unpersist()
