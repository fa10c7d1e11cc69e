"""REST source scaffolding tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.sources.rest import fetch_ohlcv, top_symbols, write_bars

HOUR_MS = 3_600_000


def _fake_exchange(n_bars=2500):
    """Deterministic in-memory exchange: hourly bars from epoch 0."""

    def fetch_page(symbol, since_ms, limit):
        start_idx = max((since_ms + HOUR_MS - 1) // HOUR_MS, 0)
        base = float(abs(hash(symbol)) % 100 + 1)
        out = []
        for i in range(start_idx, min(start_idx + limit, n_bars)):
            px = base + (i % 50) * 0.1
            out.append([i * HOUR_MS, px, px * 1.01, px * 0.99, px + 0.05, 1000.0 + i])
        return out

    return fetch_page


def test_fetch_ohlcv_pagination(spark):
    symbols = spark.createDataFrame([("AAA/USDT",), ("BBB/USDT",)], "symbol string")
    end = 2499 * HOUR_MS
    bars = fetch_ohlcv(symbols, _fake_exchange(), start_ms=0, end_ms=end, page_limit=1000)
    counts = {r.symbol: r["count"] for r in bars.groupBy("symbol").count().collect()}
    assert counts == {"AAA/USDT": 2500, "BBB/USDT": 2500}  # 3 pages stitched
    # cursor never duplicates and stays ordered
    one = bars.where("symbol='AAA/USDT'")
    assert one.select("ts").distinct().count() == 2500


def test_fetch_ohlcv_respects_end(spark):
    symbols = spark.createDataFrame([("AAA/USDT",)], "symbol string")
    bars = fetch_ohlcv(symbols, _fake_exchange(), start_ms=0, end_ms=99 * HOUR_MS)
    assert bars.count() == 100


def test_fetch_ohlcv_retries(spark):
    calls = {"n": 0}
    inner = _fake_exchange()

    def flaky(symbol, since, limit):
        calls["n"] += 1
        if calls["n"] % 3 == 1:
            raise ConnectionError("transient")
        return inner(symbol, since, limit)

    symbols = spark.createDataFrame([("AAA/USDT",)], "symbol string")
    bars = fetch_ohlcv(
        symbols, flaky, start_ms=0, end_ms=99 * HOUR_MS, max_retries=3, backoff_s=0.0
    )
    assert bars.count() == 100


def test_fetch_ohlcv_does_not_retry_other_errors(spark):
    """Only transport errors (``OSError``) are retried: a ``ValueError``
    from ``fetch_page`` propagates from its first call, with no retry and
    no backoff sleep."""
    calls = {"n": 0}

    def malformed(symbol, since, limit):
        calls["n"] += 1
        raise ValueError(f"malformed page (call {calls['n']})")

    symbols = spark.createDataFrame([("AAA/USDT",)], "symbol string")
    bars = fetch_ohlcv(
        symbols, malformed, start_ms=0, end_ms=99 * HOUR_MS, max_retries=3, backoff_s=10.0
    )
    start = time.monotonic()
    with pytest.raises(Exception, match=r"malformed page \(call 1\)") as err:
        bars.collect()
    assert time.monotonic() - start < 10.0
    assert "call 2" not in str(err.value)


def test_top_symbols(spark):
    rows = [
        ("AAA/USDT", 100.0),
        ("BBB/USDT", 300.0),
        ("CCC/BTC", 999.0),  # filtered by suffix
        ("DDD/USDT", 200.0),
    ]
    t = spark.createDataFrame(rows, "symbol string, quote_volume double")
    got = [r.symbol for r in top_symbols(t, n=2).collect()]
    assert got == ["BBB/USDT", "DDD/USDT"]


def test_write_bars_partition_pruning(spark, tmp_path):
    symbols = spark.createDataFrame([("AAA/USDT",), ("BBB/USDT",)], "symbol string")
    bars = fetch_ohlcv(symbols, _fake_exchange(), start_ms=0, end_ms=49 * HOUR_MS)
    path = str(tmp_path / "bars")
    write_bars(bars, path)
    rd = spark.read.parquet(path).where(F.col("symbol") == "AAA/USDT")
    assert rd.count() == 50
    # partition pruning reaches the scan: symbol is a PartitionFilter
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "symbol" in plan.split("PartitionFilters")[1][:200]

