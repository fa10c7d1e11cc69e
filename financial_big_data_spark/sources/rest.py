"""Paginated REST OHLCV source scaffolding (SURVEY §2.1 S1/S2).

The reference fetches hourly candles symbol-by-symbol on the driver with a
cursor-paginated loop, retry + exponential backoff (reference
src/data_processing/data_fetching.py:74-123) and discovers the top-N symbols
by quote volume (:34-63). The engine keeps the same source semantics but
distributes the fetch: one task per symbol via ``mapInPandas`` over a symbol
dimension — on a cluster, 100 symbols fetch 100-way parallel instead of
serially.

No network library ships in this container, so the transport is INJECTED:
``fetch_page(symbol, since_ms, limit) -> list[[ts_ms, o, h, l, c, v]]``.
Tests inject a deterministic fake; production injects an HTTP client. Retry/
backoff wraps whatever transport is injected.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FetchPage = Callable[[str, int, int], list]

BAR_SCHEMA = T.StructType(
    [
        T.StructField("symbol", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
    ]
)


def fetch_ohlcv(
    symbols: DataFrame,
    fetch_page: FetchPage,
    start_ms: int,
    end_ms: int,
    page_limit: int = 1000,
    max_retries: int = 3,
    backoff_s: float = 1.0,
    symbol_col: str = "symbol",
) -> DataFrame:
    """Distributed cursor-paginated fetch: one task per symbol.

    Cursor semantics mirror the reference: each page asks for bars since
    ``last_ts + 1`` until ``end_ms`` or a short page. Transport errors
    (``OSError``) retry with exponential backoff per page, any other error
    propagates at once; a page that keeps failing raises (the task retries
    per Spark's policy — at-least-once semantics, dedupe downstream on
    (symbol, ts) if the transport is not idempotent).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for sym in pdf[symbol_col]:
                rows: list = []
                since = start_ms
                while since <= end_ms:
                    page = None
                    for attempt in range(max_retries):
                        try:
                            page = fetch_page(sym, since, page_limit)
                            break
                        except OSError:
                            if attempt == max_retries - 1:
                                raise
                            time.sleep(backoff_s * (2**attempt))
                    if not page:
                        break
                    rows.extend(r for r in page if r[0] <= end_ms)
                    since = page[-1][0] + 1
                    if len(page) < page_limit:
                        break
                if rows:
                    out = pd.DataFrame(
                        rows, columns=["ts_ms", "open", "high", "low", "close", "volume"]
                    )
                    out.insert(0, "symbol", sym)
                    out["ts"] = pd.to_datetime(out.pop("ts_ms"), unit="ms")
                    yield out[["symbol", "ts", "open", "high", "low", "close", "volume"]]

    # one partition per symbol → max fetch parallelism on a cluster
    n = symbols.count()
    return symbols.repartition(max(n, 1)).mapInPandas(fn, BAR_SCHEMA)


def top_symbols(
    tickers: DataFrame,
    n: int = 100,
    quote_suffix: str = "/USDT",
    symbol_col: str = "symbol",
    volume_col: str = "quote_volume",
) -> DataFrame:
    """S2: suffix filter → sort desc → limit (reference data_fetching.py:34-63).

    TakeOrderedAndProject physical plan — no full sort, no full shuffle.
    """
    return (
        tickers.where(F.col(symbol_col).endswith(quote_suffix))
        .orderBy(F.desc(volume_col), symbol_col)
        .limit(n)
    )


def write_bars(bars: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S3: partitioned Parquet sink — partition pruning for per-symbol reads
    (the reference's file-per-symbol layout, done the Spark way)."""
    bars.write.partitionBy("symbol").mode(mode).parquet(path)
