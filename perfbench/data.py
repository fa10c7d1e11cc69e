"""Seeded OHLCV generator and the in-memory fake exchange that serves it.

Every symbol belongs to one of ``n_sectors`` sectors, and its hourly log
returns load on a market factor and on its sector's factor, so the sectors are
planted correlation communities. Each sector also runs two Markov chains: a
volatility state (calm or volatile) that scales its returns, and a drift state
(flat, bull or bear). The chains give the 5-way regime labeler runs of every
regime, transitions between them, and next-hour labels that are neither
constant nor noise.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

START_MS = 1_672_531_200_000  # 2023-01-01T00:00:00Z
HOUR_MS = 3_600_000
COLUMNS = ("open", "high", "low", "close", "volume")

# Hourly return scale per volatility state. For every symbol scale in
# [0.7, 1.3], calm stays below the labeler's 2% daily-volatility threshold
# (0.0025 * sqrt(24) * 1.3 < 0.02) and volatile stays above it
# (0.008 * sqrt(24) * 0.7 > 0.02).
SIGMA = np.array([0.0025, 0.008])
# Hourly drift per drift state (flat, bull, bear): about 2.9% a day, clear of
# the labeler's 1% daily-return threshold.
DRIFT = np.array([0.0, 0.0012, -0.0012])
# Transition probabilities, rows from-state and columns to-state.
VOL_P = np.array([[0.98, 0.02], [0.04, 0.96]])
DRIFT_P = np.array([[0.985, 0.0075, 0.0075], [0.03, 0.97, 0.0], [0.03, 0.0, 0.97]])
# Return correlation is about 0.65 inside a sector and 0.01 across sectors.
MARKET_LOADING, SECTOR_LOADING = 0.1, 0.8
# A page request fails on its first attempt for this many of 1000 hash buckets.
FAIL_PER_MILLE = 10


@dataclass(frozen=True)
class Bars:
    """A panel of hourly bars: ``ohlcv[i, t]`` is symbol i's bar at ``ts_ms[t]``."""

    symbols: list[str]
    sector: np.ndarray
    ts_ms: np.ndarray
    ohlcv: np.ndarray

    @property
    def n_symbols(self) -> int:
        return self.ohlcv.shape[0]

    @property
    def n_bars(self) -> int:
        return self.ohlcv.shape[0] * self.ohlcv.shape[1]

    def to_pandas(self) -> pd.DataFrame:
        n, hours, _ = self.ohlcv.shape
        flat = self.ohlcv.reshape(n * hours, len(COLUMNS))
        return pd.DataFrame(
            {
                "symbol": np.repeat(self.symbols, hours),
                "ts": pd.to_datetime(np.tile(self.ts_ms, n), unit="ms"),
                **{c: flat[:, k] for k, c in enumerate(COLUMNS)},
            }
        )


def _markov(rng: np.random.Generator, p: np.ndarray, n_chains: int, hours: int) -> np.ndarray:
    cum = np.cumsum(p, axis=1)
    cum[:, -1] = 1.0
    u = rng.random((n_chains, hours))
    state = np.zeros((n_chains, hours), dtype=np.int64)
    for t in range(1, hours):
        state[:, t] = (u[:, t, None] > cum[state[:, t - 1]]).sum(axis=1)
    return state


def generate(seed: int, n_symbols: int, hours: int, n_sectors: int) -> Bars:
    """Hourly bars for ``n_symbols`` symbols; the same arguments give the same bytes."""
    rng = np.random.default_rng(seed)
    sector = np.arange(n_symbols) % n_sectors
    vol_state = _markov(rng, VOL_P, n_sectors, hours)[sector]
    drift_state = _markov(rng, DRIFT_P, n_sectors, hours)[sector]
    market = rng.standard_normal(hours)
    factor = rng.standard_normal((n_sectors, hours))[sector]
    idio = rng.standard_normal((n_symbols, hours))
    shock = (
        MARKET_LOADING * market
        + SECTOR_LOADING * factor
        + np.sqrt(1.0 - MARKET_LOADING**2 - SECTOR_LOADING**2) * idio
    )
    sigma = SIGMA[vol_state] * rng.uniform(0.7, 1.3, (n_symbols, 1))
    ret = DRIFT[drift_state] + sigma * shock
    ret[:, 0] = 0.0
    base = 10.0 ** rng.uniform(0.0, 3.0, (n_symbols, 1))
    close = base * np.exp(np.cumsum(ret, axis=1))
    open_ = np.concatenate([base, close[:, :-1]], axis=1)
    wick = np.abs(rng.standard_normal((2, n_symbols, hours))) * 0.3 * sigma
    high = np.maximum(open_, close) * (1.0 + wick[0])
    low = np.minimum(open_, close) * (1.0 - wick[1])
    volume = np.exp(8.0 + 0.7 * vol_state + 0.4 * rng.standard_normal((n_symbols, hours)))
    return Bars(
        symbols=[f"S{i:04d}" for i in range(n_symbols)],
        sector=sector,
        ts_ms=START_MS + HOUR_MS * np.arange(hours, dtype=np.int64),
        ohlcv=np.stack([open_, high, low, close, volume], axis=-1),
    )


class FakeExchange:
    """In-memory paginated exchange with the ``fetch_page`` signature of
    ``sources.rest.fetch_ohlcv``: rows ``[ts_ms, o, h, l, c, v]`` with
    ``ts_ms >= since_ms``, at most ``limit`` of them.

    ``data`` is a Spark broadcast of ``(ts_ms, {symbol: ohlcv rows})``. A page
    request fails on its first attempt when a seeded hash of
    ``(symbol, since_ms)`` falls in the lowest ``FAIL_PER_MILLE`` of 1000
    buckets, so the seed fixes which requests fail. Spark gives every task its
    own unpickled copy, so the first attempt is counted per task. ``pages`` and
    ``retries`` are accumulators of served pages and injected failures.
    """

    def __init__(self, data, seed: int, pages, retries):
        self._data = data
        self._seed = seed
        self._pages = pages
        self._retries = retries
        self._failed: set[str] = set()

    def __call__(self, symbol: str, since_ms: int, limit: int) -> list:
        key = f"{self._seed}:{symbol}:{since_ms}"
        if key not in self._failed and zlib.crc32(key.encode()) % 1000 < FAIL_PER_MILLE:
            self._failed.add(key)
            self._retries.add(1)
            raise ConnectionError(f"injected failure: {symbol} since {since_ms}")
        ts, rows = self._data.value
        lo = int(np.searchsorted(ts, since_ms))
        page = zip(ts[lo : lo + limit].tolist(), rows[symbol][lo : lo + limit].tolist())
        self._pages.add(1)
        return [[t, *r] for t, r in page]
