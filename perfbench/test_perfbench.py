"""Tests of the benchmark itself: seeded inputs, the fake exchange, and a
tiny run of each workload, traced, with all of its checks.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import zlib

import numpy as np
import pytest
from pyspark.sql import SparkSession

from perfbench import run
from perfbench.data import FAIL_PER_MILLE, FakeExchange, generate
from perfbench.workloads import PAGE_LIMIT, WORKLOADS


class _Value:
    """Stands in for a broadcast (``.value``) or an accumulator (``.add``)."""

    def __init__(self, value=0):
        self.value = value

    def add(self, n: int) -> None:
        self.value += n


def test_same_seed_same_bytes_other_seed_other_bars():
    a, b, c = generate(7, 5, 200, 2), generate(7, 5, 200, 2), generate(8, 5, 200, 2)
    assert a.ohlcv.tobytes() == b.ohlcv.tobytes()
    assert a.ts_ms.tobytes() == b.ts_ms.tobytes()
    assert a.ohlcv.tobytes() != c.ohlcv.tobytes()


def _fetch_all(exchange, bars):
    """Page through every symbol like ``fetch_ohlcv``, retrying a failed page once."""
    failed, rows = [], {}
    for sym in bars.symbols:
        since = int(bars.ts_ms[0])
        while True:
            try:
                page = exchange(sym, since, PAGE_LIMIT)
            except ConnectionError:
                failed.append((sym, since))
                page = exchange(sym, since, PAGE_LIMIT)
            rows.setdefault(sym, []).extend(page)
            if len(page) < PAGE_LIMIT:
                break
            since = page[-1][0] + 1
    return failed, rows


def test_exchange_serves_every_bar_and_fails_seeded_pages_once():
    bars = generate(3, 20, 1000, 2)
    data = _Value((bars.ts_ms, dict(zip(bars.symbols, bars.ohlcv))))
    pages, retries = _Value(), _Value()
    failed, rows = _fetch_all(FakeExchange(data, 3, pages, retries), bars)
    for i, sym in enumerate(bars.symbols):
        assert [r[0] for r in rows[sym]] == bars.ts_ms.tolist()
        assert np.array_equal(np.array([r[1:] for r in rows[sym]]), bars.ohlcv[i])
    assert retries.value == len(failed)
    assert 0 < len(failed) < 0.03 * pages.value
    assert _fetch_all(FakeExchange(data, 3, _Value(), _Value()), bars)[0] == failed
    assert _fetch_all(FakeExchange(data, 4, _Value(), _Value()), bars)[0] != failed


def _expected_fetch(wl, seed: int) -> tuple[int, int]:
    """(pages, injected failures) of one fetch of the workload's bars: each
    page after the first asks for bars since its predecessor's last bar + 1 ms."""
    bars = wl.generate(seed)
    starts = [int(bars.ts_ms[0])] + [
        int(bars.ts_ms[k * PAGE_LIMIT - 1]) + 1 for k in range(1, math.ceil(wl.hours / PAGE_LIMIT))
    ]
    keys = [f"{seed}:{sym}:{since}" for sym in bars.symbols for since in starts]
    return len(keys), sum(zlib.crc32(k.encode()) % 1000 < FAIL_PER_MILLE for k in keys)


def _spec(key: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


@pytest.fixture(scope="module")
def own_session():
    """Stop the session the tiny runs leave behind, so that later tests
    build their own. The JVM stays up, as pyspark keeps its gateway."""
    yield
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()


@pytest.mark.usefixtures("own_session")
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_traced_run_passes_its_checks_and_reports_every_metric(workload):
    report = run.measure(workload, seed=1, seconds=0, trace=True, size="tiny")
    result = report["result"]
    # the set-up, one measured run, one untraced reference run and the traced run
    assert (result["correct"], result["attempted"], result["failed"]) == (True, 4, 0)
    assert {k: v["unit"] for k, v in report["end_to_end"].items()} == _spec("end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == _spec("per_layer")

    m = {k: v["value"] for k, v in result["metrics"].items()}
    layers = sum(v for k, v in m.items() if k.endswith(".self_s"))
    assert layers + m["unattributed_s"] == pytest.approx(m["traced_wall_s"])
    assert m["ml.clustering.correlation_matrix.jobs"] > 0
    if workload == "market":
        assert m["sources.rest.write_bars.files"] >= report["inputs"]["symbols"]
        pages, failures = _expected_fetch(WORKLOADS[workload]("tiny"), 1)
        assert (m["sources.rest.pages"], m["sources.rest.retries"]) == (pages, failures)
        assert m["ml.forecasting.persistence_baseline.jobs"] > 0
        assert 0 < m["ml.metrics.accuracy"] <= 1
        assert m["ml.graph.louvain_distributed_df.jobs"] == 0
    else:
        assert m["ml.graph.louvain_distributed_df.jobs"] > 0
        assert m["sources.rest.fetch_ohlcv.jobs"] == 0
        assert m["sources.rest.write_bars.files"] == 0
