"""The benchmark's two workloads: their inputs, pipeline runs and checks.

The generated bars are stored as Parquet and read back for the analysis; the
engine sees only the generated bars.

- ``market``: long, narrow series. Set-up fetches the bars from the fake
  exchange through ``fetch_ohlcv``, the only fetch path, and stores them
  with ``write_bars``, once: a fetch starts the Python workers cold, and
  timed in every run it made the run times swing by a fifth from process to
  process. Each run is the reference's market-analysis path (the seven
  result tables, the relational self-join correlation route, k-means on the
  per-symbol profiles, driver-side Louvain), then next-hour regime
  forecasting with the persistence model, the only part that runs the
  feature block and the MACD grouped map.
- ``universe``: many short series in planted sectors, the other side of the
  correlation route choice: more than 200 symbols select the pivoted route,
  and communities come from distributed Louvain. Its bars are stored once,
  at set-up, by pyarrow rather than the engine, in one file per core.

At the sizes below, with the engine's 0.3 edge threshold, every seed's
correlation graph is exactly the planted sectors' cliques, so the checks can
ask for the planted sector count.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from financial_big_data_spark.cache import release_tracked
from financial_big_data_spark.functions.windows import bar_window, log_return
from financial_big_data_spark.ml.clustering import (
    correlation_matrix,
    corr_edges,
    kmeans_clusters,
    louvain_communities_df,
)
from financial_big_data_spark.ml.forecasting import (
    forecast_and_evaluate,
    persistence_baseline,
    regime_prediction_dataset,
)
from financial_big_data_spark.ml.graph import louvain_distributed_df
from financial_big_data_spark.ml.metrics import accuracy, confusion_matrix, weighted_f1
from financial_big_data_spark.operators.features import ordered_split
from financial_big_data_spark.plans.market_analysis import market_analysis_plan
from financial_big_data_spark.sources.rest import fetch_ohlcv, write_bars

from .data import Bars, FakeExchange, generate

PAGE_LIMIT = 24  # one day of hourly bars per page
BACKOFF_S = 0.01
EDGE_THRESHOLD = 0.3
PROFILE_FEATURES = ["mean_return", "volatility", "skewness", "kurtosis", "volume_cv", "price_range"]

# Every layer the traced run can open a span for, in pipeline order.
LAYERS = [
    "sources.rest.fetch_ohlcv",
    "sources.rest.write_bars",
    "plans.market_analysis.build",
    "plans.market_analysis.labeled",
    "plans.market_analysis.transitions",
    "plans.market_analysis.aggregates",
    "ml.clustering.correlation_matrix",
    "ml.clustering.kmeans_clusters",
    "ml.clustering.louvain_communities_df",
    "ml.graph.louvain_distributed_df",
    "ml.forecasting.regime_prediction_dataset",
    "operators.features.ordered_split",
    "ml.forecasting.persistence_baseline",
    "ml.metrics",
]


@dataclass
class Context:
    """What set-up hands every run of one workload."""

    spark: object
    bars: Bars
    exchange: FakeExchange
    path: str
    baseline: dict = field(default_factory=dict)


@dataclass
class Verdict:
    """A checked run: what its digest covers, what went wrong, and the
    quality figures it reports."""

    digest: dict
    problems: list[str]
    quality: dict


def stored(path: str) -> tuple[int, int, int]:
    """(data files, their bytes, symbol partitions) under a Parquet table."""
    files = nbytes = 0
    for _root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(_root, n))
    parts = sum(1 for d in os.listdir(path) if d.startswith("symbol="))
    return files, nbytes, parts


def _g(x):
    """A value as the digest sees it: floats to 6 significant digits, so that
    the order Spark happens to sum in does not change it."""
    return f"{x:.6g}" if isinstance(x, float) else x


def _rows(rows) -> list:
    return sorted([_g(v) for v in r] for r in rows)


def _partition(rows, member: str, group: str) -> list:
    """Groups as sorted member lists, independent of how groups are labeled."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(r[group], []).append(r[member])
    return sorted(sorted(g) for g in groups.values())


class Workload:
    name: str
    # size -> (symbols, hours, sectors)
    sizes: dict[str, tuple[int, int, int]]

    def __init__(self, size: str):
        self.n_symbols, self.hours, self.n_sectors = self.sizes[size]

    def generate(self, seed: int) -> Bars:
        return generate(seed, self.n_symbols, self.hours, self.n_sectors)

    def reference(self, bars: Bars) -> dict:
        """What the checks compare against, computed once outside set-up."""
        return {}

    def prepare(self, ctx: Context, tr) -> None:
        """Set-up work the engine does before the first run, timed into ``setup_s``."""

    def check_setup(self, ctx: Context) -> list[str]:
        """What went wrong in set-up."""
        return []

    def pipeline(self, ctx: Context, tr) -> dict:
        raise NotImplementedError

    def check(self, ctx: Context, out: dict) -> Verdict:
        raise NotImplementedError

    @staticmethod
    def correlation(ctx: Context, tr, bars, out: dict):
        """Pairwise correlation of hourly log returns, persisted for the
        edge list that follows."""
        returns = bars.select(
            "symbol", "ts", log_return("close", bar_window("symbol", "ts")).alias("ret")
        ).where(F.col("ret").isNotNull())
        with tr.span("ml.clustering.correlation_matrix"):
            corr = correlation_matrix(returns, "symbol", "ts", "ret").persist()
            out["pairs"] = corr.collect()
        return corr

    def check_graph(self, ctx: Context, out: dict, digest: dict, problems: list) -> dict:
        k = ctx.bars.n_symbols
        if len(out["pairs"]) != k * (k - 1) // 2:
            problems.append(f"{len(out['pairs'])} correlation pairs for {k} symbols")
        digest["pairs"] = _rows(out["pairs"])
        digest["communities"] = _partition(out["communities"], "node", "community")
        return {"modularity": out["louvain"]["modularity"], "pairs": len(out["pairs"])}


class Market(Workload):
    name = "market"
    sizes = {"full": (16, 1460, 4), "tiny": (6, 300, 2)}

    def reference(self, bars: Bars) -> dict:
        import importlib.util
        import warnings

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            "pandas_baseline", os.path.join(root, "tools", "pandas_baseline.py")
        )
        baseline = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(baseline)
        events = bars.to_pandas().rename(columns={"symbol": "user_id", "close": "value"})
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", FutureWarning)
            ref = baseline.ep2_pandas(events.assign(event_id=0))
        return {
            "distribution": {k: int(v) for k, v in ref["dist"].items()},
            "n_transitions": int(ref["transitions"]),
        }

    def prepare(self, ctx: Context, tr) -> None:
        """Fetch every symbol's bars from the exchange and write them to ``ctx.path``."""
        symbols = ctx.spark.createDataFrame([(s,) for s in ctx.bars.symbols], "symbol string")
        start, end = int(ctx.bars.ts_ms[0]), int(ctx.bars.ts_ms[-1])
        with tr.span("sources.rest.fetch_ohlcv"):
            bars = tr.cut(
                fetch_ohlcv(
                    symbols, ctx.exchange, start, end, page_limit=PAGE_LIMIT, backoff_s=BACKOFF_S
                )
            )
        with tr.span("sources.rest.write_bars"):
            write_bars(bars, ctx.path)
        tr.release()

    def check_setup(self, ctx: Context) -> list[str]:
        """The ingest checks on the stored input: every generated bar stored
        once, under one partition per symbol."""
        n, n_keys = (
            ctx.spark.read.parquet(ctx.path)
            .agg(F.count(F.lit(1)), F.countDistinct("symbol", "ts"))
            .first()
        )
        _, _, parts = stored(ctx.path)
        problems = []
        if n != ctx.bars.n_bars:
            problems.append(f"stored {n} bars, generated {ctx.bars.n_bars}")
        if n_keys != n:
            problems.append(f"{n - n_keys} duplicate (symbol, ts) keys")
        if parts != ctx.bars.n_symbols:
            problems.append(f"{parts} partitions for {ctx.bars.n_symbols} symbols")
        return problems

    def pipeline(self, ctx: Context, tr) -> dict:
        bars = ctx.spark.read.parquet(ctx.path)
        out = {}
        with tr.span("plans.market_analysis.build"):
            res = market_analysis_plan(bars)
        # The first branch fills the plan's labeled cache.
        with tr.span("plans.market_analysis.labeled"):
            out["distribution"] = res.regime_distribution.collect()
        with tr.span("plans.market_analysis.transitions"):
            out["n_transitions"] = res.transitions.count()
            out["matrix"] = res.transition_matrix.collect()
            out["top"] = res.top_transitions.collect()
        with tr.span("plans.market_analysis.aggregates"):
            out["daily"] = res.daily_regime.collect()
            out["profiles"] = res.profiles.collect()
            out["period"] = res.period_stats.collect()
        corr = self.correlation(ctx, tr, bars, out)
        with tr.span("ml.clustering.kmeans_clusters"):
            assigned, _ = kmeans_clusters(res.profiles, PROFILE_FEATURES, k=4)
            out["clusters"] = assigned.select("symbol", "cluster").collect()
        with tr.span("ml.clustering.louvain_communities_df"):
            comms, out["louvain"] = louvain_communities_df(
                ctx.spark, corr_edges(corr, EDGE_THRESHOLD)
            )
            out["communities"] = comms.collect()
        corr.unpersist(blocking=True)
        release_tracked(blocking=True)
        out.update(self.forecast(bars, tr))
        return out

    @staticmethod
    def forecast(bars, tr) -> dict:
        if not tr.enabled:
            res = forecast_and_evaluate(bars, model="baseline")
            out = _forecast_metrics(res.accuracy, res.weighted_f1, res.confusion)
            release_tracked(blocking=True)
            return out
        # Traced: forecast_and_evaluate replayed from its public parts, so
        # that each lands in a span of its own.
        with tr.span("ml.forecasting.regime_prediction_dataset"):
            ds = tr.cut(regime_prediction_dataset(bars))
        with tr.span("operators.features.ordered_split"):
            ds = tr.cut(ordered_split(ds))
        with tr.span("ml.forecasting.persistence_baseline"):
            scored = tr.cut(persistence_baseline(ds))
        with tr.span("ml.metrics"):
            test = (
                scored.where(F.col("split") == "test")
                .select("symbol", "ts", "true_label", "pred_label", "split")
                .persist()
            )
            out = _forecast_metrics(accuracy(test), weighted_f1(test), confusion_matrix(test))
            test.unpersist(blocking=True)
        tr.release()
        release_tracked(blocking=True)
        return out

    def check(self, ctx: Context, out: dict) -> Verdict:
        problems = []
        dist = {r["regime"]: r["n"] for r in out["distribution"]}
        if dist != ctx.baseline["distribution"]:
            problems.append(f"regime counts {dist} != pandas {ctx.baseline['distribution']}")
        if out["n_transitions"] != ctx.baseline["n_transitions"]:
            problems.append(
                f"{out['n_transitions']} transitions != pandas {ctx.baseline['n_transitions']}"
            )
        # The forecast dataset drops each symbol's last bar (no next-hour
        # label); the ordered split keeps the rows after floor(0.85 n) for test.
        n = self.hours - 1
        test_rows = self.n_symbols * (n - math.floor(n * 0.85))
        counted = sum(r["n"] for r in out["confusion"])
        if counted != test_rows:
            problems.append(f"confusion counts sum to {counted}, test split has {test_rows}")
        digest = {
            key: _rows(out[key])
            for key in ("distribution", "matrix", "top", "daily", "profiles", "period", "confusion")
        }
        digest["n_transitions"] = out["n_transitions"]
        digest["clusters"] = _partition(out["clusters"], "symbol", "cluster")
        digest["accuracy"] = _g(out["accuracy"])
        digest["weighted_f1"] = _g(out["weighted_f1"])
        quality = self.check_graph(ctx, out, digest, problems)
        quality["accuracy"] = out["accuracy"]
        return Verdict(digest, problems, quality)


def _forecast_metrics(acc, wf1, confusion) -> dict:
    return {
        "accuracy": acc.first()["accuracy"],
        "weighted_f1": wf1.first()[0],
        "confusion": confusion.collect(),
    }


class Universe(Workload):
    name = "universe"
    sizes = {"full": (205, 480, 15), "tiny": (205, 168, 5)}

    def prepare(self, ctx: Context, tr) -> None:
        # Written straight from memory as one file per core: market's set-up
        # measures the engine's fetch and write, and a first partitioned
        # Spark write would add about 11 s to every process's set-up here.
        pdf = ctx.bars.to_pandas()
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        os.makedirs(ctx.path)
        cores = len(os.sched_getaffinity(0))
        for i, symbols in enumerate(np.array_split(np.arange(self.n_symbols), cores)):
            part = table.slice(symbols[0] * self.hours, len(symbols) * self.hours)
            pq.write_table(part, os.path.join(ctx.path, f"part-{i}.parquet"))

    def pipeline(self, ctx: Context, tr) -> dict:
        out = {}
        corr = self.correlation(ctx, tr, ctx.spark.read.parquet(ctx.path), out)
        # Unweighted: every seed plants the same edge set, so the sweeps, and
        # with them the Spark jobs, are the same for every seed; weights would
        # reorder the moves from seed to seed.
        edges = corr_edges(corr, EDGE_THRESHOLD).drop("weight")
        with tr.span("ml.graph.louvain_distributed_df"):
            comms, out["louvain"] = louvain_distributed_df(edges)
            out["communities"] = comms.collect()
        corr.unpersist(blocking=True)
        release_tracked(blocking=True)
        return out

    def check(self, ctx: Context, out: dict) -> Verdict:
        problems, digest = [], {}
        quality = self.check_graph(ctx, out, digest, problems)
        found = out["louvain"]["n_communities"]
        if found != self.n_sectors:
            problems.append(f"Louvain found {found} communities, planted {self.n_sectors}")
        return Verdict(digest, problems, quality)


WORKLOADS = {w.name: w for w in (Market, Universe)}
