"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload market --seed 1 --seconds 10 --trace 0

Run it from the repository root. Set-up starts a local Spark session with one
slot and one shuffle partition per core, generates the seeded bars and does
the workload's own set-up, which stores its bars and is checked once;
``setup_s`` is the session start, plus one generation, plus that set-up.
The workload then runs its pipeline in a closed loop with one client for
``--seconds`` (at least one run) and checks every run. The first run of a
session pays the code generation and JIT warm-up that every batch job pays,
and at the default sizes it outlasts ``--seconds``, so each process measures
that one run.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces the set-up,
runs the pipeline twice untraced and then once traced, and reports the
per-layer metrics of the traced set-up and run; ``tracing_overhead_s`` is the
traced run's wall time minus that of the second untraced run. The spans are
written to ``.bench_work/spans``.

The line before the result records the host, the input sizes and every
metric. Work files live in ``.bench_work``; the stored bars are removed at exit.
"""

from __future__ import annotations

import os
import sys

# numpy's threaded BLAS oversubscribes the cores Spark's tasks already use;
# pin it to one thread before numpy loads, in this process and in the Python
# workers that inherit this environment.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import argparse  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import time  # noqa: E402
from hashlib import sha256  # noqa: E402

import pyspark  # noqa: E402

from financial_big_data_spark.session import build_session  # noqa: E402
from perfbench.data import FakeExchange  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import LAYERS, WORKLOADS, Context, stored  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")


def session(cpus: int):
    """The engine's session, with its temporary files kept inside the work dir.

    The driver heap is capped at 3g, not the engine's 8g: the inputs need
    far less, and on a 4-core VM the 3g heap ran faster and steadier (over
    five seeds of universe, IQR/median 0.04 against 0.21 at 8g); market ran
    slower at 2g.
    """
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    return build_session(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        },
    )


def _digest(payload: dict) -> str:
    return sha256(json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()[:16]


class Runner:
    """Runs one workload's pipeline and checks every run against the first."""

    def __init__(self, wl, tr: Tracer):
        self.wl = wl
        self.tr = tr
        self.reference: str | None = None
        self.attempted = 0
        self.failed = 0
        self.quality: dict = {}

    def setup(self, ctx: Context) -> dict:
        """The workload's set-up, checked as one more attempt; returns its root
        span record."""
        with self.tr.run("setup") as rec:
            self.wl.prepare(ctx, self.tr)
        self.tr.set_job_group("check")
        self._count("setup", self.wl.check_setup(ctx))
        return rec

    def run(self, ctx: Context, run_id: str) -> dict:
        """One pipeline run; returns its root span record."""
        with self.tr.run(run_id) as rec:
            out = self.wl.pipeline(ctx, self.tr)
        self.tr.set_job_group("check")
        verdict = self.wl.check(ctx, out)
        digest = _digest(verdict.digest)
        self.reference = self.reference or digest
        if digest != self.reference:
            verdict.problems.append(f"digest {digest} != first run's {self.reference}")
        self._count(run_id, verdict.problems)
        self.quality = verdict.quality
        return rec

    def _count(self, run_id: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"{run_id}: " + "; ".join(problems), file=sys.stderr)


def cpu_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the host so far, from ``/proc/stat``: time
    a hypervisor ran something else while this machine wanted the CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _proc_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> int | None:
    """The Spark driver JVM, which pyspark starts as a child of this process."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            return int(pid)
    return None


def peak_rss_mb(pid: int | None) -> dict[str, float]:
    """High-water RSS, in MB, of this process and of the driver JVM."""
    return {
        "python": _proc_kb(os.getpid(), "VmHWM") / 1024.0,
        "jvm": (_proc_kb(pid, "VmHWM") if pid else 0) / 1024.0,
    }


def layer_metrics(tr: Tracer, setup: dict, root: dict, untraced_s: float, quality: dict) -> dict:
    """The per-layer metrics of the traced set-up and run, as name -> (value,
    unit). Layers the workload does not call report zeros."""
    totals = tr.layer_totals(setup["run"], root["run"])
    out = {}
    for layer in LAYERS:
        t = totals.get(layer, {})
        out[f"{layer}.self_s"] = (t.get("self_s", 0.0), "s")
        for k in ("jobs", "tasks", "failed_tasks"):
            out[f"{layer}.{k}"] = (t.get(k, 0), "count")
    out["ml.clustering.correlation_matrix.pairs"] = (quality.get("pairs", 0), "count")
    out["ml.metrics.accuracy"] = (quality.get("accuracy", 0.0), "fraction")
    out["unattributed_s"] = (totals["unattributed"]["self_s"], "s")
    out["traced_wall_s"] = (setup["wall_s"] + root["wall_s"], "s")
    out["tracing_overhead_s"] = (root["wall_s"] - untraced_s, "s")
    return out


def measure(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    """Set up, run and check one workload. Returns the report; its
    ``result`` entry is the benchmark's output object."""
    load_start = os.getloadavg()
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = session(cpus)
    session_start_s = time.perf_counter() - t0
    sc = spark.sparkContext
    wl = WORKLOADS[workload](size)
    tr = Tracer(sc, enabled=trace)
    runner = Runner(wl, tr)
    pages, retries = sc.accumulator(0), sc.accumulator(0)
    path = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}", "bars")

    t = time.perf_counter()
    bars = wl.generate(seed)
    bc = sc.broadcast((bars.ts_ms, dict(zip(bars.symbols, bars.ohlcv))))
    generate_s = time.perf_counter() - t
    exchange = FakeExchange(bc, seed, pages, retries)
    ctx = Context(spark, bars, exchange, path, wl.reference(bars))
    setup = runner.setup(ctx)
    prepare_s = setup["wall_s"]
    tr.enabled = False

    walls, jobs = [], []
    steal0, total0 = cpu_jiffies()
    deadline = time.perf_counter() + seconds
    while not walls or time.perf_counter() < deadline:
        rec = runner.run(ctx, f"run{len(walls)}")
        walls.append(rec["wall_s"])
        jobs.append(rec["jobs"])
    steal1, total1 = cpu_jiffies()
    wall = statistics.median(walls)
    rss = peak_rss_mb(jvm_pid())
    _, nbytes, _ = stored(path)
    end_to_end = {
        "bars_per_s": (bars.n_bars / wall, "bars/s"),
        "spark_jobs": (statistics.median(jobs), "count"),
        "setup_s": (session_start_s + generate_s + prepare_s, "s"),
        "stored_bytes_per_bar": (nbytes / bars.n_bars, "B"),
        "modularity": (runner.quality["modularity"], "Q"),
    }
    report = {
        "workload": workload,
        "seed": seed,
        "size": size,
        "inputs": {
            "symbols": wl.n_symbols,
            "hours": wl.hours,
            "sectors": wl.n_sectors,
            "bars": bars.n_bars,
        },
        "wall_s": walls,
        "session_start_s": session_start_s,
        "generate_s": generate_s,
        "prepare_s": prepare_s,
        "quality": runner.quality,
        "rss_mb": rss,
        "end_to_end": _named(end_to_end),
    }
    metrics = end_to_end
    if trace:
        untraced = runner.run(ctx, "untraced")
        tr.enabled = True
        root = runner.run(ctx, "traced")
        wrote = "sources.rest.write_bars" in tr.layer_totals(setup["run"])
        files, nbytes, _ = stored(path) if wrote else (0, 0, 0)
        rss = peak_rss_mb(jvm_pid())
        metrics = {
            "session.start_s": (session_start_s, "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
        }
        metrics.update(layer_metrics(tr, setup, root, untraced["wall_s"], runner.quality))
        # Only the set-up fetches.
        metrics.update(
            {
                "sources.rest.pages": (pages.value, "count"),
                "sources.rest.retries": (retries.value, "count"),
                "sources.rest.write_bars.files": (files, "count"),
                "sources.rest.write_bars.bytes": (nbytes, "B"),
            }
        )
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        with open(os.path.join(WORK, "spans", f"{workload}-{seed}.json"), "w") as f:
            json.dump(tr.records(), f)
        report["per_layer"] = _named(metrics)

    bc.destroy()
    shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    report["host"] = {
        "nproc": cpus,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        # Runs a neighbour slowed show here: at 2-8% stolen, runs took up
        # to 45% longer than at 0.1-0.4%.
        "steal_frac_measured": (steal1 - steal0) / max(total1 - total0, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
    }
    report["failed_frac"] = runner.failed / runner.attempted
    report["result"] = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": _named(metrics),
    }
    return report


def _named(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    pid = jvm_pid()
    spark.stop()
    if pid is None:
        return
    os.kill(pid, signal.SIGTERM)
    os.waitpid(pid, 0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    from pyspark.sql import SparkSession

    try:
        report = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            stop(spark)
    result = report.pop("result")
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
