"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full computation, no
driver-side collect — the result never leaves the executors, matching how a
real cluster job would terminate in a write).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

# ep3_mlp swung 2.6x between same-code solo runs with identical accuracy
# (VERDICT r8 #4): numpy's multithreaded BLAS (matmul inside the training
# loop) oversubscribes against 32 concurrent Spark tasks — N python
# workers x M BLAS threads contend for 32 cores and wall-time becomes a
# scheduling lottery. Pin BLAS to one thread per process BEFORE numpy
# loads anywhere (driver-side training AND the treeReduce workers, which
# inherit this env through the JVM). setdefault: an explicit caller
# override wins.
for _v in (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from financial_big_data_spark.queries import REGISTRY  # noqa: E402
from financial_big_data_spark.session import build_session  # noqa: E402

# Headline set: the EP2 analytics DAG pieces + the heaviest relational,
# dedup and similarity operators.
HEADLINE = [
    "pricing_summary",
    "nation_revenue",
    "ev_returns",
    "ev_rolling",
    "ev_coarse_regime",
    "ev_regime_distribution",
    "ev_transitions",
    "ev_macd",
    "ev_sessions",
    "ev_user_profile",
    "doc_minhash",
    "doc_near_dup_lsh",
    "doc_signatures",
    "emb_topk",
    "emb_knn_dist",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    # Machine-load context (VERDICT r5 #5): the r5 ep2_big ratio drifted
    # 0.62->0.87 purely because a concurrent run loaded the box (the
    # pandas side drifted identically). Record loadavg at both ends so
    # tools/bench_compare.py can refuse to call a delta a regression
    # when the two rounds ran under different load.
    load_start = round(os.getloadavg()[0], 2)
    if load_start > 1.0:
        print(
            f"NOTE: loadavg_1m={load_start} at launch — will wait for a "
            "quiet window before the timed section (VERDICT r10 #4).",
            file=sys.stderr,
        )

    spark = build_session("bench", cpus=cpus, shuffle_partitions=cpus)
    # Warm the JVM (codegen, classloading, shuffle machinery) by running every
    # headline query once at the smallest scale factor — standard steady-state
    # benchmarking; the timed runs below then measure the engine, not JIT.
    warm_dir = "/root/testdata/sf0.001"
    from financial_big_data_spark.plans import market_analysis_plan
    from financial_big_data_spark.sources.tables import load_table

    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            fn, _ = REGISTRY[name]
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - warmup is best-effort
                pass
        try:
            _wres = market_analysis_plan(
                load_table(spark, warm_dir, "events"),
                series="user_id", time="ts", close="value", volume="value",
                order_tiebreak=["event_id"],
            )
            _wres.regime_distribution.write.format("noop").mode("overwrite").save()
            _wres.unpersist()
        except Exception:  # noqa: BLE001
            pass
    spark.catalog.clearCache()
    spark.range(1).count()

    # Environment canary (VERDICT r6 #2): a FIXED single-task workload —
    # 20M modular multiply-adds in one partition — whose wall-time tracks
    # this box's per-core throughput and nothing in this repo. Cross-round
    # comparison (tools/bench_compare.py) divides timing deltas by the
    # canary drift before calling a disjoint band a regression, so a
    # 1.3-2x host-throughput swing between measurement windows (r6 burned
    # four false regressions on exactly that) no longer reads as code.
    def _canary() -> float:
        t0 = time.time()
        spark.range(0, 20_000_000, 1, 1).select(
            F.sum(F.col("id") % 97 * (F.col("id") % 13)).alias("s")
        ).collect()
        return time.time() - t0

    _canary()  # warm

    # Canary-calibrated degraded-window taint (VERDICT r9 #3): the
    # loadavg gate misses a DEGRADED MACHINE WINDOW — a quiet-loadavg run
    # where every row (canary included) lands 1.5-2.5x slow (observed in
    # r9's close at canary 0.38/loadavg 0.11, and again in r10 where an
    # idle box held 0.217-0.31 for over an hour while single-threaded
    # pandas ran +44% slow). A run whose min-of-3 canary exceeds the
    # clean edge is stamped tainted="canary" and bench_compare refuses
    # to score it, same as a loaded start.
    #
    # PER-HOST CALIBRATION (ADVICE r10), ratchet-proof: the calibration
    # is a ROLLING MINIMUM of measured canaries persisted in
    # BENCH_CANARY.json — degradation only ever makes the canary SLOWER,
    # so the min is the host's true per-core capability and can never be
    # dragged upward by a run measured inside a degraded window (a
    # last-clean-artifact scheme would ratchet: one top-of-band clean run
    # widens the next band enough to admit the 0.217-0.31 degraded
    # values). Only the HI edge (1.7 × min) gates: a faster-than-band
    # canary is not degradation — it lowers the calibration instead. A
    # host with no calibration yet seeds from its own first measurement
    # (self-healing: if that first window was degraded, any later better
    # window lowers the min and tightens the edge).
    # ADVICE r11 hardening: (a) the calibration file is LOCAL-ONLY
    # (gitignored) — a committed min from one host would make any slower
    # host permanently tainted (the rolling min only moves down, so it
    # could never self-correct there); each host seeds from its own first
    # measurement instead. (b) the stored record carries a WORKLOAD
    # VERSION: if the canary workload or timing harness changes (or a
    # dependency makes it intrinsically slower), bumping the version
    # resets the calibration rather than letting a stale min invalidate
    # every future band. (c) the taint edge is FLOORED at the documented
    # r6-r10 clean-run maximum (0.20s on the reference host class), so
    # one spuriously fast measurement can never tighten the band below
    # values that were historically clean.
    _CANARY_WORKLOAD_VERSION = 1
    _CANARY_EDGE_FLOOR = 0.20
    _cal_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_CANARY.json"
    )

    def _cal_min() -> float | None:
        try:
            with open(_cal_path) as fh:
                rec = json.load(fh)
            if rec.get("workload_version") != _CANARY_WORKLOAD_VERSION:
                return None  # stale workload: recalibrate from scratch
            v = rec.get("min_canary")
            return float(v) if v else None
        except (OSError, ValueError, TypeError):
            return None

    def _cal_update(c: float) -> float:
        prev = _cal_min()
        new = c if prev is None else min(prev, c)
        try:
            with open(_cal_path + ".tmp", "w") as fh:
                json.dump(
                    {
                        "min_canary": round(new, 3),
                        "workload_version": _CANARY_WORKLOAD_VERSION,
                    },
                    fh,
                )
            os.replace(_cal_path + ".tmp", _cal_path)
        except OSError:
            pass
        return new

    def _canary_band() -> list[float]:
        m = _cal_min()
        if m is None:
            return [0.10, _CANARY_EDGE_FLOOR + 0.01]  # never-calibrated fallback
        # lo is informational only; hi is the taint edge. The floor
        # applies ONLY on the documented host class (min >= 0.10 — the
        # r6-r12 clean canaries are 0.104-0.158): there it stops one
        # spuriously fast measurement tightening the band below
        # historically clean values. On a much faster host an absolute
        # 0.20 edge would MASK the 1.5-2.5x degradation windows the
        # canary exists to catch (min 0.06 → a 0.15 canary is 2.5x
        # degraded but under the floor), so those hosts keep the pure
        # 1.7x relative edge (code-review r12).
        hi = round(1.7 * m, 3)
        if m >= 0.10:
            hi = max(hi, _CANARY_EDGE_FLOOR)
        return [round(0.8 * m, 3), hi]

    # Quiet-window wait (VERDICT r10 #4): both r9 and r10 driver runs were
    # loadavg-tainted end to end, leaving round-over-round performance
    # unscorable from driver artifacts. Instead of measuring into a busy
    # window and stamping the result tainted, WAIT (bounded) for the box
    # to go quiet — loadavg_1m below threshold AND canary inside its
    # clean band — re-probing every 30s; only after the budget expires
    # does the run proceed tainted.
    wait_budget = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_SEC", "360"))
    deadline = time.time() + wait_budget
    waited = 0.0
    while True:
        load_start = round(os.getloadavg()[0], 2)
        canary_sec = round(min(_canary() for _ in range(3)), 3)
        _cal_update(canary_sec)  # rolling min: only a faster canary moves it
        CANARY_REF = _canary_band()
        quiet = load_start <= 1.0 and canary_sec <= CANARY_REF[1]
        if quiet or time.time() >= deadline:
            break
        print(
            f"waiting for quiet window: loadavg_1m={load_start}, "
            f"canary={canary_sec} vs clean edge {CANARY_REF[1]} "
            f"({int(deadline - time.time())}s of budget left)",
            file=sys.stderr,
        )
        time.sleep(30)
        waited = round(waited + 30, 1)
    if load_start > 1.0:
        print(
            f"WARNING: loadavg_1m={load_start} still >1.0 after {waited}s "
            "wait — timings are load-contaminated; the artifact will be "
            "stamped tainted and bench_compare will not score it.",
            file=sys.stderr,
        )
    if canary_sec > CANARY_REF[1]:
        print(
            f"WARNING: canary_local1_sec={canary_sec} above the clean "
            f"edge {CANARY_REF[1]} after {waited}s wait — degraded "
            "machine window; the artifact will be stamped tainted='canary'.",
            file=sys.stderr,
        )

    # Steady-state timing: min of THREE runs per query (VERDICT r4 #7 —
    # run-to-run spread on this shared box reaches ±35%, so min-of-2 was
    # too thin for cross-round regression detection), with the cache
    # cleared between runs so a later run can never read frames an
    # earlier one persisted (coarse_regime/market_analysis persist
    # internally). The measured [min, max] band per query is emitted so
    # tools/bench_compare.py can tell noise (overlapping bands) from a
    # real regression (disjoint bands).
    bands: dict[str, list[float]] = {}

    def timed_min(name: str, fn, runs: int = 3, release=None) -> float:
        samples = []
        for _ in range(runs):
            if release is not None:
                release()
            spark.catalog.clearCache()
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        bands[name] = [round(min(samples), 3), round(max(samples), 3)]
        return round(min(samples), 3)

    def run_query(name: str):
        fn, _ = REGISTRY[name]
        return lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        timings[name] = timed_min(name, run_query(name))
    spark.catalog.clearCache()

    # Round-5 corpus-quality operators, same steady-state discipline —
    # kept OUT of the headline set so headline_queries_total stays
    # comparable across rounds. dup_clusters tracks plan-level caches
    # (near_dup_lsh signatures), hence release_tracked between runs.
    from financial_big_data_spark.cache import release_tracked as _rel

    curation_ops: dict[str, float] = {}
    for name in (
        "doc_quality_flags",
        "doc_tfidf_topk",
        "doc_unigram_lm",
        "doc_dup_clusters",
        "emb_dup_clusters",
        "doc_incremental_dedup",
        "doc_simhash_pairs",
        "doc_chunks",
        "doc_top_ngrams",
        "doc_zipf",
        # the END-TO-END curation DAG (gates -> dedup -> LSH -> decontam
        # -> budget), timed as one number (VERDICT r4 #4) — stage rows
        # above don't show composition cost
        "doc_curation",
        # exact-substring (duplicated-span) removal — round 8
        "doc_span_dedup",
        # Efraimidis-Spirakis weighted sampling — round 8
        "doc_weighted_sample",
        # temperature-scaled mixing through the WFQ interleave — round 8
        "doc_temperature_interleave",
        # quality-ranked canonical per dup cluster — round 9
        "doc_canonical",
        # SemDeDup cluster-scoped semantic dedup — round 10
        "emb_semdedup",
    ):
        fn, _ = REGISTRY[name]
        samples = []
        for _ in range(2):
            _rel()
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        bands[name] = [round(min(samples), 3), round(max(samples), 3)]
        curation_ops[name] = round(min(samples), 3)
    _rel()
    spark.catalog.clearCache()

    # Alignment / continuous-aggregate operators (round 6) — same
    # discipline, separate dict for the same cross-round comparability
    # reason.
    alignment_ops: dict[str, float] = {}
    for name in (
        "ev_asof_join",
        "ev_range_join",
        "ev_time_rollup",
        # round 9: CUBE grouping sets (the CDC-maintained materialized
        # aggregate moved to its own create/refresh rows below — VERDICT
        # r11 #5: the single registry-callable row spanned [0.33, 13.1]
        # because the one-time fixture build + result-cache hit landed in
        # the same band, hiding any real regression)
        "ev_cube",
    ):
        fn, _ = REGISTRY[name]
        samples = []
        for _ in range(2):
            _rel()
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        bands[name] = [round(min(samples), 3), round(max(samples), 3)]
        alignment_ops[name] = round(min(samples), 3)
    _rel()
    spark.catalog.clearCache()

    # CDC-maintained materialized aggregate, SPLIT create vs refresh
    # (VERDICT r11 #5): a versioned events base is built untimed, then
    # the CREATE (full aggregate + versioned view write) and a keys-known
    # delta REFRESH (upsert advanced untimed) are banded as separate rows
    # — either regressing is now detectable where the old combined
    # registry-callable row (fixture build + result-cache hit in one
    # band) could hide a 10x swing.
    import shutil as _ia_shutil
    import tempfile as _ia_tempfile

    from financial_big_data_spark.sources.matview import (
        create_matview as _ia_create,
        refresh_matview as _ia_refresh,
    )
    from financial_big_data_spark.sources.versioned import (
        upsert_version as _ia_upsert,
        write_version as _ia_write,
    )

    _ia_dir = _ia_tempfile.mkdtemp(prefix="bench_incr_agg_")
    try:
        _ia_ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        )
        _ia_base = f"{_ia_dir}/base"
        _ia_write(_ia_ev, _ia_base, key="event_id")
        _c_samples, _r_samples = [], []
        # warm the whole path once (untimed view; same steady-state
        # discipline as every other matview row)
        _ia_create(spark, _ia_base, f"{_ia_dir}/warm", group="user_id", value="value")
        for i in range(2):
            _view = f"{_ia_dir}/view{i}"
            _rel()
            spark.catalog.clearCache()
            _t0 = time.time()
            _ia_create(spark, _ia_base, _view, group="user_id", value="value")
            _c_samples.append(time.time() - _t0)
            _upd = _ia_ev.where(F.col("event_id") % 100 == i).withColumn(
                "value", F.col("value") + F.lit(1.0 + i)
            )
            _ia_upsert(spark, _ia_base, _upd, key="event_id", dedupe_updates=False)
            _t0 = time.time()
            _ia_refresh(
                spark, _ia_base, _view, key="event_id",
                changed_keys=_upd.select("event_id"),
            )
            _r_samples.append(time.time() - _t0)
        bands["ev_incremental_agg_create"] = [
            round(min(_c_samples), 3), round(max(_c_samples), 3)
        ]
        bands["ev_incremental_agg_refresh"] = [
            round(min(_r_samples), 3), round(max(_r_samples), 3)
        ]
        alignment_ops["ev_incremental_agg_create"] = round(min(_c_samples), 3)
        alignment_ops["ev_incremental_agg_refresh"] = round(min(_r_samples), 3)
    finally:
        _ia_shutil.rmtree(_ia_dir, ignore_errors=True)
    _rel()
    spark.catalog.clearCache()

    # Matview refresh economics (rounds 10-11). The SCALE evidence is the
    # files-scanned column: a key-clustered (contiguous range) delta's
    # refresh touches O(delta) base files via manifest footer pruning, a
    # scattered delta defeats range pruning and touches all of them, and
    # a recompute always reads everything. Measurement discipline
    # (VERDICT r6 #1 — the r6 numbers carried a cold-start +
    # order-of-measurement bias that made the 1-file clustered refresh
    # look 2x SLOWER than the 63-file scattered one): the whole refresh
    # path (versioned IO, codegen, bloom sidecars) is warmed by an
    # untimed refresh first, each scenario is then timed TWICE in
    # alternating order (clustered, scattered, scattered, clustered) so
    # neither systematically pays first-position costs, and the recorded
    # number is the per-scenario min — same steady-state discipline as
    # every other row. The refresh itself is one unioned ±delta
    # aggregate (single shuffle) + the view's copy-on-write upsert.
    matview_ops: dict[str, float | int] = {}
    import shutil as _shutil
    import tempfile as _tempfile

    from financial_big_data_spark.sources.matview import (
        create_matview,
        refresh_matview,
    )
    from financial_big_data_spark.sources.versioned import (
        _key_ranges,
        _load_manifest,
        read_version,
        upsert_version,
        write_version,
    )

    ev_mv = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    _mv_dir = _tempfile.mkdtemp(prefix="bench_matview_")
    _mv_base, _mv_view = f"{_mv_dir}/base", f"{_mv_dir}/view"
    try:
        matview_ops["base_rows"] = ev_mv.count()
        write_version(ev_mv, _mv_base, key="event_id")
        create_matview(spark, _mv_base, _mv_view, group="user_id", value="value")
        _max_id = ev_mv.agg(F.max("event_id")).first()[0]

        def _files_overlapping(lo, hi) -> int:
            m = _load_manifest(_mv_base, None)
            n = 0
            for _f, (flo, fhi) in _key_ranges(m["files"], "event_id").items():
                if flo is None or (flo <= hi and fhi >= lo):
                    n += 1
            return n

        matview_ops["total_base_files"] = len(_load_manifest(_mv_base, None)["files"])
        _cut = _max_id // 100

        def _clustered_delta(bump: float):
            # contiguous ~1% key range -> manifest pruning hits
            return ev_mv.where(F.col("event_id") <= _cut).withColumn(
                "value", F.col("value") + F.lit(bump)
            )

        def _scattered_delta(bump: float):
            # ~1% of keys spread over [min, max] -> range pruning defeated
            return ev_mv.where(F.col("event_id") % 100 == 50).withColumn(
                "value", F.col("value") + F.lit(bump)
            )

        def _timed_refresh(upd) -> float:
            # the upsert advances the base OUTSIDE the timed window; the
            # value-bump deltas never change group counts, so the view's
            # delete path stays cold in every scenario alike
            upsert_version(spark, _mv_base, upd, key="event_id", dedupe_updates=False)
            _t0 = time.time()
            refresh_matview(
                spark, _mv_base, _mv_view, key="event_id",
                changed_keys=upd.select("event_id"),
            )
            return time.time() - _t0

        # files-scanned evidence on the PRISTINE clustered layout (the
        # first scattered upsert rewrites every file, changing the story)
        matview_ops["clustered_delta_files_scanned"] = _files_overlapping(0, _cut)
        matview_ops["scattered_delta_files_scanned"] = _files_overlapping(0, _max_id)
        _timed_refresh(_clustered_delta(0.5))  # warm (untimed)
        _c1 = _timed_refresh(_clustered_delta(1.0))
        _s1 = _timed_refresh(_scattered_delta(1.0))
        _s2 = _timed_refresh(_scattered_delta(2.0))
        _c2 = _timed_refresh(_clustered_delta(2.0))
        matview_ops["refresh_clustered_delta_sec"] = round(min(_c1, _c2), 3)
        matview_ops["refresh_scattered_delta_sec"] = round(min(_s1, _s2), 3)

        # two baselines, warmed and min-of-2 like the refresh rows:
        # full_recompute = the aggregate alone (noop sink);
        # full_rebuild_view = what a non-incremental engine actually pays
        # to keep the VIEW current — recompute + versioned view rewrite
        # (the refresh rows above include that write, so this is the
        # apples-to-apples comparator)
        def _full_recompute() -> float:
            _t0 = time.time()
            read_version(spark, _mv_base).groupBy("user_id").agg(
                F.sum("value").alias("s"), F.count(F.lit(1)).alias("c")
            ).write.format("noop").mode("overwrite").save()
            return time.time() - _t0

        _full_recompute()  # warm (untimed)
        matview_ops["full_recompute_sec"] = round(
            min(_full_recompute() for _ in range(2)), 3
        )

        def _full_rebuild(i: int) -> float:
            _t0 = time.time()
            agg = read_version(spark, _mv_base).groupBy("user_id").agg(
                F.sum("value").alias("agg_sum"),
                F.count(F.lit(1)).alias("agg_count"),
            )
            write_version(agg, f"{_mv_dir}/rebuild{i}", key="user_id", n_files=1)
            return time.time() - _t0

        _full_rebuild(0)  # warm (untimed)
        matview_ops["full_rebuild_view_sec"] = round(
            min(_full_rebuild(i + 1) for i in range(2)), 3
        )
    finally:
        _shutil.rmtree(_mv_dir, ignore_errors=True)
    _rel()
    spark.catalog.clearCache()

    # Matview refresh economics AT SCALE (VERDICT r7 #2): the events-table
    # fixture above is ~100k rows / 32 files, where the refresh's ~4 job
    # floors swamp the 1-vs-32-file scan advantage and the delta refresh
    # could never demonstrate the economics the module exists for. This
    # fixture is 30M rows / 256 key-clustered files (built directly —
    # repartitionByRange + sortWithinPartitions + one manifest commit; no
    # bloom sidecars, the clustered scenarios prune on footer ranges), so
    # a full recompute must scan 10M rows while the delta refresh scans
    # O(files the DML rewrote). Done-bar: refresh_clustered_delta_sec <=
    # full_recompute_sec with files_scanned still O(delta).
    matview_scale: dict[str, float | int] = {}
    _mv_dir = _tempfile.mkdtemp(prefix="bench_matview_scale_")
    _mv_base, _mv_view = f"{_mv_dir}/base", f"{_mv_dir}/view"
    try:
        import glob as _glob

        from financial_big_data_spark.sources.versioned import (
            _commit as _mv_commit,
            _save_schema as _mv_save_schema,
        )

        _N, _G, _NF = 30_000_000, 5_000, 256
        _mv_df = spark.range(_N).select(
            F.col("id").alias("event_id"),
            (F.col("id") % _G).alias("user_id"),
            (F.col("id") * 0.001).alias("value"),
        )
        t0 = time.time()
        _batch = f"{_mv_base}/data/batch-bench0"
        (
            _mv_df.repartitionByRange(_NF, "event_id")
            .sortWithinPartitions("event_id")
            .write.parquet(_batch)
        )
        _mv_commit(
            _mv_base, sorted(_glob.glob(f"{_batch}/*.parquet")), 1
        )
        _mv_save_schema(_mv_df, _mv_base)
        matview_scale["build_sec"] = round(time.time() - t0, 3)
        matview_scale["base_rows"] = _N
        matview_scale["total_base_files"] = len(
            _load_manifest(_mv_base, None)["files"]
        )
        create_matview(spark, _mv_base, _mv_view, group="user_id", value="value")

        def _scale_delta(bump: float, lo: int, n: int = 2000):
            return _mv_df.where(
                (F.col("event_id") >= lo) & (F.col("event_id") < lo + n)
            ).withColumn("value", F.col("value") + F.lit(bump))

        def _scale_refresh(upd, lo: int, n: int = 2000) -> float:
            # the writer-held KEY LIST form (a writer that just upserted
            # its batch knows the keys): the probe job disappears — the
            # refresh is delta-collect, matched-old-rows, write. Three
            # jobs total, all O(delta).
            upsert_version(spark, _mv_base, upd, key="event_id", dedupe_updates=False)
            _t0 = time.time()
            refresh_matview(
                spark, _mv_base, _mv_view, key="event_id",
                changed_keys=list(range(lo, lo + n)),
            )
            return time.time() - _t0

        def _scale_files_overlapping(lo, hi) -> int:
            m = _load_manifest(_mv_base, None)
            return sum(
                1
                for _f, (flo, fhi) in _key_ranges(m["files"], "event_id").items()
                if flo is None or (flo <= hi and fhi >= lo)
            )

        matview_scale["clustered_delta_files_scanned"] = _scale_files_overlapping(
            0, 2000
        )
        _scale_refresh(_scale_delta(0.5, 0), 0)  # warm (untimed)
        _r1 = _scale_refresh(_scale_delta(1.0, 10_000), 10_000)
        _r2 = _scale_refresh(_scale_delta(2.0, 30_000), 30_000)
        _r3 = _scale_refresh(_scale_delta(2.5, 90_000), 90_000)
        matview_scale["refresh_clustered_delta_sec"] = round(
            min(_r1, _r2, _r3), 3
        )

        # keys-UNKNOWN refresh (VERDICT r8 #1 done-bar): the default
        # path derives candidate keys from the manifests' symmetric-
        # difference files — no changefeed, no full-snapshot diff — so
        # it must land within ~1.5x of the keys-known refresh (it adds
        # exactly one O(delta-files) candidate scan to the same 3-job
        # cascade).
        def _scale_refresh_unknown(upd) -> float:
            upsert_version(
                spark, _mv_base, upd, key="event_id", dedupe_updates=False
            )
            _t0 = time.time()
            refresh_matview(spark, _mv_base, _mv_view, key="event_id")
            return time.time() - _t0

        # warm the DIGEST path too (round 12): the keys-unknown refresh
        # runs a query shape the keys-known warm never compiles (the
        # multiset-digest aggregate), so its first-ever execution carries
        # codegen/shape warmup that min-of-2 could not wash out — the r11
        # "1.66-1.73x" reading was exactly this artifact (solo profiling
        # with a per-path warm measures ~1.3x steady-state).
        _scale_refresh_unknown(_scale_delta(2.5, 40_000))  # warm (untimed)
        _u1 = _scale_refresh_unknown(_scale_delta(3.0, 50_000))
        _u2 = _scale_refresh_unknown(_scale_delta(4.0, 70_000))
        _u3 = _scale_refresh_unknown(_scale_delta(5.0, 110_000))
        matview_scale["refresh_keys_unknown_sec"] = round(
            min(_u1, _u2, _u3), 3
        )
        matview_scale["keys_unknown_vs_known_ratio"] = round(
            matview_scale["refresh_keys_unknown_sec"]
            / max(matview_scale["refresh_clustered_delta_sec"], 1e-9),
            2,
        )

        def _scale_recompute() -> float:
            _t0 = time.time()
            read_version(spark, _mv_base).groupBy("user_id").agg(
                F.sum("value").alias("s"), F.count(F.lit(1)).alias("c")
            ).write.format("noop").mode("overwrite").save()
            return time.time() - _t0

        _scale_recompute()  # warm (untimed)
        matview_scale["full_recompute_sec"] = round(
            min(_scale_recompute() for _ in range(2)), 3
        )
        matview_scale["delta_vs_recompute_ratio"] = round(
            matview_scale["refresh_clustered_delta_sec"]
            / max(matview_scale["full_recompute_sec"], 1e-9),
            2,
        )

        # Sidecar-commit flatness (VERDICT r9 #1 done-bar): a MIN/MAX
        # view on the same 30M/256-file base, then 10 successive
        # one-file DMLs — each refresh's sidecar commit must rewrite
        # only the sidecar files holding the diff files' partials
        # (incremental delete+append), so refresh time stays FLAT as
        # refreshes accumulate instead of growing with sidecar history.
        from financial_big_data_spark.sources.matview import (
            _partials_path as _mv_ppath,
        )

        _mm_view = f"{_mv_dir}/view_mm"
        t0 = time.time()
        create_matview(
            spark, _mv_base, _mm_view, group="user_id", value="value",
            aggs=("sum", "count", "min", "max"),
        )
        matview_scale["sidecar_create_sec"] = round(time.time() - t0, 3)
        _sc_times = []
        _sc_before = None
        for i in range(10):
            lo = 1_000_000 + i * 2000
            upd = _scale_delta(5.0 + i, lo)
            upsert_version(
                spark, _mv_base, upd, key="event_id", dedupe_updates=False
            )
            _sc_before = set(
                _load_manifest(_mv_ppath(_mm_view), None)["files"]
            )
            _t0 = time.time()
            refresh_matview(spark, _mv_base, _mm_view, key="event_id")
            _sc_times.append(round(time.time() - _t0, 3))
        _sc_after = set(_load_manifest(_mv_ppath(_mm_view), None)["files"])
        matview_scale["sidecar_refresh_secs"] = _sc_times
        matview_scale["sidecar_refresh_first_sec"] = _sc_times[0]
        matview_scale["sidecar_refresh_last_sec"] = _sc_times[-1]
        matview_scale["sidecar_flat_ratio"] = round(
            _sc_times[-1] / max(_sc_times[0], 1e-9), 2
        )
        # evidence the last commit carried untouched sidecar files by
        # reference instead of rewriting the whole sidecar
        matview_scale["sidecar_carried_files"] = len(_sc_before & _sc_after)
        matview_scale["sidecar_total_files"] = len(_sc_after)
    finally:
        _shutil.rmtree(_mv_dir, ignore_errors=True)
    _rel()
    spark.catalog.clearCache()

    # Round-7 sketch / graph / ingest queries — same discipline (min-of-3
    # with bands: ev_pagerank/ev_ppr are the registry's costliest rows,
    # exactly where regression detection needs the variance measured),
    # separate dict so headline_queries_total stays comparable.
    sketch_graph_ops: dict[str, float] = {}
    for name in (
        "ev_kmv_users",
        "ev_hll_users",
        "ev_cms_counts",
        "ev_quantile_sketch",
        "ev_pagerank",
        "ev_ppr",
        "doc_normalized",
        "ev_regime_sketch",
        # round-8 additions: set-op sketches, triangles, A/B statistics
        "ev_user_overlap",
        "ev_triangles",
        "ev_ab_ttest",
        "ev_type_hour_chi2",
    ):
        sketch_graph_ops[name] = timed_min(name, run_query(name), release=_rel)
    # the tol=1e-6 early-exit variant of ev_pagerank (NOT registered —
    # the oracle unrolls exactly 10 CTE rounds): the dense co-occurrence
    # graph converges by ~iteration 5, so this row measures what the
    # convergence exit saves over the fixed-10 row above.
    from financial_big_data_spark.queries import q_ev_pagerank_tol, q_ev_ppr_tol

    sketch_graph_ops["ev_pagerank_tol"] = timed_min(
        "ev_pagerank_tol",
        lambda: q_ev_pagerank_tol(spark, sf_dir)
        .write.format("noop").mode("overwrite").save(),
        release=_rel,
    )
    sketch_graph_ops["ev_ppr_tol"] = timed_min(
        "ev_ppr_tol",
        lambda: q_ev_ppr_tol(spark, sf_dir)
        .write.format("noop").mode("overwrite").save(),
        release=_rel,
    )
    _rel()
    spark.catalog.clearCache()

    # TPC-H query shapes (round 8) — the relational-coverage rows, timed
    # min-of-2 in their own dict for cross-round comparability.
    tpch_ops: dict[str, float] = {}
    for name in (
        "brand_small_qty_revenue",
        "large_order_customers",
        "idle_rich_customers",
        "priority_returned_orders",
        "nation_trade_volume",
        "returnflag_priority_mix",
        "promo_revenue_share",
        "top_supplier_revenue",
        "sole_blame_suppliers",
        # round 9: the remaining 10 shapes — the full 22 are now covered
        "min_cost_supplier",
        "discount_band_revenue",
        "nation_market_share",
        "product_type_profit",
        "returned_item_ranking",
        "important_parts",
        "order_count_distribution",
        "part_supplier_variety",
        "disjunctive_band_revenue",
        "excess_shippers",
    ):
        fn, _ = REGISTRY[name]
        samples = []
        for _ in range(2):
            _rel()
            spark.catalog.clearCache()
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        # banded (round 12): these sub-second rows are job-floor-noise
        # dominated — the r12 clean runs direction-scored +20-105% swings
        # on UNCHANGED code that a second run walked back; bands let
        # bench_compare treat overlap as same-distribution instead.
        bands[name] = [round(min(samples), 3), round(max(samples), 3)]
        tpch_ops[name] = round(min(samples), 3)
    _rel()
    spark.catalog.clearCache()

    # EP2 composite: the reference's full market-analysis DAG in one shot.
    # Same steady-state discipline as the headline queries: min of two runs
    # with the cache cleared between them (the plan persists internally).
    from concurrent.futures import ThreadPoolExecutor

    def run_ep2(ev_frame) -> float:
        t0 = time.time()
        res = market_analysis_plan(
            ev_frame, series="user_id", time="ts", close="value", volume="value",
            order_tiebreak=["event_id"],
        )
        # materialize the shared cached frame once, then run the independent
        # result branches as concurrent jobs (Spark's scheduler interleaves them)
        res.regime_distribution.write.format("noop").mode("overwrite").save()
        branches = [
            res.transition_matrix,
            res.top_transitions,
            res.daily_regime,
            res.profiles,
            res.period_stats,
        ]
        with ThreadPoolExecutor(max_workers=len(branches)) as pool:
            list(
                pool.map(
                    lambda df: df.write.format("noop").mode("overwrite").save(), branches
                )
            )
        res.unpersist()
        return time.time() - t0

    def min_of_2(fn) -> float:
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            dt = fn()
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    ev = load_table(spark, sf_dir, "events")
    timings["market_analysis_plan"] = min_of_2(lambda: run_ep2(ev))

    # Scale-amortization probe: the same EP2 DAG on 8x the rows. Spark's
    # fixed job overhead amortizes (sublinear growth) while a single-node
    # engine grows linearly — the crossover the 100 TB design is for.
    # Disjoint doubling: each iteration shifts by (max_id+1)·2^i so the 8
    # copies never collide on user_id (additive shifts would overlap after
    # the first doubling and duplicate 1/8 of the series).
    max_id = ev.agg(F.max("user_id")).collect()[0][0] or 0
    ev8 = ev
    for i in range(3):  # 2^3 = 8x
        ev8 = ev8.unionByName(
            ev8.withColumn("user_id", F.col("user_id") + F.lit((max_id + 1) * 2**i))
        )

    def run_ep2_8x() -> float:
        t0 = time.time()
        res8 = market_analysis_plan(
            ev8, series="user_id", time="ts", close="value", volume="value",
            order_tiebreak=["event_id"],
        )
        res8.regime_distribution.write.format("noop").mode("overwrite").save()
        res8.transition_matrix.write.format("noop").mode("overwrite").save()
        res8.unpersist()
        return time.time() - t0

    ep2_8x = min_of_2(run_ep2_8x)

    # EP3: the forecasting pipeline end-to-end (features → split → MLlib
    # logistic train on the train slice → score → test-split metrics) — the
    # reference's third entry point, timed as one number.
    from financial_big_data_spark.ml.forecasting import forecast_and_evaluate

    from financial_big_data_spark.cache import release_tracked

    ev3 = load_table(spark, sf_dir, "events")

    def run_ep3(model_name: str, **kw) -> tuple[float, float]:
        # each run starts cache-clean: earlier runs' tracked_persist frames
        # (dataset/prepared/test) would otherwise stay pinned through this
        # run's timed window (ADVICE r3)
        release_tracked()
        spark.catalog.clearCache()
        t0 = time.time()
        fres = forecast_and_evaluate(
            ev3.select("user_id", "event_id", "ts", "value"),
            series="user_id", time="ts", close="value", high="value", low="value",
            volume="value", model=model_name, order_tiebreak=["event_id"],
            **kw,
        )
        acc = fres.accuracy.collect()[0].accuracy
        fres.weighted_f1.collect()
        return round(time.time() - t0, 3), round(acc, 4)

    ep3_sec, ep3_acc = run_ep3("logistic")
    _lg2, _ = run_ep3("logistic")
    bands["ep3_logistic_sec"] = [
        round(min(ep3_sec, _lg2), 3), round(max(ep3_sec, _lg2), 3)
    ]
    ep3_sec = min(ep3_sec, _lg2)
    ep3_mlp_sec, ep3_mlp_acc = run_ep3("mlp")
    # volatile parallel row (16.8<->44.1s between identical-code solo runs
    # in r8): a second sample gives bench_compare a measured band to
    # adjudicate with instead of a single load-lottery point
    _mlp2, _ = run_ep3("mlp")
    bands["ep3_mlp_sec"] = [
        round(min(ep3_mlp_sec, _mlp2), 3), round(max(ep3_mlp_sec, _mlp2), 3)
    ]
    ep3_mlp_sec = min(ep3_mlp_sec, _mlp2)
    # the reference's model INPUT: flattened 30-step windowed sequences
    ep3_seq_mlp_sec, ep3_seq_mlp_acc = run_ep3("seq_mlp", seq_len=30)
    # the reference's model TOPOLOGY: numpy LSTM+attention (6 epochs,
    # batch 32, Adam 1e-3 — lstm_forecasting.py's loop, library-free)
    ep3_lstm_sec, ep3_lstm_acc = run_ep3("lstm", seq_len=30)
    _ls2, _ = run_ep3("lstm", seq_len=30)
    bands["ep3_lstm_sec"] = [
        round(min(ep3_lstm_sec, _ls2), 3), round(max(ep3_lstm_sec, _ls2), 3)
    ]
    ep3_lstm_sec = min(ep3_lstm_sec, _ls2)
    # the same topology trained DATA-PARALLEL (train split never leaves
    # the executors; synchronous treeReduce gradient aggregation) — the
    # M6/M7 scale path as a measured number, not just a parity test
    # (VERDICT r4 #2). Two samples + band (VERDICT r9 #5: flagged +58%
    # in r9's compare before taint suppression — the last band-less
    # parallel-training row).
    ep3_lstm_dist_sec, ep3_lstm_dist_acc = run_ep3("lstm_dist", seq_len=30)
    _ld2, _ = run_ep3("lstm_dist", seq_len=30)
    bands["ep3_lstm_dist_sec"] = [
        round(min(ep3_lstm_dist_sec, _ld2), 3),
        round(max(ep3_lstm_dist_sec, _ld2), 3),
    ]
    ep3_lstm_dist_sec = min(ep3_lstm_dist_sec, _ld2)
    _, ep3_baseline_acc = run_ep3("baseline")
    release_tracked()

    # EP3 HARD fixture (VERDICT r10 #6): the sf* events give persistence
    # 0.9979, so model-over-baseline margins demonstrate nothing. The
    # phase-coded fixture (ml/fixtures.py) pins persistence at ~0.81
    # while keeping the next label an exact function of the windowed
    # features — the margin rows below are the reference-style
    # model-beats-trivial-baseline evidence (report.pdf p.11's gap),
    # scored on the same pipeline + test-split protocol as the sf rows.
    from financial_big_data_spark.ml.fixtures import hard_regime_bars

    hard_bars = hard_regime_bars(spark, n_series=8, n_bars=1200)

    def run_ep3_hard(model_name: str, **kw) -> tuple[float, float]:
        release_tracked()
        spark.catalog.clearCache()
        t0 = time.time()
        fres = forecast_and_evaluate(
            hard_bars,
            series="user_id", time="ts", close="value", high="value",
            low="value", volume="value", model=model_name,
            order_tiebreak=["event_id"], **kw,
        )
        acc = fres.accuracy.collect()[0].accuracy
        return round(time.time() - t0, 3), round(acc, 4)

    _, ep3_hard_baseline_acc = run_ep3_hard("baseline")
    ep3_hard_mlp_sec, ep3_hard_mlp_acc = run_ep3_hard("mlp")
    ep3_hard_lstm_sec, ep3_hard_lstm_acc = run_ep3_hard("lstm", seq_len=30)
    release_tracked()
    spark.catalog.clearCache()

    # ANN quality probe: IVF recall@10 against exact brute force at this sf —
    # measured per run so approximate-search quality is a recorded number,
    # not a local-test-only claim. The synthetic embeddings are ~uniform
    # (no cluster structure — IVF's worst case), so 10 of 16 cells are
    # probed for ~0.93 recall; real embedding distributions cluster and
    # probe far fewer cells for the same recall.
    from financial_big_data_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    probes = (
        emb.where(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding"))
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, probes, k=10).select("query_id", "vec_id").collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, probes, n_cells=16, n_probe=10, k=10)
        .select("query_id", "vec_id")
        .collect()
    }
    ivf_recall = round(len(exact & approx) / max(len(exact), 1), 3)

    # IVF-PQ: same probe set through the compressed-code path (PQ codes +
    # ADC + exact refine). Uniform embeddings are PQ's worst case (no
    # cluster structure for the codebooks to exploit), so this is a
    # floor, recorded beside the plain-IVF number. m=16/nbits=8 (VERDICT
    # r5 #6: finer subspaces + 256-centroid codebooks lift the uniform-
    # fixture floor 0.80 -> ~0.93, matching plain IVF): codes are 16
    # bytes/vector vs 512 raw — the candidate scan still reads ~30x less;
    # the wall-clock delta vs the old m=8/nbits=6 config is TRAIN cost
    # (16 KMeans fits), paid once per corpus, not per query.
    from financial_big_data_spark.operators.pq import ivf_pq_topk

    def _ivfpq_once():
        _t0 = time.time()
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_pq_topk(
                emb, probes, n_cells=16, n_probe=10, m=16, nbits=8, k=10,
                refine_factor=8, residual=True,
            )
            .select("query_id", "vec_id")
            .collect()
        }
        return round(time.time() - _t0, 3), got

    _pq_t1, approx_pq = _ivfpq_once()
    _pq_t2, _ = _ivfpq_once()  # volatile row: min-of-2 + measured band
    bands["ann_ivfpq_sec"] = [min(_pq_t1, _pq_t2), max(_pq_t1, _pq_t2)]
    ivfpq_sec = min(_pq_t1, _pq_t2)
    ivfpq_recall = round(len(exact & approx_pq) / max(len(exact), 1), 3)

    # OPQ (VERDICT r6 #6): the same pipeline at HALF the code bytes
    # (m=8/nbits=8 = 8 bytes/vector) with the learned orthonormal
    # rotation applied before codebook training, encoding and the
    # query LUTs. Even on this near-isotropic fixture (covariance
    # eigenvalue ratio ~1.35) the rotation is worth ~+0.03 recall
    # (0.875 -> ~0.905 measured); on genuinely correlated embeddings
    # the gap widens (pinned by tests/test_pq.py's anisotropic cloud).
    t0 = time.time()
    approx_opq = {
        (r.query_id, r.vec_id)
        for r in ivf_pq_topk(
            emb, probes, n_cells=16, n_probe=10, m=8, nbits=8, k=10,
            refine_factor=8, residual=True, opq=True,
        )
        .select("query_id", "vec_id")
        .collect()
    }
    ivfpq_opq_sec = round(time.time() - t0, 3)
    ivfpq_opq_recall = round(len(exact & approx_opq) / max(len(exact), 1), 3)

    # OPQ with a CACHED rotation (VERDICT r7 #7): repeated searches
    # against the same corpus pay the alternation once — opq_rotation
    # trains R through the search path's exact construction, the second
    # call passes rotation=R and must land ~at the plain ivfpq cost
    # with recall unchanged (equality pinned by test_pq.py).
    from financial_big_data_spark.operators.pq import opq_rotation

    _rot, _ = opq_rotation(emb, n_cells=16, m=8, nbits=8, residual=True)
    def _opq_cached_once():
        _t0 = time.time()
        got = {
            (r.query_id, r.vec_id)
            for r in ivf_pq_topk(
                emb, probes, n_cells=16, n_probe=10, m=8, nbits=8, k=10,
                refine_factor=8, residual=True, rotation=_rot,
            )
            .select("query_id", "vec_id")
            .collect()
        }
        return round(time.time() - _t0, 3), got

    _oc_t1, approx_opq_cached = _opq_cached_once()
    _oc_t2, _ = _opq_cached_once()
    bands["ann_ivfpq_opq_cached_sec"] = [min(_oc_t1, _oc_t2), max(_oc_t1, _oc_t2)]
    ivfpq_opq_cached_sec = min(_oc_t1, _oc_t2)
    ivfpq_opq_cached_recall = round(
        len(exact & approx_opq_cached) / max(len(exact), 1), 3
    )

    # Persisted ANN index economics (round 12 — VERDICT r11 #1): the
    # trained IVF-PQ state committed once as a versioned artifact, then
    # maintained append-only. The scale claims measured here: append cost
    # is O(batch) — encode 5% of the corpus against FROZEN codebooks and
    # extend the codes manifest by reference — and query-after-append
    # reads stored centroids/codebooks/codes with ZERO training, so it
    # must land well under ann_ivfpq_opq_cached_sec (which still
    # re-trains codebooks + re-encodes the corpus per call; only the
    # rotation is cached there).
    import shutil as _ai_shutil
    import tempfile as _ai_tempfile

    from financial_big_data_spark.sources.ann_index import (
        append_ann_index,
        build_ann_index,
        query_ann_index,
    )

    ann_index_ops: dict[str, float] = {}
    _ai_dir = _ai_tempfile.mkdtemp(prefix="bench_ann_index_")
    try:
        _max_vec = emb.agg(F.max("vec_id")).first()[0]
        _ai_cut = int(_max_vec * 0.95)
        _ai_b1 = emb.where(F.col("vec_id") < _ai_cut)
        _ai_b2 = emb.where(F.col("vec_id") >= _ai_cut)
        _ai_idx = f"{_ai_dir}/idx"
        t0 = time.time()
        # opq=True: the artifact's whole point is train-ONCE — the learned
        # rotation + codebooks freeze into the index, so the build row
        # pays the alternation one time and every query/append thereafter
        # reads stored state (vs ann_ivfpq_opq_sec, which retrains per
        # call, and _cached_sec, which still re-trains codebooks +
        # re-encodes the corpus per call)
        build_ann_index(
            spark, _ai_b1, _ai_idx, m=8, nbits=8, n_cells=16,
            residual=True, opq=True, seed=42,
        )
        ann_index_ops["index_build_sec"] = round(time.time() - t0, 3)
        _codes_before = set(
            _load_manifest(f"{_ai_idx}/codes", None)["files"]
        )
        t0 = time.time()
        append_ann_index(spark, _ai_b2, _ai_idx)
        ann_index_ops["index_append_sec"] = round(time.time() - t0, 3)
        ann_index_ops["append_vs_build_ratio"] = round(
            ann_index_ops["index_append_sec"]
            / max(ann_index_ops["index_build_sec"], 1e-9),
            3,
        )
        # O(batch) evidence (the matview sidecar_carried_files discipline):
        # every pre-append codes file must appear in the post-append
        # manifest by reference — the corpus was never rewritten
        _codes_after = set(_load_manifest(f"{_ai_idx}/codes", None)["files"])
        ann_index_ops["codes_files_carried"] = len(_codes_before & _codes_after)
        ann_index_ops["codes_files_total"] = len(_codes_after)

        def _ai_query_once():
            _t0 = time.time()
            got = {
                (r.query_id, r.vec_id)
                for r in query_ann_index(
                    spark, probes, _ai_idx, k=10, n_probe=10,
                    refine_factor=8, corpus=emb, exclude_self=True,
                )
                .select("query_id", "vec_id")
                .collect()
            }
            return round(time.time() - _t0, 3), got

        _ai_t1, _ai_got = _ai_query_once()
        _ai_t2, _ = _ai_query_once()
        bands["ann_index_query_sec"] = [min(_ai_t1, _ai_t2), max(_ai_t1, _ai_t2)]
        ann_index_ops["index_query_after_append_sec"] = min(_ai_t1, _ai_t2)
        ann_index_ops["index_query_recall_at_10"] = round(
            len(exact & _ai_got) / max(len(exact), 1), 3
        )
    finally:
        _ai_shutil.rmtree(_ai_dir, ignore_errors=True)
    _rel()
    spark.catalog.clearCache()

    # Dedup recall probe: LSH near-dup pairs vs the EXACT Jaccard ground
    # truth at the same threshold/shingling — approximate-dedup quality as
    # a recorded number. LSH candidates are exact-verified, so the LSH set
    # is a subset of truth and the ratio IS recall (precision = 1).
    from financial_big_data_spark.operators import dedup as _D

    docs_df = load_table(spark, sf_dir, "documents")
    truth_pairs = {
        (r.id_a, r.id_b)
        for r in _D.jaccard_pairs(docs_df, shingle_n=3)
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
        .collect()
    }
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in _D.near_dup_lsh(
            docs_df, num_hashes=8, bands=4, shingle_n=3, min_jaccard=0.5
        )
        .select("id_a", "id_b")
        .collect()
    }
    dedup_lsh_recall = round(
        len(lsh_pairs & truth_pairs) / max(len(truth_pairs), 1), 3
    )

    # Skew-mitigation probe (VERDICT r2 next #9): a 95%-hot-key join, timed
    # naive (AQE skew-join off), naive (AQE skew-join on) and salted — the
    # recorded ratio is what the salting operators earn over letting one
    # task absorb the hot partition. Broadcast is disabled so the join is
    # sort-merge (the regime salted_join targets: dim above broadcast size).
    from financial_big_data_spark.operators.skew import salted_join

    skew_rows = 16_000_000
    # CACHED fixtures: the timed window must measure the JOIN, not the
    # shared range+concat generation lineage, which previously diluted the
    # naive-vs-salted gap toward 1x (VERDICT r3 wrong #3)
    skew_big = spark.range(skew_rows).select(
        F.when(F.col("id") % 20 < 19, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 50_000).cast("string")))
        .alias("key"),
        F.col("id").alias("rid"),
        (F.col("id") % 97).cast("double").alias("v"),
    ).cache()
    skew_dim = spark.range(50_001).select(
        F.when(F.col("id") == 50_000, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id").cast("string")))
        .alias("key"),
        (F.col("id") % 7).cast("double").alias("factor"),
    ).cache()
    bcast_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def time_noop(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def time_noop_fn(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    time_noop(skew_big.join(skew_dim, on="key"))  # materialize fixture caches
    def _banded(name: str, fn) -> float:
        samples = [fn() for _ in range(2)]
        bands[name] = [round(min(samples), 3), round(max(samples), 3)]
        return round(min(samples), 3)

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    skew_naive = _banded(
        "skew_naive_sec", lambda: time_noop(skew_big.join(skew_dim, on="key"))
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    skew_naive_aqe = _banded(
        "skew_naive_aqe_sec", lambda: time_noop(skew_big.join(skew_dim, on="key"))
    )
    skew_salted = _banded(
        "skew_salted_sec",
        lambda: time_noop(salted_join(skew_big, skew_dim, "key", "rid")),
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)
    skew_big.unpersist()
    skew_dim.unpersist()

    # Co-occurrence hot-slot probe (VERDICT r5 #2): the graph-build pair
    # generation is quadratic per slot; one deliberately hot slot (8k
    # members among 2k normal 20-member slots) shows what the slot_cap
    # bound earns — capped emits ≤ cap²/2 pairs from the hot slot
    # (deterministic min-xxhash membership) vs the uncapped ~32M.
    from financial_big_data_spark.ml.graph import cooccurrence_pairs

    hot_slots = (
        spark.range(8_000)
        .select(
            F.col("id").alias("user_id"),
            F.lit("hot").alias("event_type"),
            F.lit("h0").alias("hr"),
        )
        .unionByName(
            spark.range(40_000).select(
                (F.col("id") % 20_000).alias("user_id"),
                F.concat(F.lit("t"), (F.col("id") % 40).cast("string")).alias(
                    "event_type"
                ),
                F.concat(
                    F.lit("h"), (F.floor(F.col("id") / 40) % 50 + 1).cast("string")
                ).alias("hr"),
            )
        )
        .cache()
    )
    hot_slots.count()  # materialize outside the timed window

    def _cooc(cap):
        return lambda: cooccurrence_pairs(
            hot_slots, node="user_id", keys=["event_type", "hr"],
            min_shared=1, slot_cap=cap,
        ).write.format("noop").mode("overwrite").save()

    _cooc(1024)()  # warm
    cooc_capped = round(min(time_noop_fn(_cooc(1024)) for _ in range(2)), 3)
    cooc_uncapped = round(min(time_noop_fn(_cooc(None)) for _ in range(2)), 3)
    cooc_skew = {
        "hot_slot_members": 8_000,
        "slot_cap": 1024,
        "capped_sec": cooc_capped,
        "uncapped_sec": cooc_uncapped,
        "uncapped_over_capped": round(cooc_uncapped / max(cooc_capped, 1e-9), 2),
    }
    hot_slots.unpersist()

    # LSH hot-bucket probe (VERDICT r10 #1): near-identical boilerplate
    # families form hot (band,key) buckets whose pair expansion is B² —
    # 20k identical docs land in ONE bucket per band (~200M candidate
    # pairs uncapped) among 4k genuinely unique docs (every shingle
    # carries the doc id, so they form no buckets). bucket_cap bounds the
    # expansion at cap² head pairs + one linear star edge per overflow
    # member, keeping the bucket a single connected component through its
    # representative.
    from financial_big_data_spark.cache import release_tracked as _release
    from financial_big_data_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    _uid = F.col("id").cast("string")
    hot_docs = (
        spark.range(20_000)
        .select(
            F.col("id").alias("doc_id"),
            F.lit(
                "the same boilerplate paragraph repeated across this "
                "near duplicate document family"
            ).alias("text"),
        )
        .unionByName(
            spark.range(20_000, 24_000).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ", *[F.concat(F.lit(f"w{j}x"), _uid) for j in range(6)]
                ).alias("text"),
            )
        )
    )
    hot_sigs = minhash_signatures(hot_docs, num_hashes=8, shingle_n=3).cache()
    hot_sigs.count()  # materialize outside the timed window

    def _lsh(cap):
        def run():
            _release()  # drop the previous run's _cap_bucket pin
            lsh_candidate_pairs(
                hot_sigs, num_hashes=8, bands=4, bucket_cap=cap
            ).write.format("noop").mode("overwrite").save()

        return run

    _lsh(1024)()  # warm
    lsh_capped = round(min(time_noop_fn(_lsh(1024)) for _ in range(2)), 3)
    lsh_uncapped = round(time_noop_fn(_lsh(None)), 3)  # quadratic: once
    _release()
    lsh_skew = {
        "hot_bucket_members": 20_000,
        "bucket_cap": 1024,
        "capped_sec": lsh_capped,
        "uncapped_sec": lsh_uncapped,
        "uncapped_over_capped": round(lsh_uncapped / max(lsh_capped, 1e-9), 2),
    }
    hot_sigs.unpersist()

    # SCALE-PROOF section (VERDICT r12 #5): every sf0.1 headline row is
    # job-floor bound, so the 8-vs-32-core driver comparison measured
    # scheduling overhead, not parallel scaling (all 16 ratios < 1).
    # These rows run the heaviest operator families on 10x fixtures
    # (disjoint id-offset copies of the sf0.1 inputs — deterministic,
    # derived in-plan, nothing persisted across runs) sized to be
    # compute-bound, so the driver's two runs (BENCH c32 vs c8) yield
    # real scaling ratios for them. Timed once each (the operators are
    # already JIT-warmed by the headline rows; a second run would double
    # a deliberately-heavy section for band cosmetics). Additive JSON
    # key; the headline metric/value and `queries` dict are untouched.
    # Skippable for quick local iterations with SPARK_GRAFT_SCALE_PROOF=0.
    scale_proof: dict[str, float | int] = {}
    if os.environ.get("SPARK_GRAFT_SCALE_PROOF", "1") != "0":
        from financial_big_data_spark.ml.graph import (
            cooccurrence_pairs as _sp_cooc,
            pagerank as _sp_pagerank,
            triangle_count as _sp_tri,
        )
        from financial_big_data_spark.operators.dedup import (
            near_dup_lsh as _sp_neardup,
        )

        _sp_mult = 10
        scale_proof["fixture_multiplier"] = _sp_mult
        # 10x events: disjoint user_id ranges per copy -> 10 disjoint
        # co-occurrence subgraphs (linear growth, same per-slot density)
        _sp_ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        _sp_max_uid = _sp_ev.agg(F.max("user_id")).collect()[0][0] or 0
        _sp_copies = F.explode(
            F.sequence(F.lit(0), F.lit(_sp_mult - 1))
        ).alias("_copy")

        def _sp_events10():
            # user ids AND slot keys are offset per copy: disjoint users
            # with shared (event_type, hr) slots would grow the slot
            # self-join 100x (quadratic in slot membership), not 10x
            return (
                load_table(spark, sf_dir, "events")
                .select(
                    "user_id", "event_type",
                    F.date_trunc("hour", F.col("ts")).alias("hr"),
                )
                .select(F.col("user_id"), "event_type", "hr", _sp_copies)
                .select(
                    (F.col("user_id") + F.col("_copy") * (_sp_max_uid + 1)).alias(
                        "user_id"
                    ),
                    F.concat(
                        F.col("event_type"), F.lit("#"),
                        F.col("_copy").cast("string"),
                    ).alias("event_type"),
                    "hr",
                )
            )

        def _sp_graph_pairs():
            return _sp_cooc(
                _sp_events10(), node="user_id", keys=["event_type", "hr"],
                min_shared=3,
            )

        spark.sparkContext.setJobDescription("scale_proof: pagerank_10x")
        _rel()
        spark.catalog.clearCache()
        t0 = time.time()
        _sp_pairs = _sp_graph_pairs().persist()
        _sp_edges = _sp_pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("_e")
        ).select("_e.src", "_e.dst")
        _sp_pagerank(
            _sp_edges, n_iter=10, damping=0.85, checkpoint_interval=2
        ).write.format("noop").mode("overwrite").save()
        scale_proof["pagerank_10x_sec"] = round(time.time() - t0, 3)
        _sp_pairs.unpersist()

        spark.sparkContext.setJobDescription("scale_proof: triangles_10x")
        _rel()
        spark.catalog.clearCache()
        t0 = time.time()
        _sp_tri(_sp_graph_pairs(), per_node=True).write.format("noop").mode(
            "overwrite"
        ).save()
        scale_proof["triangles_10x_sec"] = round(time.time() - t0, 3)
        _rel()

        # 10x documents: per-copy token suffix makes copies DISJOINT in
        # shingle space (no cross-copy near-dups; linear candidate growth)
        def _sp_docs10():
            # per-token copy suffix (replacement is a Column: "$1c<copy>")
            return (
                load_table(spark, sf_dir, "documents")
                .select("doc_id", "text", _sp_copies)
                .select(
                    (F.col("doc_id") + F.col("_copy") * F.lit(10_000_000)).alias(
                        "doc_id"
                    ),
                    F.regexp_replace(
                        F.col("text"),
                        F.lit(r"(\S+)"),
                        F.concat(F.lit("$1c"), F.col("_copy").cast("string")),
                    ).alias("text"),
                )
            )

        spark.sparkContext.setJobDescription("scale_proof: neardup_10x")
        spark.catalog.clearCache()
        t0 = time.time()
        _sp_neardup(
            _sp_docs10(), min_jaccard=0.5
        ).write.format("noop").mode("overwrite").save()
        scale_proof["neardup_10x_sec"] = round(time.time() - t0, 3)
        _rel()

        # sparse-corpus LSH rescore prune (optimization r13): unique docs
        # (id-salted text) + one 600-member dup family — candidate docs
        # ~1.5% of the corpus, the regime near_dup_lsh's opt-in
        # rescore_selectivity exists for. Same operator, same arguments,
        # pruned vs unpruned; results are identical (parity pinned by
        # tests/test_stats_dedup.py), only the collect_set shuffle width
        # changes.
        _sp_uid = F.col("id").cast("string")
        _sp_sparse = (
            spark.range(40_000)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(
                    " ", *[F.concat(F.lit(f"u{j}q"), _sp_uid) for j in range(12)]
                ).alias("text"),
            )
            .unionByName(
                spark.range(40_000, 40_600).select(
                    F.col("id").alias("doc_id"),
                    F.lit(
                        "shared boilerplate body for the duplicated "
                        "document family across this sparse corpus probe"
                    ).alias("text"),
                )
            )
        )
        for _sp_tag, _sp_flag in (("unpruned", False), ("pruned", True)):
            spark.sparkContext.setJobDescription(f"scale_proof: lsh_sparse_{_sp_tag}")
            _rel()
            spark.catalog.clearCache()
            t0 = time.time()
            _sp_neardup(
                _sp_sparse, min_jaccard=0.5, rescore_selectivity=_sp_flag
            ).write.format("noop").mode("overwrite").save()
            scale_proof[f"lsh_sparse_{_sp_tag}_sec"] = round(time.time() - t0, 3)
            _rel()
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()

    # Louvain at scale (VERDICT r6 #7): a planted-partition synthetic —
    # 200 communities x 500 nodes, ~1M edges (8 intra + 2 inter
    # pseudo-random edges per node, hash-generated, no driver data) —
    # through the one size-routed Louvain loop twice. `louvain_*` keeps
    # the default 200k-edge driver cap, so the entry check sends the graph
    # to the DISTRIBUTED sweeps (local moves + contraction, 4 levels x 4
    # sweeps — affordable since ml/graph._ckpt stopped iterated
    # checkpoints from compounding plan statistics into million-bit
    # BigInts), and the driver finish takes over once contraction brings
    # it under the cap. r8 (VERDICT r7 #1): per-sweep re-drawn hash
    # gating + hashed tie-breaks + desired-move termination in the
    # sweeps, plus that finish, recover the planted partition (Q~0.79,
    # 200 comms, measured 58.7s vs r7's Q 0.57/103 at 61s). Its value is
    # capacity AND quality: level-0 sweeps are pure DataFrame joins (edge
    # lists beyond driver memory), the finish runs on the supernode graph
    # only. `driver_louvain_*` raises the cap to the edge count, so the
    # entry check collects the whole graph and networkx runs on the
    # driver: the sequential baseline on the same graph.
    from financial_big_data_spark.ml.graph import (
        louvain_distributed,
        louvain_distributed_df,
        modularity as graph_modularity,
    )

    _ln, _csize = 100_000, 500
    _lnodes = spark.range(_ln)

    def _ring(r: int, intra: bool):
        if intra:
            return _lnodes.select(
                F.col("id").alias("src"),
                (
                    (F.col("id") / _csize).cast("bigint") * _csize
                    + F.pmod(F.xxhash64(F.col("id"), F.lit(r)), F.lit(_csize))
                ).alias("dst"),
            )
        return _lnodes.select(
            F.col("id").alias("src"),
            F.pmod(F.xxhash64(F.col("id"), F.lit(1000 + r)), F.lit(_ln)).alias("dst"),
        )

    _lparts = [_ring(r, True) for r in range(8)] + [_ring(r, False) for r in range(2)]
    _le = _lparts[0]
    for _p in _lparts[1:]:
        _le = _le.unionByName(_p)
    _ledges = (
        _le.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
        .distinct()
        .cache()
    )
    louvain_scale: dict[str, float | int] = {
        "nodes": _ln,
        "edges": _ledges.count(),
        "planted_communities": _ln // _csize,
    }
    _planted = _lnodes.select(
        F.col("id").alias("node"), (F.col("id") / _csize).cast("bigint").alias("community")
    )
    louvain_scale["planted_modularity"] = round(graph_modularity(_ledges, _planted), 4)
    t0 = time.time()
    _lcom = louvain_distributed(_ledges, max_levels=4, max_sweeps=16)
    louvain_scale["louvain_modularity"] = round(graph_modularity(_ledges, _lcom), 4)
    louvain_scale["louvain_communities"] = _lcom.select("community").distinct().count()
    louvain_scale["louvain_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    _, _dstats = louvain_distributed_df(
        _ledges, driver_finish_edges=louvain_scale["edges"]
    )
    louvain_scale["driver_louvain_sec"] = round(time.time() - t0, 3)
    louvain_scale["driver_louvain_modularity"] = round(_dstats["modularity"], 4)
    louvain_scale["driver_louvain_communities"] = int(_dstats["n_communities"])
    _ledges.unpersist()
    _rel()
    spark.catalog.clearCache()

    # Cardinality-sketch scale probe: exact COUNT(DISTINCT) vs the HLL
    # aggregate (b=12, ±~1.6%) on a generated 20M-row / 8M-distinct frame —
    # the "bounded sketch state beats the distinct shuffle" claim as a
    # measured number. Timed twice: xxhash64 (the production hash) and md5
    # (the cross-engine oracle hash) — the md5 delta is the price of
    # DuckDB-reproducibility, paid only in oracle-checked queries.
    from financial_big_data_spark.operators.sketches import hll_estimate, hll_sketch

    card = (
        spark.range(0, 20_000_000)
        .select((F.col("id") % 8_000_000).cast("string").alias("k"))
        .cache()
    )
    card.count()  # materialize so every contender reads the same cache
    t0 = time.time()
    exact_card = card.agg(F.countDistinct("k").alias("d")).collect()[0]["d"]
    sk_exact_sec = round(time.time() - t0, 3)
    t0 = time.time()
    est_xx = hll_estimate(
        hll_sketch(card, "k", b=12, hash="xxhash64"), b=12
    ).collect()[0]["est_distinct"]
    sk_xx_sec = round(time.time() - t0, 3)
    t0 = time.time()
    hll_estimate(hll_sketch(card, "k", b=12), b=12).collect()
    sk_md5_sec = round(time.time() - t0, 3)
    card.unpersist()
    sketch_ops = {
        "rows": 20_000_000,
        "exact_distinct_sec": sk_exact_sec,
        "hll_xxhash_sec": sk_xx_sec,
        "hll_md5_sec": sk_md5_sec,
        "hll_rel_err": round(abs(est_xx - exact_card) / exact_card, 4),
    }

    # Head-to-head at ≥1M rows: the BASELINE.md 2x gate measured where it is
    # meetable. At sf0.1 (100k rows) Spark pays a fixed multi-second job
    # floor that no plan can amortize; both engines get the SAME in-memory
    # 10x-scaled frame (disjoint user_id copies) and run the full EP2 DAG.
    import importlib.util as _ilu

    import pandas as pd

    _spec = _ilu.spec_from_file_location(
        "pandas_baseline",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools", "pandas_baseline.py"),
    )
    _pb = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_pb)

    mult = 10
    ev_big = ev
    for i in range(1, mult):
        ev_big = ev_big.unionByName(
            ev.withColumn("user_id", F.col("user_id") + F.lit((max_id + 1) * i))
        )
    # min-of-3, re-caching the input OUTSIDE each timed window (clearCache
    # drops ev_big too, so each iteration re-materializes it before t0);
    # 3 runs because this composite's run-to-run spread (GC state) exceeds
    # the other rows'
    _big_samples, n_big = [], 0
    for _ in range(3):
        spark.catalog.clearCache()
        ev_big_c = ev_big.cache()
        n_big = ev_big_c.count()  # materialize outside the timed window
        _big_samples.append(run_ep2(ev_big_c))
        ev_big_c.unpersist()
    bands["ep2_big_spark_sec"] = [
        round(min(_big_samples), 3), round(max(_big_samples), 3)
    ]
    ep2_big_spark = round(min(_big_samples), 3)

    pdf = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    pdf_big = pd.concat(
        [pdf.assign(user_id=pdf["user_id"] + (max_id + 1) * i) for i in range(mult)],
        ignore_index=True,
    )
    _pd_samples = []
    for _ in range(3):
        t0 = time.time()
        _pb.ep2_pandas(pdf_big)
        _pd_samples.append(time.time() - t0)
    bands["ep2_big_pandas_sec"] = [
        round(min(_pd_samples), 3), round(max(_pd_samples), 3)
    ]
    ep2_big_pandas = round(min(_pd_samples), 3)

    # END-OF-RUN canary (round 10): the start canary cannot catch a
    # machine window that degrades MID-RUN — observed in this round's
    # first solo run (start canary 0.124, then the single-threaded
    # pandas row ran +44% slower and sketch_ops 2-3x in the run's second
    # half). Re-measure the same fixed workload at the end; a drifted
    # end canary stamps the run tainted so the degraded back half can't
    # pass as clean numbers.
    canary_end_sec = round(min(_canary() for _ in range(3)), 3)
    _cal_update(canary_end_sec)

    # Key ORDER is load-bearing (VERDICT r6 #8): the driver's BENCH wrapper
    # has HEAD-truncated this one-line JSON two rounds straight, keeping
    # only the tail. Emit the big nested dicts FIRST (losing part of one
    # of them costs the least — bench_compare's scavenger recovers the
    # complete sub-dicts that survive) and every scalar, including the
    # headline metric/value and the canary, LAST where the tail always
    # keeps them.
    out = {
        "bands": bands,
        "queries": timings,
        "tpch_ops": tpch_ops,
        "sketch_graph_ops": sketch_graph_ops,
        "curation_ops": curation_ops,
        "alignment_ops": alignment_ops,
        "matview_ops": matview_ops,
        "matview_scale": matview_scale,
        "ann_index_ops": ann_index_ops,
        "sketch_ops": sketch_ops,
        "cooccurrence_skew": cooc_skew,
        "lsh_skew": lsh_skew,
        "scale_proof": scale_proof,
        "louvain_scale": louvain_scale,
        "ep2_8x_rows_sec": ep2_8x,
        "ep2_scale_factor_8x": round(ep2_8x / max(timings["market_analysis_plan"], 1e-9), 2),
        "ann_ivf_recall_at_10": ivf_recall,
        "ann_ivfpq_recall_at_10": ivfpq_recall,
        "ann_ivfpq_sec": ivfpq_sec,
        "ann_ivfpq_opq_recall_at_10": ivfpq_opq_recall,
        "ann_ivfpq_opq_sec": ivfpq_opq_sec,
        "ann_ivfpq_opq_cached_recall_at_10": ivfpq_opq_cached_recall,
        "ann_ivfpq_opq_cached_sec": ivfpq_opq_cached_sec,
        "ann_ivfpq_opq_code_bytes": 8,
        "dedup_lsh_recall": dedup_lsh_recall,
        "ep3_logistic_sec": ep3_sec,
        "ep3_logistic_acc": ep3_acc,
        "ep3_mlp_sec": ep3_mlp_sec,
        "ep3_mlp_acc": ep3_mlp_acc,
        "ep3_baseline_acc": ep3_baseline_acc,
        "ep3_hard_baseline_acc": ep3_hard_baseline_acc,
        "ep3_hard_mlp_acc": ep3_hard_mlp_acc,
        "ep3_hard_mlp_sec": ep3_hard_mlp_sec,
        "ep3_hard_mlp_margin": round(ep3_hard_mlp_acc - ep3_hard_baseline_acc, 4),
        "ep3_hard_lstm_acc": ep3_hard_lstm_acc,
        "ep3_hard_lstm_sec": ep3_hard_lstm_sec,
        "ep3_hard_lstm_margin": round(
            ep3_hard_lstm_acc - ep3_hard_baseline_acc, 4
        ),
        "ep3_seq_mlp_sec": ep3_seq_mlp_sec,
        "ep3_seq_mlp_acc": ep3_seq_mlp_acc,
        "ep3_lstm_sec": ep3_lstm_sec,
        "ep3_lstm_acc": ep3_lstm_acc,
        "ep3_lstm_dist_sec": ep3_lstm_dist_sec,
        "ep3_lstm_dist_acc": ep3_lstm_dist_acc,
        "skew_naive_sec": skew_naive,
        "skew_naive_aqe_sec": skew_naive_aqe,
        "skew_salted_sec": skew_salted,
        "skew_salted_ratio": round(skew_naive / max(skew_salted, 1e-9), 2),
        "ep2_big_rows": n_big,
        "ep2_big_spark_sec": ep2_big_spark,
        "ep2_big_pandas_sec": ep2_big_pandas,
        "ep2_big_ratio": round(ep2_big_spark / max(ep2_big_pandas, 1e-9), 2),
        "canary_local1_sec": canary_sec,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        # Environment guard (VERDICT r8 #2 + r9 #3): a run that starts on
        # a busy box (loadavg) OR inside a degraded machine window (the
        # canary outside its clean reference band) is stamped TAINTED so
        # tools/bench_compare reports its deltas for context but refuses
        # to score them as regressions. The value stays truthy-compatible:
        # True (load) or the string "canary".
        "canary_ref": CANARY_REF,
        "canary_end_sec": canary_end_sec,
        "quiet_wait_sec": waited,
        "tainted": (
            True
            if load_start > 1.0
            else (
                "canary"
                if canary_sec > CANARY_REF[1]
                or canary_end_sec > CANARY_REF[1]
                else False
            )
        ),
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
    }
    # durable full artifact (VERDICT r7 #3): the driver wrapper
    # head-truncates its captured tail, losing the per-query dict three
    # rounds running — write the complete JSON next to the script so
    # cross-round per-query comparison never depends on /tmp files.
    # bench_compare prefers this file when handed a truncated wrapper.
    # A TAINTED run routes to BENCH_TAINTED.json (VERDICT r9 #2): the r9
    # driver's loaded run overwrote the committed clean BENCH_LOCAL.json
    # in the working tree — the taint guard protected scoring but not
    # the artifact file. The clean artifact is only ever replaced by a
    # clean run.
    artifact = "BENCH_TAINTED.json" if out["tainted"] else "BENCH_LOCAL.json"
    try:
        apath = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), artifact
        )
        with open(apath, "w") as fh:
            json.dump(out, fh)
            fh.write("\n")
        if out["tainted"]:
            print(
                f"NOTE: tainted run — artifact written to {artifact}; "
                "BENCH_LOCAL.json left untouched.",
                file=sys.stderr,
            )
    except OSError:
        pass  # read-only checkout: stdout line remains the artifact
    print(json.dumps(out))


if __name__ == "__main__":
    main()
