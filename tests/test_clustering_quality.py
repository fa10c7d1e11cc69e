"""Deterministic-seed ML quality checks (SURVEY §5.2 item 3) + S5 scan test."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.ml.clustering import (
    corr_edges,
    correlation_matrix,
    dbscan,
    kmeans_clusters,
    louvain_communities_df,
    pca_project,
)


@pytest.fixture(scope="module")
def blobs_df(spark):
    """3 well-separated gaussian blobs in 4-D (seeded)."""
    rng = np.random.default_rng(42)
    centers = np.array([[0, 0, 0, 0], [10, 10, 0, 0], [0, 10, 10, 10]], dtype=float)
    rows = []
    for ci, c in enumerate(centers):
        for i in range(40):
            p = c + rng.normal(0, 0.5, 4)
            rows.append((f"p{ci}_{i}", ci, *p.tolist()))
    return spark.createDataFrame(
        rows, "id string, true_cluster int, x0 double, x1 double, x2 double, x3 double"
    )


FEATS = ["x0", "x1", "x2", "x3"]


def test_kmeans_recovers_blobs(spark, blobs_df):
    assigned, metrics = kmeans_clusters(blobs_df, FEATS, k=3, seed=42, standardize=False)
    # silhouette on separated blobs must be high; inertia finite
    assert metrics["silhouette"] > 0.8
    assert metrics["inertia"] >= 0
    # each true blob maps to exactly one kmeans cluster
    purity = (
        assigned.groupBy("true_cluster")
        .agg(F.countDistinct("cluster").alias("k"))
        .collect()
    )
    assert all(r.k == 1 for r in purity)


def test_kmeans_deterministic_across_runs(spark, blobs_df):
    a, ma = kmeans_clusters(blobs_df, FEATS, k=3, seed=42, standardize=False)
    b, mb = kmeans_clusters(blobs_df, FEATS, k=3, seed=42, standardize=False)
    assert abs(ma["silhouette"] - mb["silhouette"]) < 1e-12
    ra = {r.id: r.cluster for r in a.collect()}
    rb = {r.id: r.cluster for r in b.collect()}
    assert ra == rb


def _jobs_in_group(spark, group, fn):
    """``fn()``'s result and the Spark jobs it ran under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _labels(rows, feats):
    """(features, 0..k'-1 cluster labels) of collected assignment rows."""
    X = np.array([[r[c] for c in feats] for r in rows], dtype=float)
    return X, np.unique([r.cluster for r in rows], return_inverse=True)[1]


def _partition(rows) -> set:
    """Clusters as a set of id sets, independent of their labels."""
    groups: dict = {}
    for r in rows:
        groups.setdefault(r.cluster, set()).add(r.id)
    return {frozenset(g) for g in groups.values()}


@pytest.mark.parametrize("standardize", [False, True])
def test_kmeans_driver_quality_matches_mllib(spark, blobs_df, monkeypatch, standardize):
    """On MLlib's own assignment, the driver route's closed-form silhouette
    equals ClusteringEvaluator's and its inertia MLlib's training cost, in
    raw and in standardized (ddof=1) feature space."""
    import financial_big_data_spark.ml.clustering as mc

    monkeypatch.setattr(mc, "_KMEANS_DRIVER_MAX_ROWS", 10)
    assigned, want = mc.kmeans_clusters(blobs_df, FEATS, k=3, seed=42, standardize=standardize)
    X, labels = _labels(assigned.collect(), FEATS)
    if standardize:
        X = (X - X.mean(axis=0)) / X.std(axis=0, ddof=1)
    assert abs(mc._silhouette(X, labels) - want["silhouette"]) <= 1e-9
    assert abs(mc._inertia(X, labels) - want["inertia"]) <= 1e-9
    # the driver route finds that partition too, and reports its quality
    driver, got = kmeans_clusters(blobs_df, FEATS, k=3, seed=42, standardize=standardize)
    assert _partition(driver.collect()) == _partition(assigned.collect())
    assert abs(got["silhouette"] - want["silhouette"]) <= 1e-9
    assert abs(got["inertia"] - want["inertia"]) <= 1e-9


def test_kmeans_driver_route_job_budget(spark, blobs_df, monkeypatch):
    """Under the row cap the call is one bounded collect: at most 2 Spark
    jobs, and MLlib is never fitted."""
    import financial_big_data_spark.ml.clustering as mc

    def no_mllib(*args, **kwargs):
        raise AssertionError("an input under the row cap must not reach MLlib")

    monkeypatch.setattr(mc, "KMeans", no_mllib)
    (assigned, metrics), n_jobs = _jobs_in_group(
        spark, "kmeans_driver_route",
        lambda: kmeans_clusters(blobs_df, FEATS, k=3, seed=42, standardize=False),
    )
    assert n_jobs <= 2
    assert metrics["silhouette"] > 0.8 and metrics["k"] == 3
    assert assigned.schema.fieldNames() == blobs_df.columns + ["cluster"]


def test_kmeans_driver_skips_null_and_nan_rows(spark, blobs_df):
    """A row with a NULL or NaN feature is skipped, as VectorAssembler's
    handleInvalid="skip" does; the rest cluster as without it."""
    bad = spark.createDataFrame(
        [("nul", -1, None, 0.0, 0.0, 0.0), ("nan", -1, 1.0, float("nan"), 0.0, 0.0)],
        blobs_df.schema,
    )
    a, ma = kmeans_clusters(blobs_df.union(bad), FEATS, k=3, seed=42)
    b, mb = kmeans_clusters(blobs_df, FEATS, k=3, seed=42)
    assert a.count() == blobs_df.count()
    assert _partition(a.collect()) == _partition(b.collect())
    assert ma == mb


def test_kmeans_driver_zero_variance_column_and_k_above_n(spark, blobs_df):
    """Standardized, a zero-variance feature maps to 0 and changes
    nothing. k above the distinct point count gives one cluster per
    distinct point, as MLlib: inertia 0, and a singleton's silhouette is
    0 (a duplicated point's is 1). A single cluster has no silhouette
    (NaN)."""
    import math

    with_const = blobs_df.withColumn("c", F.lit(5.0))
    a, ma = kmeans_clusters(with_const, ["c", *FEATS], k=3, seed=42)
    b, mb = kmeans_clusters(blobs_df, FEATS, k=3, seed=42)
    assert _partition(a.collect()) == _partition(b.collect())
    assert abs(ma["inertia"] - mb["inertia"]) < 1e-12
    assert abs(ma["silhouette"] - mb["silhouette"]) < 1e-12

    rows = [("p", 0, 1.0, 2.0, 0.0, 0.0), ("q", 0, 1.0, 3.0, 0.0, 0.0),
            ("r", 0, 1.0, 9.0, 0.0, 0.0), ("r2", 0, 1.0, 9.0, 0.0, 0.0)]
    small = spark.createDataFrame(rows, blobs_df.schema)
    out, m = kmeans_clusters(small, FEATS, k=10, seed=42)
    got = {r.id: r.cluster for r in out.collect()}
    assert sorted(set(got.values())) == [0, 1, 2] and got["r"] == got["r2"]
    assert m["inertia"] == 0.0 and m["silhouette"] == 0.5
    _distinct, m3 = kmeans_clusters(small.where("id != 'r2'"), FEATS, k=3, seed=42)
    assert m3["inertia"] == 0.0 and m3["silhouette"] == 0.0
    _one, m1 = kmeans_clusters(small.limit(1), FEATS, k=3, seed=42)
    assert m1["inertia"] == 0.0 and math.isnan(m1["silhouette"])


def test_kmeans_driver_seeded_and_row_order_invariant(spark, blobs_df):
    """The same seed gives the same clusters and metrics, whatever order
    the input's rows arrive in."""
    a, ma = kmeans_clusters(blobs_df, FEATS, k=3, seed=7)
    b, mb = kmeans_clusters(blobs_df, FEATS, k=3, seed=7)
    c, mc_ = kmeans_clusters(blobs_df.orderBy(F.desc("x3")), FEATS, k=3, seed=7)
    ids = {r.id: r.cluster for r in a.collect()}
    assert ids == {r.id: r.cluster for r in b.collect()} == {r.id: r.cluster for r in c.collect()}
    assert ma == mb == mc_


def test_kmeans_blob_tests_on_mllib_route(spark, blobs_df, monkeypatch):
    """Above the row cap MLlib runs, and the blob tests hold there too."""
    import financial_big_data_spark.ml.clustering as mc

    def no_driver(*args, **kwargs):
        raise AssertionError("an input over the row cap must take the MLlib route")

    monkeypatch.setattr(mc, "_KMEANS_DRIVER_MAX_ROWS", 10)
    monkeypatch.setattr(mc, "_kmeans_driver", no_driver)
    test_kmeans_recovers_blobs(spark, blobs_df)
    test_kmeans_deterministic_across_runs(spark, blobs_df)


def test_pca_variance_concentration(spark, blobs_df):
    out = pca_project(blobs_df, FEATS, k=3, standardize=False)
    pcs = np.array([r.pc for r in out.collect()])
    # 3 blobs → 2 principal directions dominate; pc3 variance small vs pc1
    var = pcs.var(axis=0)
    assert var[0] > var[2] * 5


def test_correlation_and_louvain_structure(spark):
    """Two groups of series: correlated within, independent across."""
    rng = np.random.default_rng(7)
    base_a = rng.normal(0, 1, 200).cumsum()
    base_b = rng.normal(0, 1, 200).cumsum()
    rows = []
    for g, base in (("a", base_a), ("b", base_b)):
        for j in range(3):
            series = base + rng.normal(0, 0.05, 200)
            for t, v in enumerate(series):
                rows.append((f"{g}{j}", t, float(v)))
    df = spark.createDataFrame(rows, "key string, t int, value double")
    corr = correlation_matrix(df, key="key", time="t", value="value")
    edges = corr_edges(corr, threshold=0.9)
    communities, metrics = louvain_communities_df(spark, edges)
    groups = {
        r.node: r.community for r in communities.collect()
    }
    # within-group nodes share a community; across-group nodes don't
    assert groups["a0"] == groups["a1"] == groups["a2"]
    assert groups["b0"] == groups["b1"] == groups["b2"]
    assert groups["a0"] != groups["b0"]
    assert metrics["n_communities"] == 2
    assert metrics["modularity"] > 0.3


def test_dbscan_blobs_and_noise(spark, blobs_df):
    # add 5 far-away isolated noise points
    noise = spark.createDataFrame(
        [(f"n{i}", -1, 100.0 + 30 * i, -100.0 - 30 * i, 300.0 + 30 * i, -200.0) for i in range(5)],
        blobs_df.schema,
    )
    df = blobs_df.union(noise)
    out, params = dbscan(df, "id", FEATS, eps=3.0, min_pts=4)
    got = {r.id: (r.cluster, r.is_noise) for r in out.collect()}
    assert params["n_clusters"] == 3
    assert all(got[f"n{i}"][1] for i in range(5))  # isolated points are noise
    # blob members share their cluster label
    for ci in range(3):
        labels = {got[f"p{ci}_{i}"][0] for i in range(40)}
        assert len(labels) == 1 and -1 not in labels


def test_multifile_scan_filename_symbol(spark, tmp_path, bars_df):
    """S5: multi-file scan with filename-derived series column
    (input_file_name + regexp_extract replaces the reference's glob loop,
    data_merger.py:17-39)."""
    base = tmp_path / "per_symbol"
    for sym in ["AAA", "BBB"]:
        bars_df.where(F.col("symbol") == f"{sym}/USDT").drop("symbol").write.mode(
            "overwrite"
        ).parquet(str(base / f"{sym}_data.parquet"))
    scanned = (
        spark.read.parquet(str(base / "*_data.parquet"))
        .withColumn(
            "symbol",
            F.regexp_extract(F.input_file_name(), r"([A-Z]+)_data\.parquet", 1),
        )
    )
    counts = {r.symbol: r["count"] for r in scanned.groupBy("symbol").count().collect()}
    assert counts == {"AAA": 400, "BBB": 400}


def test_dbscan_distributed_parity(spark, blobs_df):
    """The ε-grid + connected-components route returns the same
    (id, cluster, is_noise) rows as the driver route: same groupings, same
    noise set and the same cluster numbers (by smallest core member id)."""
    noise = spark.createDataFrame(
        [(f"n{i}", -1, 100.0 + 30 * i, -100.0 - 30 * i, 300.0 + 30 * i, -200.0) for i in range(5)],
        blobs_df.schema,
    )
    df = blobs_df.union(noise)
    drv, p_drv = dbscan(df, "id", FEATS, eps=3.0, min_pts=4)
    dist, p_dist = dbscan(df, "id", FEATS, eps=3.0, min_pts=4, driver_max_nodes=None)
    assert p_drv["n_clusters"] == p_dist["n_clusters"] == 3
    assert p_drv["n_noise"] == p_dist["n_noise"] == 5
    assert p_drv == p_dist
    a = sorted(tuple(r) for r in drv.collect())
    assert a == sorted(tuple(r) for r in dist.collect())
    assert len(a) == df.count()


_EMB_DBSCAN_ROWS = """
import json, sys
from financial_big_data_spark.queries import q_emb_dbscan
from financial_big_data_spark.session import build_session
spark = build_session("emb_dbscan_hash_seed", cpus=1, shuffle_partitions=2)
print(json.dumps(sorted(tuple(r) for r in q_emb_dbscan(spark, sys.argv[1]).collect())))
"""


def test_emb_dbscan_rows_independent_of_hash_seed():
    """``q_emb_dbscan``'s (cluster, n) rows are the same in two driver
    processes with different Python hash seeds: cluster numbers follow the
    smallest core member id, not ``set`` iteration order."""
    import os
    import subprocess
    import sys

    from tests.test_registry_contract import SF

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _EMB_DBSCAN_ROWS, SF],
            cwd=root,
            env={**os.environ, "PYTHONHASHSEED": seed, "PYTHONPATH": root},
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for seed in ("1", "2")
    ]
    outs = [p.communicate(timeout=600)[0] for p in procs]
    assert [p.returncode for p in procs] == [0, 0]
    outs = [out.strip().splitlines()[-1] for out in outs]
    assert len(json.loads(outs[0])) > 1
    assert outs[0] == outs[1]


def test_dbscan_distributed_scale(spark):
    """1e4-node distributed DBSCAN: grid pruning must keep the candidate set
    far below all-pairs and recover the planted structure."""
    rng = np.random.default_rng(7)
    rows = []
    for ci in range(20):
        cx, cy = divmod(ci, 5)
        for i in range(500):
            p = np.array([cx * 50.0, cy * 50.0]) + rng.normal(0, 1.0, 2)
            rows.append((f"s{ci}_{i}", *p.tolist()))
    df = spark.createDataFrame(rows, "id string, x0 double, x1 double")
    out, params = dbscan(df, "id", ["x0", "x1"], eps=3.0, min_pts=4, driver_max_nodes=None)
    assert params["n_clusters"] == 20
    assert params["n_noise"] == 0
    assert out.count() == 10_000


def test_dbscan_pca_blocking_highdim_degenerate_dims(spark):
    """VERDICT r3 weak #2: the ε-grid blocks on top-2 PCA projections, so a
    fixture whose FIRST TWO raw dims are constant (all structure in dims
    3-4) must still spread cells — candidate pairs stay O(n·cluster), not
    the near-quadratic blowup raw-dim blocking would give (every point in
    one hot cell ⇒ ~1e8 candidates at 1e4 nodes)."""
    rng = np.random.default_rng(11)
    rows = []
    for ci in range(20):
        cx, cy = divmod(ci, 5)
        for i in range(500):
            rows.append(
                (
                    f"s{ci}_{i}",
                    0.0,  # degenerate
                    0.0,  # degenerate
                    cx * 50.0 + rng.normal(0, 1.0),
                    cy * 50.0 + rng.normal(0, 1.0),
                    rng.normal(0, 0.5),
                )
            )
    df = spark.createDataFrame(
        rows, "id string, x0 double, x1 double, x2 double, x3 double, x4 double"
    )
    out, params = dbscan(
        df, "id", ["x0", "x1", "x2", "x3", "x4"], eps=3.0, min_pts=4,
        driver_max_nodes=None, count_candidates=True,
    )
    assert params["n_clusters"] == 20
    assert params["n_noise"] == 0
    assert out.count() == 10_000
    # each point's candidates are bounded by its own cluster's 3x3 cell
    # neighborhood (≤ cluster size 500), nowhere near the 1e4 of a hot cell
    assert params["n_candidates"] < 600 * 10_000


def test_kneedle_elbow_finds_knee():
    from financial_big_data_spark.ml.clustering import kneedle_elbow

    # flat floor then steep tail: knee at the bend (index ~80)
    y = np.concatenate([np.linspace(0.1, 0.3, 80), np.linspace(0.3, 10.0, 20)])
    k = kneedle_elbow(y)
    assert k is not None and 70 <= k <= 85
    # featureless straight line -> no knee, caller falls back to percentile
    assert kneedle_elbow(np.linspace(0.0, 1.0, 100)) is None
    assert kneedle_elbow(np.full(50, 2.0)) is None


def test_dbscan_auto_eps_kneedle(spark, blobs_df):
    """eps=None routes through the Kneedle elbow of the 1-NN curve and must
    still recover the 3 blobs (elbow sits above in-cluster NN distances)."""
    out, params = dbscan(blobs_df, "id", FEATS, min_pts=4)
    assert params["eps"] > 0
    # the elbow eps hugs the 1-NN floor more tightly than P90, so it may
    # subdivide a loose blob and leave tail points as noise (the reference's
    # kneed behavior on the same curve) — but it must never merge distinct
    # blobs, and a majority of points must still cluster
    assert 3 <= params["n_clusters"] <= 8
    assert params["n_noise"] <= 48  # = 40% of 120
    got = {r.id: r.cluster for r in out.collect() if not r.is_noise}
    owner = {}
    for i, c in got.items():
        blob = i.split("_")[0]
        assert owner.setdefault(c, blob) == blob  # one cluster never spans blobs


def _corr_pairs(df) -> dict:
    """correlation_matrix as {(key_a, key_b): (corr, n)}."""
    out = correlation_matrix(df, "key", "t", "value")
    return {(r.key_a, r.key_b): (r.corr, r.n) for r in out.collect()}


def _pandas_pairs(rows) -> dict:
    """pandas ``.corr()`` reference, pairwise-complete: {(a, b): (r, n)}
    for every pair with n ≥ 1 overlapping timestamps, r None where pandas
    gives NaN. Duplicate (key, t) rows average, NULL values drop."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["key", "t", "value"]).astype({"value": float})
    wide = pdf.pivot_table(index="t", columns="key", values="value", aggfunc="mean")
    r = wide.corr().to_numpy()
    m = wide.notna().to_numpy(dtype=float)
    n = m.T @ m
    keys = list(wide.columns)
    return {
        (keys[a], keys[b]): (None if np.isnan(r[a, b]) else float(r[a, b]), int(n[a, b]))
        for a in range(len(keys))
        for b in range(a + 1, len(keys))
        if n[a, b] > 0
    }


def _assert_matches_pandas(got: dict, ref: dict, tol: float) -> None:
    assert set(got) == set(ref)
    for pair, (c_ref, n_ref) in ref.items():
        c, n = got[pair]
        assert n == n_ref, pair
        if c_ref is None:
            assert c is None, pair
        else:
            assert c is not None and abs(c - c_ref) < tol, pair


def test_correlation_matrix_routed_parity(spark):
    """The moments route must match pandas ``.corr()`` on a complete
    panel at ≥1e3 keys — the scale class where a k²-per-timestamp
    self-join dies (VERDICT r2 wrong #1)."""
    import math

    rows = [
        (f"k{i:04d}", t, math.sin((i % 97 + 1) * 0.37 * t) + 0.001 * i)
        for i in range(1000)
        for t in range(12)
    ]
    df = spark.createDataFrame(rows, "key string, t int, value double")
    got = _corr_pairs(df)
    ref = _pandas_pairs(rows)
    assert len(ref) == 1000 * 999 // 2 and {n for _c, n in ref.values()} == {12}
    _assert_matches_pandas(got, ref, 1e-6)


def test_correlation_matrix_gram_compiles_wide_panel(spark):
    """250 keys: every stage of correlation_matrix must come from
    generated code that compiles — with codegen fallback off, a k-column
    pivot fails with Janino's 64 KB method limit instead of silently
    running interpreted — and still match pandas ``.corr()``."""
    import math

    rows = [
        (f"k{i:03d}", t, math.sin((i % 31 + 1) * 0.41 * t) + 0.003 * i * t)
        for i in range(250)
        for t in range(30)
    ]
    df = spark.createDataFrame(rows, "key string, t int, value double")
    prior = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        got = _corr_pairs(df)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prior)
    ref = _pandas_pairs(rows)
    assert len(ref) == 250 * 249 // 2
    _assert_matches_pandas(got, ref, 1e-9)


def test_correlation_matrix_duplicates_and_nulls(spark):
    """A duplicated (key, time) row mean-collapses and a NULL value drops.
    One panel holds a dirty copy ``d*`` of four series and a copy ``c*``
    cleaned that way by hand: every d-pair must equal its c-pair. n is
    pairwise-complete: only pairs with key 3 lose the NULL's timestamp."""
    import math

    rows = {
        (i, t): math.sin((i + 1) * 0.7 * t) + 0.1 * i for i in range(4) for t in range(10)
    }
    dirty = [(f"d{i}", t, None if (i, t) == (3, 8) else v) for (i, t), v in rows.items()]
    dirty.append(("d1", 3, 5.0))
    clean = [
        (f"c{i}", t, (v + 5.0) / 2 if (i, t) == (1, 3) else v)
        for (i, t), v in rows.items()
        if (i, t) != (3, 8)
    ]
    df = spark.createDataFrame(dirty + clean, "key string, t int, value double")
    got = _corr_pairs(df)
    assert len(got) == 8 * 7 // 2
    for i in range(4):
        for j in range(i + 1, 4):
            c_d, n_d = got[(f"d{i}", f"d{j}")]
            c_c, n_c = got[(f"c{i}", f"c{j}")]
            assert n_d == n_c == (9 if j == 3 else 10), (i, j)
            assert abs(c_d - c_c) < 1e-12, (i, j)


def _ragged_rows(seed: int, hours: int) -> list:
    """250 keys, each present at about 10 % of ``hours``: five factors
    plus noise around levels 10..16, so most pairs overlap at one to a
    few hours whose values lie far from the key's mean."""
    rng = np.random.default_rng(seed)
    factors = rng.normal(0, 1, (5, hours))
    rows = []
    for i in range(250):
        series = 10 + i % 7 + factors[i % 5] + rng.normal(0, 1, hours)
        rows += [
            (f"k{i:03d}", int(t), float(series[t]))
            for t in np.flatnonzero(rng.random(hours) < 0.1)
        ]
    return rows


def test_correlation_matrix_ragged_panel(spark):
    """A ragged panel — 250 keys, each present at about 10 % of 720
    hours, like the 300-user hourly panel of ev_user_communities — must
    match pandas ``.corr()`` pairwise: r to 1e-6 and n exactly. A
    listwise route finds no complete hour here and returns no pairs."""
    rows = _ragged_rows(42, 720)
    df = spark.createDataFrame(rows, "key string, t int, value double")
    ref = _pandas_pairs(rows)
    assert len(ref) > 0.9 * 250 * 249 // 2
    _assert_matches_pandas(_corr_pairs(df), ref, 1e-6)


def test_correlation_matrix_near_constant_overlaps(spark):
    """Seed 1 of the ragged panel over 300 hours holds short overlaps whose
    values nearly coincide: uncentred moment sums put r 1.0e-5 off pandas
    there. The exactly recomputed partials stay within 1e-9."""
    rows = _ragged_rows(1, 300)
    df = spark.createDataFrame(rows, "key string, t int, value double")
    _assert_matches_pandas(_corr_pairs(df), _pandas_pairs(rows), 1e-9)


def test_correlation_matrix_reads_windowed_input_once(spark):
    """Materializing the result evaluates the input once: an accumulator
    counts the rows fed to the input's window exchange, and they pass it
    exactly once (a key pre-scan before the main pass would run it twice)."""
    from pyspark.sql.window import Window

    fed = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            fed.add(len(pdf))
            yield pdf

    prices = spark.createDataFrame(
        [(f"k{i}", t, float(10 + i + np.sin(t * (i + 1)))) for i in range(5) for t in range(40)],
        "key string, t int, price double",
    ).mapInPandas(counted, "key string, t int, price double")
    prev = F.lag("price").over(Window.partitionBy("key").orderBy("t"))
    returns = prices.select("key", "t", (F.col("price") / prev).alias("r"))
    assert correlation_matrix(returns, "key", "t", "r").count() == 5 * 4 // 2
    assert fed.value == 5 * 40


def test_correlation_matrix_constant_series_null(spark):
    """A series constant overall, or constant over one pair's overlap,
    has zero variance there: that pair's corr is NULL (pandas NaN), every
    other pair keeps its r."""
    rows = [("a", t, 0.1) for t in range(10)]
    rows += [("b", t, float(t * t % 7)) for t in range(10)]
    rows += [("c", t, 0.3 if t < 5 else 0.1 * t) for t in range(10)]
    rows += [("d", t, float(t)) for t in range(5)]
    df = spark.createDataFrame(rows, "key string, t int, value double")
    got = _corr_pairs(df)
    ref = _pandas_pairs(rows)
    assert {p for p, (c, _n) in ref.items() if c is None} == {
        ("a", "b"), ("a", "c"), ("a", "d"), ("c", "d")
    }
    _assert_matches_pandas(got, ref, 1e-12)


def test_dbscan_auto_eps_layout_invariant(spark, blobs_df):
    """auto-eps must not depend on physical layout: the 1-NN sample is a
    hash filter on the id (pure function of the data), not limit() or a
    per-partition draw (VERDICT r2 wrong #2 / ADVICE r2)."""
    from financial_big_data_spark.ml.clustering import dbscan

    eps_seen = set()
    for layout in (blobs_df.repartition(1), blobs_df.repartition(13, "x1")):
        _out, params = dbscan(layout, "id", FEATS, min_pts=4, driver_max_nodes=40)
        eps_seen.add(params["eps"])
    assert len(eps_seen) == 1


def test_correlation_matrix_distributed_parity(spark):
    """300 keys on a complete panel: the one route, whose result is a
    distributed frame with no k²-sized state on the driver, matches
    pandas ``.corr()`` pair for pair."""
    import math

    rows = [
        (f"k{i:03d}", t, math.sin((i % 13 + 1) * 0.29 * t) + 0.002 * i * t)
        for i in range(300)
        for t in range(15)
    ]
    df = spark.createDataFrame(rows, "key string, t int, value double")
    ref = _pandas_pairs(rows)
    assert len(ref) == 300 * 299 // 2
    _assert_matches_pandas(_corr_pairs(df), ref, 1e-9)


# ---------------------------------------------------------------------------
# Relational Lloyd k-means (the oracle-checkable twin of MLlib kmeans)
# ---------------------------------------------------------------------------


def _numpy_lloyd(ids, vecs, k, n_iter):
    """Reference Lloyd with the operator's exact conventions: hash-seeded
    init (k smallest md5(id)), argmin euclidean with ties to the smaller
    centroid id, per-dim mean update, empty clusters drop."""
    import hashlib

    import numpy as np

    order = sorted(range(len(ids)), key=lambda i: hashlib.md5(str(ids[i]).encode()).hexdigest())
    cents = sorted((ids[i], np.asarray(vecs[i], dtype=float)) for i in order[:k])
    X = {ids[i]: np.asarray(vecs[i], dtype=float) for i in range(len(ids))}

    def assign(cents):
        out = {}
        for vid, x in X.items():
            best = None
            for cid, cv in cents:
                d = float(np.sqrt(((x - cv) ** 2).sum()))
                if best is None or d < best[0] or (d == best[0] and cid < best[1]):
                    best = (d, cid)
            out[vid] = best
        return out

    for _ in range(n_iter - 1):
        a = assign(cents)
        groups = {}
        for vid, (_, cid) in a.items():
            groups.setdefault(cid, []).append(X[vid])
        cents = sorted((cid, np.mean(np.stack(g), axis=0)) for cid, g in groups.items())
    return assign(cents)


def test_lloyd_kmeans_matches_numpy_reference(spark):
    import numpy as np

    from financial_big_data_spark.ml.clustering import lloyd_kmeans

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 10, (4, 6))
    ids, vecs = [], []
    for i in range(120):
        ids.append(i)
        vecs.append([float(x) for x in centers[i % 4] + rng.normal(0, 0.5, 6)])
    df = spark.createDataFrame(
        list(zip(ids, vecs)), "vec_id long, embedding array<float>"
    )
    got = {
        r.vec_id: (r.cluster, r.dist)
        for r in lloyd_kmeans(df, k=4, n_iter=3).collect()
    }
    # reference must see the same float32→double values the engine sees
    cast_vecs = [[float(np.float32(x)) for x in v] for v in vecs]
    want = _numpy_lloyd(ids, cast_vecs, k=4, n_iter=3)
    assert set(got) == set(want)
    for vid, (d, cid) in want.items():
        assert got[vid][0] == cid, vid
        assert abs(got[vid][1] - d) < 1e-9, vid
    # well-separated fixture: 3 rounds converge to the true 4-way partition
    by_cluster = {}
    for vid, (cid, _) in got.items():
        by_cluster.setdefault(cid, set()).add(vid % 4)
    assert all(len(s) == 1 for s in by_cluster.values())


def test_lloyd_kmeans_deterministic_and_drops_empty(spark):
    from financial_big_data_spark.ml.clustering import lloyd_kmeans

    # 3 identical points far from 1 outlier, k=3: hash seeding may put two
    # seeds on coincident points → one cluster starves and must DROP (the
    # documented Lloyd-with-drop contract), never error
    rows = [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 0.0]), (4, [100.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted((r.vec_id, r.cluster) for r in lloyd_kmeans(df, k=3, n_iter=2).collect())
    b = sorted((r.vec_id, r.cluster) for r in lloyd_kmeans(df, k=3, n_iter=2).collect())
    assert a == b  # bit-stable across runs
    assert len(a) == 4  # every point still assigned after any drop


def test_power_iteration_pca_matches_numpy_top_component(spark):
    """On a planted-dominant-direction corpus, the 8-round power iteration
    projection matches numpy's exact top eigenvector projection (up to the
    component-0-nonnegative sign convention) to 1e-6."""
    import numpy as np

    from financial_big_data_spark.ml.clustering import power_iteration_pca

    rng = np.random.default_rng(3)
    X = rng.normal(0, 1, (150, 12))
    direction = rng.normal(0, 1, 12)
    direction /= np.linalg.norm(direction)
    X[:40] += 8.0 * direction * rng.normal(1, 0.1, (40, 1))
    rows = [(i, [float(x) for x in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.pc1 for r in power_iteration_pca(df, n_iter=8).collect()}

    Xc = X - X.mean(0)
    evals, evecs = np.linalg.eigh(Xc.T @ Xc)
    top = evecs[:, -1]
    if top[0] < 0:
        top = -top
    want = Xc @ top
    assert len(got) == len(X)
    for i in range(len(X)):
        assert abs(got[i] - want[i]) < 1e-6, i


def test_lloyd_kmeans_rejects_non_finite_vectors(spark):
    """ADVICE r6: a NaN embedding component propagates into a centroid and
    would render 'CAST(nan AS DOUBLE)' inside the assignment literal —
    the engine must raise a clear ValueError, not an opaque parse error."""
    import pytest

    from financial_big_data_spark.ml.clustering import lloyd_kmeans
    from financial_big_data_spark.operators.similarity import semdedup

    rows = [(1, [0.0, 1.0]), (2, [float("nan"), 2.0]), (3, [4.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-finite"):
        lloyd_kmeans(df, k=2, n_iter=2).collect()
    with pytest.raises(ValueError, match="non-finite"):
        semdedup(df, n_clusters=2, id_col="vec_id", vec_col="embedding").collect()
