"""PageRank: dense-matrix reference parity (directed + dangling +
weighted), mass conservation, and validation.

The reference is an independent formulation — the full Google matrix
G = d*(P + dangling-row correction) + (1-d)/N applied as a dense numpy
matmul to convergence (networkx's pagerank needs scipy, absent here) —
so parity checks the algorithm, not a mirror of the DataFrame code.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.ml.graph import pagerank


def _edges_df(spark, edges, weighted=False):
    if weighted:
        return spark.createDataFrame(edges, "src long, dst long, w double")
    return spark.createDataFrame(edges, "src long, dst long")


def _dense_pr(edges, weighted=False, d=0.85, iters=1000):
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    P = np.zeros((n, n))
    for e in edges:
        P[idx[e[0]], idx[e[1]]] += e[2] if weighted else 1.0
    out = P.sum(axis=1)
    dangling = out == 0
    P[~dangling] /= out[~dangling, None]
    P[dangling] = 1.0 / n  # dangling mass spreads uniformly
    G = d * P + (1 - d) / n
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = r @ G
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_dense_reference_with_dangling(spark):
    # 4 is a dangling sink; 0-3 form a cycle with a chord
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 4)]
    got = {
        r.node: r.rank
        for r in pagerank(_edges_df(spark, edges), n_iter=100).collect()
    }
    want = _dense_pr(edges)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-9)


def test_pagerank_weighted_matches_dense_reference(spark):
    edges = [
        (0, 1, 3.0),
        (0, 2, 1.0),
        (1, 2, 2.0),
        (2, 0, 1.0),
        (2, 3, 5.0),
        (3, 0, 1.0),
    ]
    got = {
        r.node: r.rank
        for r in pagerank(
            _edges_df(spark, edges, weighted=True), n_iter=100, weight="w"
        ).collect()
    }
    want = _dense_pr(edges, weighted=True)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-9)


def test_pagerank_mass_conserved(spark):
    edges = [(0, 1), (1, 2), (2, 3), (1, 0)]  # 3 dangles
    total = (
        pagerank(_edges_df(spark, edges), n_iter=30)
        .agg(F.sum("rank"))
        .collect()[0][0]
    )
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_uniform_on_symmetric_ring(spark):
    ring = [(i, (i + 1) % 6) for i in range(6)] + [((i + 1) % 6, i) for i in range(6)]
    ranks = [r.rank for r in pagerank(_edges_df(spark, ring), n_iter=20).collect()]
    for r in ranks:
        assert r == pytest.approx(1.0 / 6, abs=1e-12)


def test_pagerank_validation(spark):
    df = _edges_df(spark, [(0, 1)])
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)
    with pytest.raises(ValueError):
        pagerank(df, n_iter=0)


def _dense_ppr(edges, reset_nodes, d=0.85, iters=1000, weighted=False):
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    p = np.zeros(n)
    for r in reset_nodes:
        p[idx[r]] = 1.0 / len(reset_nodes)
    P = np.zeros((n, n))
    for e in edges:
        P[idx[e[0]], idx[e[1]]] += e[2] if weighted else 1.0
    out = P.sum(axis=1)
    dangling = out == 0
    P[~dangling] /= out[~dangling, None]
    P[dangling] = p  # dangling mass returns to the reset distribution
    r = p.copy()
    for _ in range(iters):
        r = d * (r @ P) + (1 - d) * p
    return {nodes[i]: r[i] for i in range(n)}


def test_personalized_pagerank_matches_dense_reference(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 4)]
    reset = spark.createDataFrame([(0,), (1,)], "node long")
    got = {
        r.node: r.rank
        for r in pagerank(
            _edges_df(spark, edges), n_iter=120, reset=reset
        ).collect()
    }
    want = _dense_ppr(edges, [0, 1])
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-9)


def test_personalized_pagerank_fused_matches_dense_few_iters(spark):
    # every node has an in-edge, so pagerank takes the fused-aggregate
    # path; a few iterations keep this in the default tier
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 4)]
    reset = spark.createDataFrame([(0,), (3,)], "node long")
    got = {
        r.node: r.rank
        for r in pagerank(_edges_df(spark, edges), n_iter=4, reset=reset).collect()
    }
    want = _dense_ppr(edges, [0, 3], iters=4)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_personalized_pagerank_dangling_matches_dense_few_iters(spark):
    # node 5 has no in-edge (the unfused path) and node 4 no out-edge, so
    # its mass returns through the reset distribution; a few iterations
    # keep this in the default tier
    edges = [(5, 0), (0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    reset = spark.createDataFrame([(1,), (5,)], "node long")
    got = {
        r.node: r.rank
        for r in pagerank(_edges_df(spark, edges), n_iter=4, reset=reset).collect()
    }
    want = _dense_ppr(edges, [1, 5], iters=4)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-12)


def test_personalized_pagerank_concentrates_near_seeds(spark):
    # symmetric ring: uniform PR gives every node 1/6; personalization
    # must pull mass toward the seed
    ring = [(i, (i + 1) % 6) for i in range(6)] + [((i + 1) % 6, i) for i in range(6)]
    reset = spark.createDataFrame([(0,)], "node long")
    got = {
        r.node: r.rank
        for r in pagerank(_edges_df(spark, ring), n_iter=40, reset=reset).collect()
    }
    assert got[0] > got[1] > got[3]  # monotone with ring distance
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_pagerank_rejects_disjoint_reset(spark):
    df = _edges_df(spark, [(0, 1), (1, 0)])
    reset = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError):
        pagerank(df, reset=reset)


def test_pagerank_tol_early_exit_matches_converged_fixed(spark):
    """tol= early exit returns the SAME ranks as running fixed
    iterations to convergence — the extra rounds after the L1 delta
    drops below tol are dead work, not different answers."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 4)]
    df = _edges_df(spark, edges)
    fixed = {r.node: r.rank for r in pagerank(df, n_iter=200).collect()}
    early = {
        r.node: r.rank
        for r in pagerank(df, n_iter=200, tol=1e-12).collect()
    }
    assert set(early) == set(fixed)
    for n in fixed:
        assert early[n] == pytest.approx(fixed[n], abs=1e-9)


def test_personalized_pagerank_tol_early_exit(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2)]
    df = _edges_df(spark, edges)
    reset = spark.createDataFrame([(0,)], "node long")
    fixed = {
        r.node: r.rank
        for r in pagerank(df, n_iter=200, reset=reset).collect()
    }
    early = {
        r.node: r.rank
        for r in pagerank(df, n_iter=200, reset=reset, tol=1e-12).collect()
    }
    for n in fixed:
        assert early[n] == pytest.approx(fixed[n], abs=1e-9)


def test_pagerank_tol_with_interval_matches_converged_fixed(spark):
    """tol + checkpoint_interval>1 (optimization r12: the convergence
    test fused to the checkpoint stride) still converges to the same
    ranks as fixed iteration — the stride can only overshoot by up to
    k-1 CONVERGED rounds, never exit early on a stale delta."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 4)]
    df = _edges_df(spark, edges)
    fixed = {r.node: r.rank for r in pagerank(df, n_iter=200).collect()}
    strided = {
        r.node: r.rank
        for r in pagerank(
            df, n_iter=200, tol=1e-12, checkpoint_interval=2
        ).collect()
    }
    assert set(strided) == set(fixed)
    for n in fixed:
        assert strided[n] == pytest.approx(fixed[n], abs=1e-9)


def test_pagerank_tol_checkpoint_job_budget(spark, ckpt_jobs):
    """With ``tol`` set, each checkpoint is one job graph and nothing
    else: the L1 delta is observed on the checkpoint job, so no job runs
    between two checkpoints, and the loop still exits early."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 4)]
    df = _edges_df(spark, edges)
    marks = ckpt_jobs(
        lambda: pagerank(df, n_iter=50, tol=1e-3).collect(), "pagerank_tol_budget"
    )
    assert 2 <= len(marks) < 50, marks
    between = [b0 - a1 for (_, a1), (b0, _) in zip(marks, marks[1:])]
    assert between == [0] * (len(marks) - 1), marks
    per_ckpt = [b - a for (_, a), (_, b) in zip(marks, marks[1:])]
    assert max(per_ckpt) <= 9, per_ckpt


def test_pagerank_checkpoint_interval_is_bit_identical(spark):
    # Checkpointing cuts lineage; it must never change the arithmetic.
    # interval=3 with n_iter=7 exercises both a mid-stride checkpoint and
    # the forced final-iteration materialization.
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (1, 4), (4, 1)]
    df = _edges_df(spark, edges)
    base = {r.node: r.rank for r in pagerank(df, n_iter=7).collect()}
    strided = {
        r.node: r.rank
        for r in pagerank(df, n_iter=7, checkpoint_interval=3).collect()
    }
    assert base == strided  # exact float equality, not approx
    with pytest.raises(ValueError):
        pagerank(df, checkpoint_interval=0)


def test_type_modularity_query_sums_to_modularity_helper(spark, tmp_path):
    """The per-community q_contrib rows of ev_type_modularity must sum to
    exactly what ml.graph.modularity computes for the same partition —
    tying the oracle-backed relational form to the operator the driver
    and distributed Louvain paths report."""
    import pyspark.sql.functions as F

    from financial_big_data_spark.ml.graph import cooccurrence_pairs, modularity
    from financial_big_data_spark.queries import _events, q_ev_type_modularity

    sf_dir = "/root/testdata/sf0.001"
    out = q_ev_type_modularity(spark, sf_dir)
    q_total = sum(r.q_contrib for r in out.collect())

    ev = _events(spark, sf_dir)
    pairs = cooccurrence_pairs(
        ev.select(
            "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        ),
        node="user_id",
        keys=["event_type", "hr"],
        min_shared=3,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.col("event_type"))
    fav = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("user_id").alias("node"), F.col("event_type").alias("community"))
    )
    q_helper = modularity(pairs, fav)
    # q_contrib is rounded to 6dp per community; ≤ #communities half-ulps apart
    assert abs(q_total - q_helper) < 5e-6, (q_total, q_helper)
