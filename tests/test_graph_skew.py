"""Distributed Louvain / connected components / modularity, the loop job
budgets, and the skew-mitigation operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.ml.graph import connected_components
from financial_big_data_spark.operators.skew import salted_agg, salted_count, salted_join


def _two_cliques(spark):
    # two 4-cliques bridged by nothing
    edges = []
    for base in (0, 10):
        nodes = [base + i for i in range(4)]
        edges += [(a, b) for a in nodes for b in nodes if a < b]
    return spark.createDataFrame(edges, "src long, dst long")


def test_connected_components_two_cliques(spark):
    comp = {r.node: r.component for r in connected_components(_two_cliques(spark)).collect()}
    assert {comp[i] for i in range(4)} == {0}
    assert {comp[10 + i] for i in range(4)} == {10}


def test_connected_components_chain(spark):
    # a path graph: one component, diameter > 1 iteration
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1


def test_connected_components_round_job_budget(spark, ckpt_jobs):
    """Each flooding round is one checkpoint job graph and nothing else:
    the convergence count is observed on the checkpoint job, so no job
    runs between two checkpoints. The 13-node chain needs 12 moving
    rounds plus the round that observes no change."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], "src long, dst long")
    marks = ckpt_jobs(
        lambda: connected_components(edges).collect(), "cc_round_budget"
    )
    assert len(marks) == 13, marks
    between = [b0 - a1 for (_, a1), (b0, _) in zip(marks, marks[1:])]
    assert between == [0] * 12, marks
    per_round = [b - a for (_, a), (_, b) in zip(marks, marks[1:])]
    assert max(per_round) <= 7, per_round


@pytest.fixture(scope="module")
def skewed_df(spark):
    # key "hot" holds 90% of rows
    hot = spark.range(9000).select(
        F.lit("hot").alias("key"), F.col("id").alias("rid"), (F.col("id") % 97).cast("double").alias("v")
    )
    cold = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 20).cast("string")).alias("key"),
        (F.col("id") + 100000).alias("rid"),
        (F.col("id") % 31).cast("double").alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_count_matches_plain(spark, skewed_df):
    plain = {r.key: r["count"] for r in skewed_df.groupBy("key").count().collect()}
    salted = {r.key: r.n for r in salted_count(skewed_df, "key", "rid").collect()}
    assert salted == plain


def test_salted_agg_matches_plain(spark, skewed_df):
    plain = {
        r.key: (r.n, round(r.s, 6), round(r.m, 9), r.mn, r.mx)
        for r in skewed_df.groupBy("key")
        .agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.avg("v").alias("m"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    got = {
        r.key: (r.n, round(r.sum, 6), round(r.mean, 9), r.min, r.max)
        for r in salted_agg(skewed_df, "key", "v", "rid").collect()
    }
    assert got == plain


def test_salted_join_matches_plain(spark, skewed_df):
    dim = spark.createDataFrame(
        [("hot", 1.5)] + [(f"k{i}", float(i)) for i in range(20)], "key string, factor double"
    )
    plain = skewed_df.join(dim, on="key").agg(F.sum(F.col("v") * F.col("factor"))).collect()[0][0]
    salted = (
        salted_join(skewed_df, dim, "key", "rid")
        .agg(F.sum(F.col("v") * F.col("factor")))
        .collect()[0][0]
    )
    assert abs(plain - salted) < 1e-6
    # row counts preserved
    assert salted_join(skewed_df, dim, "key", "rid").count() == skewed_df.join(dim, "key").count()


def test_modularity_matches_networkx(spark):
    """The DataFrame-aggregate modularity must equal networkx's on the same
    graph + partition (weighted and unweighted)."""
    import networkx as nx
    from networkx.algorithms import community as nxc

    from financial_big_data_spark.ml.graph import modularity

    edges = [(0, 1, 2.0), (1, 2, 1.0), (2, 0, 0.5), (3, 4, 1.5), (4, 5, 1.0), (0, 3, 0.2)]
    e_df = spark.createDataFrame(edges, "src long, dst long, weight double")
    part = [{0, 1, 2}, {3, 4, 5}]
    c_df = spark.createDataFrame(
        [(n, i) for i, c in enumerate(part) for n in c], "node long, community int"
    )
    g = nx.Graph()
    for a, b, w in edges:
        g.add_edge(a, b, weight=w)
    expected_w = nxc.modularity(g, part, weight="weight")
    expected_u = nxc.modularity(g, part, weight=None)
    assert abs(modularity(e_df, c_df, weight="weight") - expected_w) < 1e-9
    assert abs(modularity(e_df, c_df) - expected_u) < 1e-9


def test_distributed_modularity_uses_abs_weights(spark):
    """corr_edges keeps |corr| > θ, so strongly NEGATIVE weights are routine
    edges; the distributed path must report Q over |w| exactly like the
    driver path (ADVICE r3 medium: signed weights shrink m — the `if not m`
    guard only catches 0 — and can distort or sign-flip Q)."""
    from financial_big_data_spark.ml.graph import louvain_distributed_df, modularity

    # two disjoint 4-cliques → 2 communities; clique A is mostly
    # anti-correlated (negative weights), clique B positive, so the signed
    # and |w| computations diverge on a nontrivial partition
    neg_w = [-0.9, -0.8, -0.95, 0.5, 0.6, 0.7]
    pairs_a = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs_b = [(10 + a, 10 + b) for a in range(4) for b in range(4) if a < b]
    edges = [(a, b, w) for (a, b), w in zip(pairs_a, neg_w)] + [
        (a, b, 0.9) for a, b in pairs_b
    ]
    e_df = spark.createDataFrame(edges, "src long, dst long, weight double")
    comms, metrics = louvain_distributed_df(e_df, driver_finish_edges=None)
    assert metrics["n_communities"] == 2
    abs_df = e_df.withColumn("weight", F.abs("weight"))
    expected = modularity(abs_df, comms, weight="weight")
    assert abs(metrics["modularity"] - expected) < 1e-9
    # the signed computation differs materially on this fixture, so this
    # test actually bites on a regression to signed weights
    signed = modularity(e_df, comms, weight="weight")
    assert abs(signed - expected) > 0.05


def test_distributed_modularity_planted_two_densities(spark):
    """BASELINE.md quality bar (±0.05): two planted communities at DIFFERENT
    edge densities (0.9 vs 0.5) joined by two bridges — distributed
    Louvain's modularity must land within ±0.05 of the driver path's
    (VERDICT r3 next #6; the first fixture only covered near-clique
    communities from near-perfect correlations)."""
    import numpy as np

    from financial_big_data_spark.ml.clustering import louvain_communities_df
    from financial_big_data_spark.ml.graph import louvain_distributed_df

    rng = np.random.default_rng(13)
    edges = []
    dense = list(range(0, 15))
    sparse = list(range(100, 115))
    for nodes, p in ((dense, 0.9), (sparse, 0.5)):
        for i, a in enumerate(nodes):
            for b in nodes[i + 1:]:
                if rng.random() < p:
                    edges.append((a, b, 1.0))
    edges += [(0, 100, 1.0), (5, 110, 1.0)]  # sparse inter-community bridges
    e_df = spark.createDataFrame(edges, "src long, dst long, weight double")
    _, lv = louvain_communities_df(spark, e_df)
    _, dist = louvain_distributed_df(e_df, driver_finish_edges=None)
    assert lv["n_communities"] == 2
    assert dist["n_communities"] == 2
    assert abs(dist["modularity"] - lv["modularity"]) < 0.05


def _ring_of_cliques():
    """6 cliques of 5 nodes joined in a ring by single-edge bridges."""
    edges = []
    for c in range(6):
        ns = [c * 10 + i for i in range(5)]
        edges += [(a, b, 1.0) for a in ns for b in ns if a < b]
        edges.append((c * 10, ((c + 1) % 6) * 10 + 1, 1.0))
    return edges


def test_distributed_louvain_matches_networkx(spark):
    """The REAL distributed Louvain (modularity-optimizing local moves +
    contraction, pure DataFrame iterations) must match networkx Louvain's
    partition quality on the classic fixtures — Q equal to 1e-6, same
    community count. Fixtures chosen to converge in few sweeps (dense
    random graphs converge too slowly for a unit test; the per-sweep cost
    is scheduling overhead that amortizes at real scale)."""
    import networkx as nx
    from networkx.algorithms import community as nxc

    from financial_big_data_spark.ml.graph import louvain_distributed_df

    def check(edges_py):
        e_df = spark.createDataFrame(edges_py, "src long, dst long, weight double")
        _, met = louvain_distributed_df(e_df, driver_finish_edges=None)
        g = nx.Graph()
        for a, b, w in edges_py:
            g.add_edge(a, b, weight=abs(w))
        nx_comms = nxc.louvain_communities(g, weight="weight", seed=42)
        nx_q = nxc.modularity(g, nx_comms, weight="weight")
        assert met["n_communities"] == len(nx_comms)
        assert abs(met["modularity"] - nx_q) < 1e-6

    # ring of cliques — the classic Louvain benchmark (contraction must
    # NOT merge the ring)
    check(_ring_of_cliques())

    # two disjoint 4-cliques with mixed-sign weights (|w| optimization)
    neg = [
        (0, 1, -0.9), (0, 2, -0.8), (0, 3, -0.95),
        (1, 2, 0.5), (1, 3, 0.6), (2, 3, 0.7),
    ] + [(10 + a, 10 + b, 0.9) for a in range(4) for b in range(4) if a < b]
    check(neg)


def test_louvain_sweep_job_budget(spark, ckpt_jobs):
    """A local-move sweep is one checkpoint job graph of at most 6 Spark
    jobs. Jobs are counted per checkpoint under a job group; the first
    interval also builds the cached link table. The level loop's
    partition of the ring of cliques is pinned."""
    from financial_big_data_spark.ml import graph

    edges = _ring_of_cliques()
    e_df = spark.createDataFrame(edges, "src long, dst long, weight double")
    cur = e_df.select(
        F.col("src").alias("a"), F.col("dst").alias("b"), F.col("weight").alias("w")
    )
    marks = ckpt_jobs(
        lambda: graph._louvain_phase1(cur, float(len(edges)), 10, 1e-12),
        "louvain_sweep_budget",
    )
    seen = [after for _, after in marks]
    per_sweep = [b - a for a, b in zip(seen, seen[1:])]
    assert len(per_sweep) >= 3, seen
    assert per_sweep[0] <= 9 and max(per_sweep[1:]) <= 6, per_sweep

    part = {
        r.node: r.community
        for r in graph.louvain_distributed(e_df, driver_finish_edges=None).collect()
    }
    reps = {0: 4, 10: 14, 20: 23, 30: 33, 40: 43, 50: 53}
    assert part == {base + i: rep for base, rep in reps.items() for i in range(5)}


def test_louvain_driver_finish_ignores_row_order():
    """Seeded networkx Louvain depends on insertion order; the driver
    finish (``_nx_louvain``, which sorts the rows) must give the same
    partition however the collected rows arrived."""
    import random

    from financial_big_data_spark.ml.graph import _nx_louvain

    def partition(rows):
        comms, _ = _nx_louvain(rows)
        return sorted(sorted(c) for c in comms)

    rnd = random.Random(1)
    rows = [
        (a, b, 1.0) for a in range(30) for b in range(a + 1, 30) if rnd.random() < 0.15
    ]
    want = partition(rows)
    for seed in range(3):
        shuffled = rows[:]
        random.Random(seed).shuffle(shuffled)
        assert partition(shuffled) == want


def test_driver_louvain_ignores_row_order(spark):
    """The driver path shares the finish pass's networkx Louvain, so the
    partition must not depend on the order the edge rows reach the driver
    either (``coalesce(1)`` keeps each row order through the collect)."""
    import random

    from financial_big_data_spark.ml.clustering import louvain_communities_df

    rnd = random.Random(1)
    rows = [
        (a, b, 1.0) for a in range(30) for b in range(a + 1, 30) if rnd.random() < 0.15
    ]
    parts = set()
    for seed in range(4):
        shuffled = rows[:]
        random.Random(seed).shuffle(shuffled)
        e_df = spark.createDataFrame(shuffled, "src long, dst long, weight double")
        comms, _ = louvain_communities_df(spark, e_df.coalesce(1))
        by_comm = {}
        for r in comms.collect():
            by_comm.setdefault(r.community, set()).add(r.node)
        parts.add(frozenset(frozenset(c) for c in by_comm.values()))
    assert len(parts) == 1


def test_distributed_modularity_near_driver_louvain(spark):
    """VERDICT r2 next #8: the distributed scale path must report the
    reference's headline metric — its modularity lands within ±0.1 of the
    driver path's networkx Louvain on the corr-graph-shaped fixture."""
    import numpy as np

    from financial_big_data_spark.ml.clustering import (
        corr_edges,
        correlation_matrix,
        louvain_communities_df,
    )
    from financial_big_data_spark.ml.graph import louvain_distributed_df

    rng = np.random.default_rng(7)
    base_a = rng.normal(0, 1, 200).cumsum()
    base_b = rng.normal(0, 1, 200).cumsum()
    rows = []
    for g, base in (("a", base_a), ("b", base_b)):
        for j in range(3):
            series = base + rng.normal(0, 0.05, 200)
            rows += [(f"{g}{j}", t, float(v)) for t, v in enumerate(series)]
    df = spark.createDataFrame(rows, "key string, t int, value double")
    edges = corr_edges(
        correlation_matrix(df, key="key", time="t", value="value"), threshold=0.9
    )
    _, louvain_metrics = louvain_communities_df(spark, edges)
    _, dist_metrics = louvain_distributed_df(edges, driver_finish_edges=None)
    assert dist_metrics["n_communities"] == 2
    assert abs(dist_metrics["modularity"] - louvain_metrics["modularity"]) < 0.1


def test_small_graph_takes_driver_route_at_entry(spark, monkeypatch):
    """A graph under the default driver cap never sweeps: the entry check's
    one bounded collect feeds networkx directly, the whole call stays
    within 3 Spark jobs, and the networkx Q it reports equals the
    DataFrame modularity of the returned partition."""
    from financial_big_data_spark.ml import graph

    def no_sweeps(*args, **kwargs):
        raise AssertionError("a small graph must not reach the sweeps")

    monkeypatch.setattr(graph, "_louvain_phase1", no_sweeps)
    e_df = spark.createDataFrame(_ring_of_cliques(), "src long, dst long, weight double")
    sc = spark.sparkContext
    group = "louvain_entry_route"
    sc.setJobGroup(group, group)
    try:
        comms, met = graph.louvain_distributed_df(e_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert met["n_communities"] == 6
    assert abs(met["modularity"] - graph.modularity(e_df, comms, weight="weight")) < 1e-9
    # each community is labelled by its smallest member id
    part = {r.node: r.community for r in comms.collect()}
    assert part == {c * 10 + i: c * 10 for c in range(6) for i in range(5)}


def test_bounded_collect_one_job(spark):
    """``bounded_collect`` returns a frame's rows when it has at most
    ``cap`` of them and None above, in one Spark job on a checkpointed
    4-partition frame, where a plain limit scans one partition, then the
    rest."""
    from financial_big_data_spark.local import bounded_collect

    df = spark.range(0, 1000, numPartitions=4).localCheckpoint()
    sc = spark.sparkContext
    for cap, want in ((1000, 1000), (999, None)):
        group = f"bounded_collect_{cap}"
        sc.setJobGroup(group, group)
        try:
            rows = bounded_collect(df, cap)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        assert (None if rows is None else len(rows)) == want


def test_louvain_communities_without_weight_column(spark):
    """The driver entry reads (src, dst) edges with no weight column as
    unit weights and returns the two planted cliques; an empty edge list
    gives no communities."""
    from financial_big_data_spark.ml.clustering import louvain_communities_df

    e_df = _two_cliques(spark)
    empty, none = louvain_communities_df(spark, e_df.limit(0))
    assert empty.count() == 0 and none == {"modularity": 0.0, "n_communities": 0}
    comms, met = louvain_communities_df(spark, e_df)
    by_comm = {}
    for r in comms.collect():
        by_comm.setdefault(r.community, set()).add(r.node)
    assert sorted(map(sorted, by_comm.values())) == [
        [0, 1, 2, 3], [10, 11, 12, 13]
    ]
    assert met["n_communities"] == 2


def test_triangle_count_matches_brute_force(spark):
    """Degree-ordered orientation vs an itertools brute force on a random
    graph — mixed edge directions, duplicates and a self-loop in the
    input exercise canonicalization."""
    import itertools
    import random

    from financial_big_data_spark.ml.graph import triangle_count

    random.seed(3)
    n, p = 40, 0.18
    und = {(a, b) for a in range(n) for b in range(a + 1, n) if random.random() < p}
    want = sum(
        1 for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    rows = [(a, b) for a, b in und] + [(b, a) for a, b in list(und)[:50]] + [(5, 5)]
    df = spark.createDataFrame(rows, "src long, dst long")
    assert triangle_count(df).collect()[0].n_triangles == want
    per = triangle_count(df, per_node=True)
    assert sum(r.n_triangles for r in per.collect()) == 3 * want


def test_triangle_count_hub_graph(spark):
    """A hub star plus one rim edge: exactly the triangles through the
    rim edge — the skew shape the orientation bounds (the hub gets LOW
    out-degree because every neighbor has smaller degree)."""
    from financial_big_data_spark.ml.graph import triangle_count

    star = [(0, i) for i in range(1, 101)]      # hub 0
    rim = [(1, 2), (3, 4), (5, 6)]              # 3 triangles via the hub
    df = spark.createDataFrame(star + rim, "src long, dst long")
    assert triangle_count(df).collect()[0].n_triangles == 3
    per = {r.node: r.n_triangles for r in triangle_count(df, per_node=True).collect()}
    assert per[0] == 3      # the hub is in all three
    assert per[1] == per[2] == 1


def _slot_rows(spark):
    # 3 slots; users co-occur when they share a slot. Users 1,2 share
    # slots s1+s2+s3 (>=3), users 1,3 share only s1 (<3).
    rows = []
    for slot in ("s1", "s2", "s3"):
        rows += [(1, "click", slot), (2, "click", slot)]
    rows += [(3, "click", "s1")]
    return spark.createDataFrame(rows, "user_id long, event_type string, hr string")


def test_cooccurrence_pairs_min_shared(spark):
    from financial_big_data_spark.ml.graph import cooccurrence_pairs

    out = cooccurrence_pairs(
        _slot_rows(spark), node="user_id", keys=["event_type", "hr"], min_shared=3
    ).collect()
    assert [(r.src, r.dst) for r in out] == [(1, 2)]


def test_cooccurrence_pairs_cap_is_lossless_below_max_slot(spark):
    """cap >= max slot size -> exact: capped output equals uncapped on a
    multi-slot fixture (the regime the registered queries run in)."""
    from financial_big_data_spark.ml.graph import cooccurrence_pairs

    import random

    rng = random.Random(3)
    rows = [
        (rng.randrange(40), "t%d" % rng.randrange(4), "h%d" % rng.randrange(6))
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, hr string")
    kw = dict(node="user_id", keys=["event_type", "hr"], min_shared=2)
    capped = {(r.src, r.dst) for r in cooccurrence_pairs(df, slot_cap=1024, **kw).collect()}
    exact = {(r.src, r.dst) for r in cooccurrence_pairs(df, slot_cap=None, **kw).collect()}
    assert capped == exact and len(exact) > 0


def test_cooccurrence_pairs_hot_slot_bounded(spark):
    """One hot slot with 500 members: uncapped emits 500*499/2 pairs from
    it; cap=20 bounds the expansion to <= 20*19/2 — the skew-blowup
    guard (r5 verdict's named scale-killer). The sample is deterministic
    (min-xxhash members), so two runs agree."""
    from financial_big_data_spark.ml.graph import cooccurrence_pairs

    hot = [(u, "click", "hot") for u in range(500)]
    df = spark.createDataFrame(hot, "user_id long, event_type string, hr string")
    kw = dict(node="user_id", keys=["event_type", "hr"], min_shared=1)
    capped = cooccurrence_pairs(df, slot_cap=20, **kw)
    got = {(r.src, r.dst) for r in capped.collect()}
    assert len(got) == 20 * 19 // 2  # bounded, not 124750
    again = {(r.src, r.dst) for r in cooccurrence_pairs(df, slot_cap=20, **kw).collect()}
    assert got == again  # deterministic membership sample
    # under-count bias only: capped pairs are a subset of exact pairs
    exact = {(r.src, r.dst) for r in cooccurrence_pairs(df, slot_cap=None, **kw).collect()}
    assert got <= exact


def test_ckpt_resets_plan_statistics(spark):
    """VERDICT r7 #6: `_ckpt` must RESET plan statistics, not just cut
    lineage. `Dataset.localCheckpoint` carries the origin plan's
    sizeInBytes into the LogicalRDD; in an iterated join loop the next
    round's estimate MULTIPLIES the carried stats and is checkpointed
    again, so the statistic's bit length doubles every round — after a
    few dozen rounds the driver spends seconds per job in million-bit
    BigInteger multiplication inside stats estimation. This test fails
    (bound trips) if `_ckpt` ever silently degrades to the bare
    checkpoint fallback."""
    from pyspark.sql import functions as F

    from financial_big_data_spark.ml.graph import _ckpt

    def size_bits(df):
        # py4j renders the BigInteger as a Python int
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()

    cur = _ckpt(
        spark.range(500).select(F.col("id").alias("node"), F.lit(1.0).alias("x"))
    )
    # the geometric shape: join the state with a frame DERIVED from the
    # same state (every iterative operator here does — labels ⋈ moves,
    # comp ⋈ neigh_min), so both join sides carry the compounded stat and
    # its bit length doubles per round (measured bare: 25 → 12099 bits by
    # round 9; a fixed-side join only grows linearly and hides the bug)
    for _ in range(10):
        derived = cur.select("node", (F.col("x") * 2).alias("y"))
        cur = _ckpt(
            cur.join(derived, "node").select(
                "node", (F.col("x") + F.col("y")).alias("x")
            )
        )
    # fresh-LogicalRDD default stats stay word-sized; bare localCheckpoint
    # trips this bound by round 4
    assert size_bits(cur) <= 256, (
        f"iterated checkpoint stats grew to {size_bits(cur)} bits — "
        "_ckpt's statistics reset has regressed to plain localCheckpoint"
    )


def test_ckpt_warns_on_private_api_drift(spark, monkeypatch):
    """The plain-checkpoint fallback brings the stats growth back, so it
    must not be silent."""
    from financial_big_data_spark.ml.graph import _ckpt

    df = spark.range(3)
    plain = object()  # has no _jdf: the statistics reset cannot run
    monkeypatch.setattr(type(df), "localCheckpoint", lambda self, eager=True: plain)
    with pytest.warns(RuntimeWarning, match="statistics reset unavailable"):
        assert _ckpt(df) is plain
