"""Graph operators: Louvain, connected components & PageRank.

Pure DataFrame iterations — no GraphFrames dependency:

- **Louvain** (``louvain_distributed_df``, the one entry point; the
  clustering module's ``louvain_communities_df`` delegates to it): one
  level loop that routes by graph size before every level. One bounded
  collect of the current graph decides: at most ``driver_finish_edges``
  edges and the rest runs as one seeded networkx Louvain on the driver
  (``_nx_louvain``, the only driver Louvain) — at level 0 that is the
  route every one-node-per-series correlation graph takes; above the cap
  the level runs the REAL distributed algorithm, modularity-optimizing
  local moves (hash-gated synchronous sweeps) then graph contraction, as
  DataFrame joins/aggregates. A sweep is one checkpoint: the state row
  per node carries its community and that community's degree total, the
  candidate scores, stay score and argmax come from one join-aggregate
  and one window sort, and the convergence count is observed on the
  checkpoint job itself (``_louvain_phase1``).
- **connected_components**: iterative min-label flooding (each node takes
  the min component id in its neighborhood) — the DBSCAN ε-graph labeller
  at scale. Converges in O(graph diameter) rounds.
- **pagerank**: power iteration, optionally personalized, with an
  optional L1 convergence test.

Every loop has one shape: a round ends with ONE ``_ckpt`` of the next
state, and a loop that tests convergence reads its metric through an
``Observation`` placed after the round's last exchange, so the metric
arrives with the checkpoint job itself — no separate count job.
``_ckpt`` is localCheckpoint to cut the growing lineage PLUS a statistics
reset (without it, iterated checkpoints compound plan statistics
geometrically and the driver ends up multiplying million-bit BigInts per
job).
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..local import bounded_collect, local_frame


def _ckpt(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager)`` + STATISTICS RESET for iterative state.

    ``Dataset.localCheckpoint`` deliberately carries the origin plan's
    statistics into the resulting LogicalRDD. In an iterative loop the
    next round's join estimates MULTIPLY those carried sizeInBytes, and
    the product is checkpointed again — so the statistic's bit LENGTH
    doubles every round. After a few dozen checkpointed rounds (e.g.
    Louvain level 2+ on a 1M-edge graph) the driver spends tens of
    seconds per job inside BigInteger Toom-Cook multiplication in stats
    estimation — measured as sweeps degrading 2s → 23s → minutes while
    the actual data SHRANK. Rebinding the already-materialized RDD
    through ``internalCreateDataFrame`` drops the origin stats (fresh
    LogicalRDD, default sizeInBytes): values, schema and partitioning
    are untouched, lineage stays cut, and join strategies at runtime
    are AQE's call from real shuffle sizes anyway. Falls back to the
    plain checkpoint, with a warning, if the internal constructor ever
    moves — the fallback brings the geometric stats growth back."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck._jdf
        sess = jdf.sparkSession()
        new_jdf = sess.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
    except (AttributeError, Py4JError) as exc:  # private API drift
        warnings.warn(
            f"_ckpt: statistics reset unavailable ({exc!r}); iterative plan "
            "statistics will compound across checkpoints",
            RuntimeWarning,
            stacklevel=2,
        )
        return ck
    return DataFrame(new_jdf, df.sparkSession)


def _undirected(edges: DataFrame) -> DataFrame:
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    rev = edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    return fwd.unionByName(rev).distinct()


def modularity(
    edges: DataFrame, communities: DataFrame, weight: str | None = None
) -> float:
    """Newman modularity of a partition, computed as DataFrame aggregates —
    the reference's headline community metric (market_analysis.py:321,
    ``nx.algorithms.community.modularity``) for partitions too large to
    collect.

    Q = Σ_c [ W_in(c)/m − (S(c)/2m)² ] over an undirected weighted graph:
    m = total edge weight, W_in(c) = intra-community edge weight, S(c) =
    summed weighted degree of c's nodes. ONE pass: every labeled edge
    contributes its weight to both endpoints' communities, a grouped
    aggregate per community gives (S(c), W_in(c)), and a global aggregate
    over it gives ΣS = 2m, ΣW_in and ΣS² — only those three scalars reach
    the driver, nothing node- or edge-sized.

    ``edges``: (src, dst[, weight]) with each undirected edge listed once
    and no self-loops; ``communities``: (node, community), e.g. Louvain output.
    Edges with an endpoint missing from ``communities`` are excluded
    consistently from both m and the degree sums.
    """
    w = (F.col(weight).cast("double") if weight else F.lit(1.0)).alias("_w")
    e = edges.select(F.col("src"), F.col("dst"), w)
    c = communities.select("node", "community")
    lab = e.join(
        c.select(F.col("node").alias("src"), F.col("community").alias("_ca")),
        on="src",
    ).join(
        c.select(F.col("node").alias("dst"), F.col("community").alias("_cb")),
        on="dst",
    )
    # each edge lands once on each endpoint's community: S(c) sums both,
    # W_in(c) counts an intra edge once (on the src side)
    intra = F.when(F.col("_ca") == F.col("_cb"), F.col("_w")).otherwise(0.0)
    ends = lab.select(
        F.inline(
            F.array(
                F.struct(F.col("_ca").alias("c"), "_w", intra.alias("_in")),
                F.struct(F.col("_cb").alias("c"), "_w", F.lit(0.0).alias("_in")),
            )
        )
    )
    per_c = ends.groupBy("c").agg(F.sum("_w").alias("s"), F.sum("_in").alias("w_in"))
    tot = per_c.agg(
        F.sum("s").alias("s"),
        F.sum("w_in").alias("w_in"),
        F.sum(F.col("s") * F.col("s")).alias("s2"),
    ).first()
    if not tot.s:
        return 0.0
    m = tot.s / 2.0
    return float(tot.w_in / m - tot.s2 / (4.0 * m * m))


def _louvain_phase1(
    edges: DataFrame, m: float, max_sweeps: int, tol: float
) -> DataFrame:
    """One Louvain level: local-move sweeps until no node improves.

    ``edges``: (a, b, w) undirected-once, self-loops allowed (contracted
    levels produce them). Returns (node, comm).

    Each sweep computes, per node i and each candidate community C (its
    neighbors' communities plus its own), the comparable modularity score
        score(C) = k_i,in(C)/m − k_i·Σtot(C∖{i})/(2m²)
    (terms constant across candidates — w_ii/m and k_i²/4m² — cancel and
    are dropped). Synchronous moves can oscillate (two nodes swapping
    communities forever), so moves are HASH-GATED: a move into community
    C is applied only when ``xxhash64(C, sweep) < xxhash64(current,
    sweep)`` — moves flow strictly "downhill" in a per-sweep random total
    order over communities, so an A↔B swap can never apply in one sweep,
    and the order RE-DRAWS each sweep so no desired move is persistently
    unreachable (a fixed smaller/larger-id parity gate biased early
    sweeps toward low-id communities and halved the effective move rate —
    measured as under-convergence on the planted-partition bench: Q 0.57
    vs the driver path's 0.79). Ties between equal-score candidates break
    on a per-(node, candidate) hash, not the smallest community id, so
    the all-singletons first sweep seeds symmetric growth instead of
    low-id chains. Convergence is decided on DESIRED moves (ungated best
    beats stay): a sweep whose desired moves were all gated out simply
    re-draws, and the loop exits only when no node wants to move at all.

    The state is one row per node, (node, comm, k, S): weighted degree k
    and S = Σtot(comm), the summed degree of the node's community. Each
    sweep is ONE eager ``_ckpt`` of the next state and nothing else:

    1. candidates: the cached links (both directions of every edge, plus
       a zero-weight self row per node) joined with the state on the
       neighbor (its community C and S(C)) and on the node (its current
       community and k), then summed per (node, C) into k_in(C). The self
       row makes the node's own community a candidate even with no
       same-community neighbor, so the stay score always exists and an
       isolated contracted supernode keeps its row; S(C) rides along from
       the neighbor's row, so no Σtot aggregate is joined back in;
    2. per-node windows, all served by one sort: the best downhill
       candidate ranked by (score desc, hash(node, C), C), the stay score
       (own-community row) and the ungated best, which decides
       convergence;
    3. next labels ``comm = when(move, C).otherwise(current)`` and the
       next S as a window sum of k over ``comm``, checkpointed.

    The sweep's desired-move count is read from that same checkpoint job
    through an ``Observation`` — no extra Spark job.
    """
    pairs = edges.where(F.col("a") != F.col("b")).select("a", "b", "w")
    pairs = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    # weighted degree in ONE union+aggregate (self-loops count twice, per
    # the networkx degree convention): endpoint rows from both directions
    # plus a double-weight row per self-loop. Every node starts alone in
    # its community, so S = k.
    deg = (
        pairs.select("a", "w")
        .unionByName(
            edges.where(F.col("a") == F.col("b")).select(
                "a", (2.0 * F.col("w")).alias("w")
            )
        )
        .groupBy("a")
        .agg(F.sum("w").alias("k"))
    )
    labels = _ckpt(deg.select(
        F.col("a").alias("node"), F.col("a").alias("comm"), "k", F.col("k").alias("S")
    ))
    # a zero-weight self row per node makes its own community a candidate
    # even without a same-community neighbor (and keeps an isolated
    # contracted supernode in the sweep); adding 0.0 to k_in is exact
    links = pairs.unionByName(
        labels.select(F.col("node").alias("a"), F.col("node").alias("b"), F.lit(0.0).alias("w"))
    ).cache()
    # build the cache in one job of its own: left to the first sweep, AQE's
    # concurrent stages race to build it and the job count varies
    links.count()
    two_m2 = F.lit(2.0 * m * m)
    for sweep in range(max_sweeps):
        cand = (
            links.join(labels.select(F.col("node").alias("b"), "comm", "S"), on="b")
            .join(
                labels.select(F.col("node").alias("a"), F.col("comm").alias("_cc"), "k"),
                on="a",
            )
            .groupBy("a", "_cc", "k", "comm")
            .agg(F.sum("w").alias("kin"), F.max("S").alias("S"))
        )
        is_own = F.col("comm") == F.col("_cc")
        score = F.col("kin") / F.lit(m) - F.col("k") * (
            F.col("S") - F.when(is_own, F.col("k")).otherwise(0.0)
        ) / two_m2
        gate = (
            F.xxhash64(F.col("comm"), F.lit(sweep))
            < F.xxhash64(F.col("_cc"), F.lit(sweep))
        )
        # eligible (downhill, non-own) candidates rank first, so rank 1 is
        # the gated argmax, or no move for a node without one. The ranking
        # sort also serves the unordered stay/best windows (same key).
        wbest = Window.partitionBy("a").orderBy(
            F.desc("_elig"), F.desc("_score"), F.xxhash64(F.col("a"), F.col("comm")),
            "comm",
        )
        wall = Window.partitionBy("a")
        per_node = (
            cand.withColumn("_score", score)
            .withColumn("_elig", ~is_own & gate)
            .withColumn("_rk", F.row_number().over(wbest))
            .withColumn("_ss", F.max(F.when(is_own, F.col("_score"))).over(wall))
            .withColumn(
                "_best_any", F.max(F.when(~is_own, F.col("_score"))).over(wall)
            )
            .where(F.col("_rk") == 1)
            .withColumn(
                "_move", F.col("_elig") & (F.col("_score") > F.col("_ss") + F.lit(tol))
            )
        )
        desired = Observation()
        nxt = per_node.observe(
            desired,
            F.sum((F.col("_best_any") > F.col("_ss") + F.lit(tol)).cast("int")).alias("nd"),
        ).select(
            F.col("a").alias("node"),
            F.when(F.col("_move"), F.col("comm")).otherwise(F.col("_cc")).alias("comm"),
            "k",
        )
        labels = _ckpt(  # ONE evaluation of the sweep DAG
            nxt.withColumn("S", F.sum("k").over(Window.partitionBy("comm")))
        )
        if not desired.get["nd"]:
            break  # TRUE convergence: no node's ungated best beats stay
        # desired moves that were all gated out this sweep are retried
        # under the next sweep's re-drawn community order
    links.unpersist()
    return labels.select("node", "comm")


def _nx_louvain(edge_rows: list, seed: int = 42) -> tuple[list, float]:
    """Seeded networkx Louvain over collected (a, b, w) rows — the one
    driver-side Louvain, the finish of the level loop in
    ``_louvain_levels``.

    Seeded networkx Louvain depends on node/edge insertion order, so the
    rows are sorted first: the partition does not depend on the order
    they were collected in. Duplicate (a, b) rows sum their weights, and
    self-loops (contracted intra-community mass) count in networkx's
    modularity exactly as the sweep's degree terms count them. Returns
    (communities as sets of node ids, their modularity over ``w``)."""
    import networkx as nx
    from networkx.algorithms import community as nxc

    g = nx.Graph()
    for a, b, w in sorted(edge_rows):
        if g.has_edge(a, b):
            g[a][b]["weight"] += w
        else:
            g.add_edge(a, b, weight=w)
    comms = nxc.louvain_communities(g, weight="weight", seed=seed)
    return comms, float(nxc.modularity(g, comms, weight="weight"))


def louvain_distributed(
    edges: DataFrame,
    max_levels: int = 3,
    max_sweeps: int = 10,
    tol: float = 1e-12,
    driver_finish_edges: int | None = 200_000,
) -> DataFrame:
    """M2: Louvain — modularity-optimizing local moves + graph contraction,
    routed by graph size (reference runs python-louvain on ≤100
    driver-side nodes, market_analysis.py:321).

    ``edges``: (src, dst[, weight]) with each undirected edge once, no
    self-loops; NEGATIVE weights are taken by magnitude. Returns (node,
    community), both of the edge id type; community is an original node id.

    Every level starts with ONE bounded collect of the current graph. With
    at most ``driver_finish_edges`` edges, the rest runs as one seeded
    sequential Louvain on the driver (``_nx_louvain``) and the loop ends:
    at level 0 this is the entry route (a graph under the cap never
    sweeps, and each community is labelled by its smallest member id), at
    later levels the finish on the contracted graph (labelled by its
    smallest supernode). Otherwise phase-1 local-move sweeps
    (``_louvain_phase1``) converge and communities contract into
    supernodes (intra-weight becomes a self-loop, so Q is kept exactly).
    The loop stops when a level merges nothing or after ``max_levels``
    levels of sweeps; the last contraction still gets its check.
    ``driver_finish_edges=None`` sweeps at every level.

    Why route by size: on a small graph every (super)node carries a large
    share of the degree mass, and synchronous moves scored against FROZEN
    community totals cascade — level-1 sweeps over a 373-supernode
    planted-partition graph merged 373 → 36 communities and dropped Q
    0.744 → 0.391. Sequential moves re-read the totals after every move,
    and at that size they are also the cheaper plan.
    """
    return _louvain_levels(edges, max_levels, max_sweeps, tol, driver_finish_edges)[0]


def _louvain_levels(
    edges: DataFrame,
    max_levels: int,
    max_sweeps: int,
    tol: float,
    driver_finish_edges: int | None,
) -> tuple[DataFrame, int, float | None]:
    """``louvain_distributed`` plus its community count, which the loop
    already knows on the driver, and, when the loop ends in the driver
    finish, networkx's modularity of the partition (``None`` when it ends
    in the sweeps)."""
    w = (
        F.abs(F.col("weight").cast("double"))
        if "weight" in edges.columns
        else F.lit(1.0)
    )
    cur = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), w.alias("w"))
    id_type = edges.schema["src"].dataType
    schema = StructType([StructField("node", id_type), StructField("community", id_type)])
    m = mapping = rows = None
    for level in range(max_levels + 1):
        if driver_finish_edges is not None:
            rows = bounded_collect(cur, driver_finish_edges)
            if rows is not None:
                break
        if level == max_levels:
            break
        if m is None:
            m = cur.agg(F.sum("w")).first()[0]
            if not m:
                return local_frame(edges.sparkSession, [], schema), 0, 0.0
        labels = _louvain_phase1(cur, float(m), max_sweeps, tol)
        n_nodes, n_comms = labels.agg(
            F.count(F.lit(1)), F.countDistinct("comm")
        ).first()
        mapping = (
            labels
            if mapping is None
            else _ckpt(
                mapping.alias("mp")
                .join(labels.alias("lv"), F.col("mp.comm") == F.col("lv.node"))
                .select(
                    F.col("mp.node").alias("node"), F.col("lv.comm").alias("comm")
                )
            )
        )
        if n_comms == n_nodes:
            break
        la = labels.select(F.col("node").alias("a"), F.col("comm").alias("_ca"))
        lb = labels.select(F.col("node").alias("b"), F.col("comm").alias("_cb"))
        cur = _ckpt(
            cur.join(la, on="a")
            .join(lb, on="b")
            .select(
                F.least("_ca", "_cb").alias("a"),
                F.greatest("_ca", "_cb").alias("b"),
                "w",
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
    if rows is None:
        return mapping.select("node", F.col("comm").alias("community")), n_comms, None
    if not any(r.w for r in rows):
        return local_frame(edges.sparkSession, [], schema), 0, 0.0
    comms, q = _nx_louvain(rows)
    out = local_frame(edges.sparkSession, [(n, min(c)) for c in comms for n in c], schema)
    if mapping is not None:
        out = _ckpt(
            mapping.join(out.withColumnRenamed("node", "comm"), "comm")
            .select("node", "community")
        )
    return out, len(comms), q


def louvain_distributed_df(
    edges: DataFrame, driver_finish_edges: int | None = 200_000
) -> tuple[DataFrame, dict]:
    """The one Louvain entry point: ``louvain_distributed`` (3 levels × 10
    sweeps, routed by ``driver_finish_edges``) returning (communities,
    {modularity, n_communities}) with Q over |weight|. A run that ends in
    the driver finish takes Q from networkx on the collected graph, exact
    since contraction keeps Q; a run that ends in the sweeps takes it from
    the DataFrame aggregate ``modularity``."""
    comms, n, q = _louvain_levels(
        edges, max_levels=3, max_sweeps=10, tol=1e-12,
        driver_finish_edges=driver_finish_edges,
    )
    if q is None:
        weight = "weight" if "weight" in edges.columns else None
        e = edges.withColumn(weight, F.abs(F.col(weight))) if weight else edges
        q = modularity(e, comms, weight=weight)
    return comms, {"modularity": q, "n_communities": n}


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Min-label flooding connected components over (src, dst) edges.

    Returns (node, component) where component is the smallest node id in the
    component — the ε-graph labelling step of distributed DBSCAN.
    """
    adj = _undirected(edges).cache()
    comp = adj.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    for _ in range(max_iter):
        neigh_min = (
            adj.join(comp, adj.b == comp.node)
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("neigh_component"))
        )
        # a node changes exactly when a neighbor's component is smaller;
        # the count is observed on the checkpoint job itself
        changed = Observation()
        comp = _ckpt(
            comp.join(neigh_min, on="node", how="left")
            .observe(
                changed,
                F.sum((F.col("neigh_component") < F.col("component")).cast("int")).alias("n"),
            )
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("neigh_component"), F.col("component"))
                ).alias("component"),
            )
        )
        if not changed.get["n"]:
            break
    adj.unpersist()
    return comp


def cooccurrence_pairs(
    df: DataFrame,
    node: str,
    keys: list[str],
    min_shared: int = 3,
    slot_cap: int | None = 1024,
) -> DataFrame:
    """Undirected co-occurrence pair generation with a BOUNDED per-slot
    expansion: nodes sharing ≥ ``min_shared`` distinct key-tuples
    ("slots") are linked. Returns (src, dst) with src < dst — the graph
    build feeding the PageRank/PPR/triangle/community queries.

    Scale: the slot self-join emits |slot|² pairs per key-tuple before
    the shared-count filter — uniform data hides it, but at 100× one hot
    slot (a popular event type in a peak hour) makes a single task
    quadratic in the hot slot's membership: the classic skew blowup (the
    r5 verdict's one named scale-killer). Salting doesn't help here —
    the PAIR OUTPUT is inherently quadratic, not just its partitioning —
    so the bound has to come from capping the expansion itself:
    ``slot_cap`` keeps each slot's ``slot_cap`` min-``xxhash64`` members
    (a deterministic uniform sample, keyed-window row_number — no global
    shuffle beyond the one the build already pays), so per-slot work is
    ≤ cap² however hot the slot.

    Estimator bias, stated: pairs lose the shared-count contribution of
    slots where either member was sampled out — an UNDER-count (edges
    can be missed, never invented), concentrated exactly on the hot
    slots whose pair semantics are weakest ("co-occurred in a slot with
    100k others" carries ~no signal — downsampling hot slots is what
    word2vec/GloVe-style co-occurrence pipelines do deliberately). With
    ``slot_cap`` ≥ the max slot size the build is EXACT; the registered
    queries run far below the default cap at test SFs (max slot 51 at
    sf0.1 vs cap 1024), so their oracle hashes certify the capped path
    in its exact regime, and tests pin cap-vs-uncapped equality there
    plus the bounded-output property on a deliberately hot fixture.
    ``slot_cap=None`` disables the cap (the oracle-parity escape hatch).
    """
    slots = df.select(node, *keys).distinct()
    if slot_cap is not None:
        w = Window.partitionBy(*keys).orderBy(F.xxhash64(F.col(node)), node)
        slots = (
            slots.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= slot_cap)
            .drop("_rk")
        )
    a, b = slots.alias("a"), slots.alias("b")
    return (
        a.join(b, keys)
        .where(F.col(f"a.{node}") < F.col(f"b.{node}"))
        .groupBy(
            F.col(f"a.{node}").alias("src"), F.col(f"b.{node}").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_shared)
        .select("src", "dst")
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 20,
    damping: float = 0.85,
    weight: str | None = None,
    reset: DataFrame | None = None,
    tol: float | None = None,
    checkpoint_interval: int = 1,
) -> DataFrame:
    """Fixed-iteration power-method PageRank over directed (src, dst[, w]).

    A corpus-quality prior for web-scale training data (the link-graph
    signal Common-Crawl-style curation ranks hosts by) and a user-influence
    rank over the engine's co-occurrence graphs. Pure DataFrame ops:

    - out-mass normalization once up front: ``wnorm = w / wout(src)``
      (unweighted: 1/outdegree, an exact integer count — no float-order
      sensitivity in the transition matrix);
    - per iteration ONE join (edges ↔ ranks, both hash-partitioned on the
      node key) + one partial aggregate on dst; rank state is one row per
      node, localCheckpoint()ed so the iterative lineage never regrows;
    - dangling mass (nodes with no out-edges — impossible in symmetrized
      undirected graphs) is redistributed uniformly each round via a 1-row
      aggregate broadcast, the standard correction (Page et al. 1999);
      no per-iteration collect of node state.

    Teleport/damping terms mirror the oracle's literal arithmetic: rank =
    (1-d)/N + d * (inflow + dangling/N). Returns (node, rank); isolated
    nodes (no edges at all) are out of the graph by construction.

    ``reset`` (a one-column frame of node ids) switches to PERSONALIZED
    PageRank: teleport (and dangling) mass returns only to the reset set
    (uniformly within it) instead of all nodes — rank becomes proximity
    to the seeds, the graph-walk analogue of seed-based data selection
    (select crawl hosts near trusted domains). Nodes outside the reset
    set get teleport mass 0; iteration starts from the reset
    distribution.

    ``tol`` adds a convergence early-exit: the L1 rank delta between the
    two most recent rounds (observed on the job that checkpoints the
    state — no extra job, no node data on the driver) stops the loop
    once it drops below ``tol``, capped at ``n_iter`` rounds. At scale a
    converged graph stops paying for dead iterations; ``tol=None``
    (default) keeps the fixed-iteration mode the unrolled-CTE oracles
    mirror exactly.

    ``checkpoint_interval=k`` materializes the rank state every k-th
    round instead of every round: k rounds fuse into ONE job (the
    un-checkpointed iterations stack as k-deep plan lineage — bounded,
    since the next checkpoint cuts it), trading a deeper plan for fewer
    sequential job floors. The arithmetic per round is IDENTICAL
    (checkpointing never changes the computed values, only where lineage
    is cut), so fixed-iteration oracle hashes are unaffected. With
    ``tol`` set, the convergence test runs at each checkpoint — i.e.
    every k-th round — so with k>1 the loop can overshoot convergence by
    at most k-1 rounds (extra converged rounds only tighten the result;
    the exit criterion itself, L1(rank_t − rank_{t−1}) < tol, is
    unchanged).
    """
    if checkpoint_interval < 1:
        raise ValueError("checkpoint_interval must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col("src"), F.col("dst"), w.alias("w"))
    if weight:
        # weighted: the aggregate+join form keeps the oracle's exact
        # fold order for sum(w); reads `e` twice (wout branch + join side)
        wout = e.groupBy("src").agg(F.sum("w").alias("wout"))
        norm = e.join(wout, "src").select(
            "src", "dst", (F.col("w") / F.col("wout")).alias("wnorm")
        ).cache()
    else:
        # exact integer degree: transition weights are then 1/k, bit-stable.
        # Computed as a WINDOW count over src (optimization r13) instead of
        # a groupBy + join-back: ONE read of the caller's edge lineage and
        # one exchange instead of two reads + an extra join stage — and at
        # scale, where the per-node degree table outgrows the broadcast
        # threshold, the join form degraded to a sort-merge join that
        # sorted `e` anyway; the window form pays that same single
        # hash(src) exchange + sort without the second pass (guide §2.4).
        # count() is an exact integer either way — wnorm is bit-identical.
        cnt = F.count(F.lit(1)).over(Window.partitionBy("src"))
        norm = e.select(
            "src", "dst", (F.col("w") / cnt.cast("double")).alias("wnorm")
        ).cache()
    # Materialize the cached edge frame BEFORE any multi-branch consumer:
    # the flags union below reads `norm` twice and AQE schedules the two
    # branches as CONCURRENT query stages — against an unmaterialized
    # cache each branch re-executes the whole edge build (the caller's
    # quadratic slot self-join) into the same cache blocks (measured as
    # overlapping duplicate ~0.9 s jobs + "Block already exists" warnings;
    # optimization r13, guide §1/§5). One eager count pays the build
    # exactly once; every later consumer reads cached rows. Values are
    # untouched — this only sequences materialization.
    norm.count()
    # ONE-PASS node setup (optimization round 12): the old form derived
    # nodes (union+distinct), has_out (distinct) and dangling_nodes
    # (left_anti) as separate frames and paid THREE setup jobs
    # (nodes.count, n_reset count, dangling limit(1)) before the first
    # iteration — pure job-floor cost on a local cluster and three
    # scans of the node set on a real one. A single grouped flags frame
    # (node, max(has_out)) carries all of it, and one aggregate returns
    # n / n_dangling / n_reset together. Arithmetic (n, _p, teleport,
    # dangling handling) is byte-identical — oracle hashes unchanged.
    flags = (
        norm.select(
            F.col("src").alias("node"),
            F.lit(1).alias("_has_out"),
            F.lit(0).alias("_has_in"),
        )
        .unionByName(
            norm.select(
                F.col("dst").alias("node"),
                F.lit(0).alias("_has_out"),
                F.lit(1).alias("_has_in"),
            )
        )
        .groupBy("node")
        .agg(F.max("_has_out").alias("_has_out"), F.max("_has_in").alias("_has_in"))
    )
    if reset is not None:
        keys = reset.select(
            F.col(reset.columns[0]).alias("node")
        ).distinct().withColumn("_in_reset", F.lit(1))
        flags = flags.join(keys, "node", "left")
    flags = flags.cache()
    stat_cols = [
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.when(F.col("_has_out") == 0, 1).otherwise(0)).alias("_n_dangling"),
        F.sum(F.when(F.col("_has_in") == 0, 1).otherwise(0)).alias("_n_no_in"),
    ]
    if reset is not None:
        stat_cols.append(
            F.sum(F.when(F.col("_in_reset") == 1, 1).otherwise(0)).alias("_n_reset")
        )
    stats = flags.agg(*stat_cols).first()
    n = stats["_n"]
    if n == 0:
        norm.unpersist()
        flags.unpersist()
        return flags.select("node").withColumn("rank", F.lit(0.0))
    if reset is None:
        # constant-teleport arithmetic kept EXACTLY as the oracle mirrors it
        nodes = flags.select("node").withColumn("_p", F.lit(1.0) / F.lit(float(n)))
        teleport = F.lit(1.0 - damping) / F.lit(float(n))
    else:
        n_reset = stats["_n_reset"]
        if n_reset == 0:
            raise ValueError("reset set shares no nodes with the graph")
        nodes = flags.select(
            "node",
            F.when(F.col("_in_reset") == 1, F.lit(1.0) / F.lit(float(n_reset)))
            .otherwise(F.lit(0.0))
            .alias("_p"),
        )
        teleport = F.lit(1.0 - damping) * F.col("_p")
    ranks = nodes.select("node", F.col("_p").alias("rank"))
    dangling_nodes = flags.where(F.col("_has_out") == 0).select("node")
    any_dangling = stats["_n_dangling"] > 0
    # FUSED-AGGREGATE fast path (optimization round 13): when every node
    # has at least one in-edge (``_n_no_in == 0`` — always true for the
    # symmetrized co-occurrence graphs the registered queries run), the
    # dst aggregate's group set IS the full node set, so the per-iteration
    # ``nodes ⋈ inflow`` LEFT join existed only to re-attach teleport mass
    # to no-inflow nodes — a no-op. Folding the rank arithmetic into the
    # aggregate removes one join (one broadcast build + one AQE stage) per
    # iteration (guide §2.4 "remove shuffles/joins outright"). Arithmetic
    # is bit-identical: the group always has ≥1 row, so ``coalesce(sum,
    # 0.0)`` ≡ ``sum`` and the surrounding teleport/damping expression is
    # unchanged; the fixed-iteration oracle hashes certify it. For PPR the
    # per-node teleport probability rides the EDGE frame (``_pdst``,
    # attached once at setup and carried through the groupBy key — the
    # value is functionally dependent on dst, so groups are unchanged)
    # instead of being re-joined from the node table every round.
    fused = stats["_n_no_in"] == 0
    if fused and reset is not None:
        iter_edges = norm.join(
            nodes.select(F.col("node").alias("dst"), F.col("_p").alias("_pdst")),
            "dst",
        ).cache()
        # eager: the first fused iteration otherwise materializes this
        # cache from two concurrent AQE stages (same race as `norm` above)
        iter_edges.count()
        fused_teleport = F.lit(1.0 - damping) * F.col("_pdst")
        fused_group = [F.col("dst").alias("node"), F.col("_pdst")]
    else:
        iter_edges = norm
        fused_teleport = teleport
        fused_group = [F.col("dst").alias("node")]
    for _it in range(n_iter):
        if fused:
            infl = (
                iter_edges.join(ranks, iter_edges.src == ranks.node)
                .groupBy(*fused_group)
                .agg(F.sum(F.col("rank") * F.col("wnorm")).alias("inflow"))
            )
            if any_dangling:
                dang = (
                    dangling_nodes.join(ranks, "node")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
                )
                dang_share = (
                    F.col("dmass") / F.lit(float(n))
                    if reset is None
                    else F.col("dmass") * F.col("_pdst")
                )
                new = infl.crossJoin(F.broadcast(dang)).select(
                    "node",
                    (
                        fused_teleport
                        + F.lit(damping) * (F.col("inflow") + dang_share)
                    ).alias("rank"),
                )
            else:
                new = infl.select(
                    "node",
                    (fused_teleport + F.lit(damping) * F.col("inflow")).alias("rank"),
                )
        else:
            inflow = (
                norm.join(ranks, norm.src == ranks.node)
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") * F.col("wnorm")).alias("inflow"))
            )
            if any_dangling:
                dang = (
                    dangling_nodes.join(ranks, "node")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
                )
                dang_share = (
                    F.col("dmass") / F.lit(float(n))
                    if reset is None
                    else F.col("dmass") * F.col("_p")
                )
                new = (
                    nodes.join(inflow, "node", "left")
                    .crossJoin(F.broadcast(dang))
                    .select(
                        "node",
                        (
                            teleport
                            + F.lit(damping)
                            * (F.coalesce(F.col("inflow"), F.lit(0.0)) + dang_share)
                        ).alias("rank"),
                    )
                )
            else:
                new = nodes.join(inflow, "node", "left").select(
                    "node",
                    (
                        teleport
                        + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                    ).alias("rank"),
                )
        at_ckpt = (_it + 1) % checkpoint_interval == 0 or _it == n_iter - 1
        if not at_ckpt:
            ranks = new
        elif tol is None:
            ranks = _ckpt(new)
        else:
            # the L1 delta against the previous round is observed on the
            # checkpoint job itself, after the join's exchange
            delta = Observation()
            ranks = _ckpt(
                new.join(ranks.select("node", F.col("rank").alias("_prev")), "node")
                .observe(delta, F.sum(F.abs(F.col("rank") - F.col("_prev"))).alias("d"))
                .select("node", "rank")
            )
            d = delta.get["d"]
            if d is not None and d < tol:
                break
    if iter_edges is not norm:
        iter_edges.unpersist()
    norm.unpersist()
    flags.unpersist()
    return ranks


def triangle_count(edges: DataFrame, per_node: bool = False) -> DataFrame:
    """Distributed triangle counting by DEGREE-ORDERED orientation — the
    standard scale formulation (node-iterator++ / Cohen's MapReduce
    algorithm): orient each undirected edge from the lower-(degree, id)
    endpoint to the higher, enumerate wedges by joining the oriented
    adjacency with itself on the center node, then close each wedge
    against the oriented edge set. Every triangle is counted EXACTLY
    once (its unique degree-ordered orientation is acyclic), and the
    wedge join is bounded by Σ out_deg² where out-degree ≤ O(√m) under
    this orientation — the hot-node blowup a naive three-way self-join
    suffers is capped by construction.

    Input: (src, dst) in either or both directions; self-loops and
    duplicates are dropped. Output: one row (n_triangles) or, with
    ``per_node``, (node, n_triangles) counting triangles each node
    participates in. Three shuffles total (degree aggregate rides the
    canonical-edge distinct)."""
    from ..cache import tracked_persist

    # `und` feeds the degree aggregate AND both degree joins (3 reads);
    # persisting it keeps the caller's edge lineage (quadratic slot
    # self-join for the co-occurrence graph) to ONE execution.
    und = tracked_persist(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    withd = (
        und.join(deg.withColumnsRenamed({"node": "a", "deg": "da"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "db"}), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # carry the head's (deg, id) ORDER KEY: wedge endpoints must compare
    # in the same total order the orientation used — comparing raw node
    # ids instead silently drops every triangle whose closing edge runs
    # against id order (caught by the brute-force parity test)
    oriented = withd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(
            lower_first, F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        ).otherwise(
            F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
        ).alias("vkey"),
    )
    # THREE consumers read `oriented` (w1, w2, closing) and each would
    # otherwise replay the whole upstream pipeline — canonical-edge
    # distinct, degree aggregate, two degree joins, and the caller's
    # edge generation (often a quadratic slot self-join): measured as a
    # 486-Exchange plan on the co-occurrence graph (optimization r12).
    # One O(edges) persist collapses that to a single execution; the
    # storage is a row per edge, the same order as the shuffle the wedge
    # join pays anyway (MEMORY_AND_DISK spills, never OOMs).
    oriented = tracked_persist(oriented)
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"), F.col("vkey").alias("xk"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"), F.col("vkey").alias("yk"))
    wedges = (
        w1.join(w2, "u")
        .where(F.col("xk") < F.col("yk"))
        .select("u", "x", "y")
    )
    # close the wedge: x precedes y in the degree order by construction,
    # so the oriented edge set needs exactly one direction checked
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"], "left_semi")
    if not per_node:
        return tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    # the three union branches each read tri — tracked-persist it so the
    # wedge join (the Σ out_deg² dominant cost) runs once, not three
    # times (ReuseExchange shares shuffle outputs, not join operators)
    tri = tracked_persist(tri)
    per = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("x").alias("node")))
        .unionByName(tri.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per
