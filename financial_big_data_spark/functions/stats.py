"""Pandas/sklearn-parity statistics expressions (SURVEY.md §2.4 A5, §2.8 C11).

Spark's built-in ``skewness``/``kurtosis`` are the *population* moments
(g1, g2); the reference uses pandas ``Series.skew()``/``.kurtosis()``
(reference market_analysis.py:254-255), which are the *bias-corrected sample*
statistics (G1, G2 — the Fisher-Pearson adjusted forms). The correction is a
closed-form function of n, so we derive the corrected statistic from Spark's
population aggregate plus a count — still a single hash-aggregate pass, fully
JVM-side, no UDF:

    G1 = g1 * sqrt(n*(n-1)) / (n-2)
    G2 = ((n+1)*g2 + 6) * (n-1) / ((n-2)*(n-3))

Both match DuckDB's ``skewness``/``kurtosis`` (verified to ~1e-13), which is
what the correctness oracle runs.

Z-score parity: sklearn ``StandardScaler`` divides by the *population* std
(ddof=0, reference src/clustering/methods/clustering.py:21-22) — use
``stddev_pop``, not Spark's sample-std default.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F


def _t_pvalue_udf():
    """Two-sided Student-t p-value, Arrow-vectorized. Runs on 1-row
    statistic frames (welch_ttest output), never fact tables. Built
    lazily — ``pandas_udf`` needs an active session, and this module is
    importable before one exists."""

    @F.pandas_udf("double")
    def p(t, dof):
        import pandas as pd

        from .special import student_t_sf_two_sided

        return pd.Series(
            [
                student_t_sf_two_sided(float(tv), float(dv))
                if pd.notna(tv) and pd.notna(dv)
                else None
                for tv, dv in zip(t, dof)
            ]
        )

    return p


def _chi2_pvalue_udf():
    """Chi-square survival p-value, Arrow-vectorized (1-row frames)."""

    @F.pandas_udf("double")
    def p(x, k):
        import pandas as pd

        from .special import chi2_sf

        return pd.Series(
            [
                chi2_sf(float(xv), float(kv))
                if pd.notna(xv) and pd.notna(kv) and kv > 0
                else None
                for xv, kv in zip(x, k)
            ]
        )

    return p


def skew_pandas(c: Column | str) -> Column:
    """Bias-corrected sample skewness G1 (pandas ``Series.skew()``).

    Null when n < 3 or variance is 0, matching pandas.
    """
    c = F.col(c) if isinstance(c, str) else c
    n = F.count(c).cast("double")
    g1 = F.skewness(c)
    return F.when(n >= 3, g1 * F.sqrt(n * (n - 1)) / (n - 2))


def kurtosis_pandas(c: Column | str) -> Column:
    """Bias-corrected excess kurtosis G2 (pandas ``Series.kurtosis()``).

    Null when n < 4, matching pandas.
    """
    c = F.col(c) if isinstance(c, str) else c
    n = F.count(c).cast("double")
    g2 = F.kurtosis(c)
    return F.when(n >= 4, ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3)))


def zscore(c: Column | str, w: WindowSpec) -> Column:
    """sklearn-``StandardScaler`` z-score over a window scope (ddof=0)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.try_divide(c - F.avg(c).over(w), F.stddev_pop(c).over(w))


def with_global_stats(df, aggs: list[Column]):
    """Attach global aggregates to every row WITHOUT a global window.

    ``expr OVER ()`` (``Window.partitionBy()`` with no keys) moves the whole
    frame to ONE partition — a scale-killer on fact tables and a
    ``WindowExec: No Partition Defined`` warning everywhere else. The
    broadcast-crossJoin of a 1-row aggregate is the distributed equivalent:
    the aggregate is a map-side-combined single row, and the join is a
    broadcast nested loop that preserves the input partitioning.

    Note: ``df``'s lineage appears twice in the returned plan (the 1-row
    aggregate branch and the main branch); differing projections usually
    prevent ReusedExchange, so an expensive lineage is scanned twice.
    Callers with heavy upstream lineage should pass a persisted frame.
    """
    return df.crossJoin(F.broadcast(df.agg(*aggs)))


def with_group_total(df, n: str = "n", total: str = "_total"):
    """Attach ``sum(n)`` to every row of an ALREADY-AGGREGATED frame.

    For post-aggregate frames whose cardinality is bounded by the group
    count (regime counts, type shares — a handful of rows at any data
    scale), the single-partition global window is the RIGHT formulation:
    :func:`with_global_stats`'s broadcast-crossJoin duplicates ``df``'s
    whole lineage (aggregate branch + main branch, no ReusedExchange
    across differing projections), so a windowed-feature pipeline above
    the count runs TWICE (measured: ev_regime_distribution's plan held
    two full Window+Exchange subtrees, optimization r12 §per-operator).
    ``sum(n) OVER ()`` on the aggregated rows computes the total in the
    same pass — one lineage, one tiny single-partition exchange of ≤
    |groups| rows. NEVER use this on a fact table (see with_global_stats).
    """
    from pyspark.sql import Window

    return df.withColumn(total, F.sum(n).over(Window.partitionBy()))


_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")
_TEMPORAL_TYPES = ("timestamp", "timestamp_ntz", "date")


def _frozen_range_bounds(df, order_col: str, n_parts: int) -> list:
    """Bucket boundaries for ``order_col``, computed ONCE driver-side.

    Numeric/temporal keys: ``approxQuantile`` (a single-pass sketch — no row
    collect, no bias). Other orderable types: a deterministic hash sample
    (``xxhash64 % 256 == 0``) collected, sorted, and thinned to evenly
    spaced boundaries. Boundary *quality* only affects bucket balance,
    never correctness — every execution of the returned frame reuses the
    same frozen literal boundaries.
    """
    dtype = dict(df.dtypes)[order_col]
    base = dtype.split("(")[0]
    if base in _NUMERIC_TYPES or base.startswith("decimal"):
        kdf = df.select(F.col(order_col).cast("double").alias("_k")).dropna()
    elif base in _TEMPORAL_TYPES:
        kdf = df.select(
            F.col(order_col).cast("timestamp").cast("double").alias("_k")
        ).dropna()
    else:
        sample = [
            r[0]
            for r in df.select(F.col(order_col).alias("_k"))
            .dropna()
            .where(F.pmod(F.xxhash64("_k"), F.lit(256)) == 0)
            .limit(128 * max(n_parts, 1))
            .collect()
        ]
        sample.sort()
        if len(sample) < n_parts or len(set(sample)) < n_parts:
            # thin or duplicate-flooded 1/256 sample: the hash gate
            # samples by VALUE, so a low-cardinality string key (e.g. a
            # partials sidecar's _file column — every row of a sampled
            # value passes) can yield a large sample of 2-3 distinct
            # values and collapse the boundaries. Fall back to a
            # DETERMINISTIC ordered distinct sample, capped. Without
            # real boundaries the caller would collapse to one or two
            # files and lose footer range pruning on the key entirely.
            sample = [
                r[0]
                for r in df.select(F.col(order_col).alias("_k"))
                .dropna()
                .distinct()
                .orderBy("_k")
                .limit(128 * max(n_parts, 1))
                .collect()
            ]
        if len(sample) < n_parts:
            return sorted(set(sample))[:-1] if len(sample) > 1 else []
        step = len(sample) / n_parts
        return sorted({sample[int(i * step)] for i in range(1, n_parts)})
    probs = [i / n_parts for i in range(1, n_parts)]
    # approxQuantile returns [] for an empty input: one unbounded bucket
    return sorted(set(kdf.stat.approxQuantile("_k", probs, 0.001)))


def global_running_sum(
    df,
    order_col: str,
    value_col: str,
    out: str = "running_sum",
    partitions: int | None = None,
    tiebreak: list[str] | None = None,
):
    """Cumulative sum in a global ordering WITHOUT a global-order window.

    ``sum() OVER (ORDER BY x)`` with no partition key funnels the whole
    frame through one task. The scalable form is two-phase: bucket on the
    ordering key, compute per-bucket local cumsums (parallel windows), then
    add each bucket's prefix offset — the offsets are one row per bucket
    (bounded metadata), computed driver-side and joined back broadcast.

    Correctness: the bucket id is a *deterministic function of the key*
    against boundaries frozen driver-side (see ``_frozen_range_bounds``),
    NOT ``spark_partition_id()`` after ``repartitionByRange`` — the
    latter's sampled boundaries may differ between the offsets job and a
    later execution of the returned frame, silently corrupting sums near
    boundaries. With frozen boundaries, both executions assign identical
    bucket ids, so no persist is required for correctness.

    The input lineage still executes twice (offsets job + returned frame);
    callers with expensive lineage should pass a persisted frame. If ``df``
    itself is nondeterministic (e.g. an unseeded sample), results are
    undefined — as for any twice-executed lineage.

    For numeric keys the double cast used for bucketing may collapse
    distinct int64 values above 2**53 — they simply land in the same
    bucket; the window still orders by the original column, so sums stay
    exact.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n_parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bounds = _frozen_range_bounds(df, order_col, n_parts)

    dtype = dict(df.dtypes)[order_col]
    base = dtype.split("(")[0]
    if base in _NUMERIC_TYPES or base.startswith("decimal"):
        key = F.col(order_col).cast("double")
    elif base in _TEMPORAL_TYPES:
        key = F.col(order_col).cast("timestamp").cast("double")
    else:
        key = F.col(order_col)
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(key > F.lit(b), 1).otherwise(0)
    bucketed = df.withColumn("_pid", pid)

    # tiebreak columns refine the within-bucket order only — bucketing stays
    # a function of order_col alone, so equal-key rows always share a bucket
    # and the refined order is a TOTAL order across buckets too
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col, *(tiebreak or []))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bucketed.withColumn("_local_cum", F.sum(value_col).over(w))
    totals = sorted(
        (r._pid, r._t)
        for r in bucketed.groupBy("_pid").agg(F.sum(value_col).alias("_t")).collect()
    )
    offsets, acc = [], 0
    for p, t in totals:
        offsets.append((p, acc))
        acc += t or 0
    is_float = dict(df.dtypes)[value_col] in ("double", "float")
    schema = "_pid int, _offset double" if is_float else "_pid int, _offset bigint"
    offsets = [(p, float(o) if is_float else int(o)) for p, o in offsets]
    off_df = (
        spark.createDataFrame(offsets, schema)
        if offsets
        else spark.createDataFrame([], schema)
    )
    return (
        local.join(F.broadcast(off_df), on="_pid", how="left")
        .withColumn(out, F.col("_local_cum") + F.coalesce("_offset", F.lit(0)))
        .drop("_pid", "_local_cum", "_offset")
    )


def welch_ttest(
    df,
    value: str,
    group: str,
    group_a,
    group_b,
) -> "DataFrame":
    """Welch's unequal-variance t-test between two groups as ONE
    aggregate pass: per-group (n, mean, sample variance) reduce
    map-side, then t = (m_a − m_b) / sqrt(s²_a/n_a + s²_b/n_b) and the
    Welch–Satterthwaite degrees of freedom — the A/B-evaluation
    primitive (is the treatment corpus' metric different?) with no
    driver math beyond the 1-row result. Returns one row: n_a, n_b,
    mean_a, mean_b, t_stat, df, p_value. The two-sided p comes from the
    library-free regularized incomplete beta (functions/special.py,
    golden-pinned to closed forms) via an Arrow pandas_udf on the 1-row
    statistic frame; the statistic + df stay the oracle-hash-checked
    part (DuckDB has no t CDF — p_value is pytest-pinned instead).

    ``n`` counts NON-NULL values (``count(value)``) so it matches the
    population avg/var_samp actually aggregate over — counting raw rows
    would inflate apparent precision wherever the metric has nulls. A
    missing group raises (an A/B comparison against a typo'd label must
    not silently return zero rows)."""
    stats = (
        df.where(F.col(group).isin([group_a, group_b]))
        .groupBy(group)
        .agg(
            F.count(value).alias("n"),
            F.avg(value).alias("m"),
            F.var_samp(value).alias("v"),
        )
    )
    # bounded collect (≤ 2 rows): validates presence AND computes the
    # aggregate pass exactly once (the two filtered subtrees would
    # otherwise each re-run it)
    got = {r[0]: (r[1], r[2], r[3]) for r in stats.collect()}
    for g in (group_a, group_b):
        if g not in got or got[g][0] == 0:
            raise ValueError(f"group {g!r} has no non-null {value!r} rows")
    spark = df.sparkSession
    j = spark.createDataFrame(
        [got[group_a] + got[group_b]],
        "n_a long, mean_a double, v_a double, n_b long, mean_b double, v_b double",
    )
    se2_a = F.col("v_a") / F.col("n_a")
    se2_b = F.col("v_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2_a + se2_b)
    dof = (se2_a + se2_b) ** 2 / (
        se2_a ** 2 / (F.col("n_a") - 1) + se2_b ** 2 / (F.col("n_b") - 1)
    )
    return j.select(
        "n_a", "n_b", "mean_a", "mean_b",
        t.alias("t_stat"), dof.alias("df"),
    ).withColumn("p_value", _t_pvalue_udf()("t_stat", "df"))


def chi2_independence(df, row: str, col: str) -> "DataFrame":
    """Pearson chi-square statistic for independence of two categorical
    columns: the FULL r×c grid comes from crossing the two marginal
    aggregates (so structurally-empty cells contribute their (0−E)²/E =
    E term — summing observed cells only would underestimate χ²
    wherever a combination never occurs), observed counts left-join
    onto it, χ² = Σ (O−E)²/E as a final 1-row sum plus the (r−1)(c−1)
    degrees of freedom. All partial-aggregatable; the grid is
    marginal-sized (r×c), never data-sized — no contingency matrix
    collects to the driver. Output row: chi2, dof, p_value (library-free
    upper incomplete gamma, functions/special.py; DuckDB has no chi² SF,
    so p_value is pytest-pinned while chi2/dof stay oracle-hashed).

    Null categories are dropped up front (both columns non-null): a null
    key would survive groupBy into the marginals but never match the
    left join onto the crossed grid, silently counting its observed mass
    as 0 against an inflated E — a wrong statistic, not a choice. Rows
    with nulls are simply not observations of the (row, col) pair, the
    same treatment scipy's contingency pipeline gives missing data."""
    df = df.where(F.col(row).isNotNull() & F.col(col).isNotNull())
    obs = df.groupBy(row, col).agg(F.count(F.lit(1)).alias("o"))
    row_tot = obs.groupBy(row).agg(F.sum("o").alias("rt"))
    col_tot = obs.groupBy(col).agg(F.sum("o").alias("ct"))
    n = obs.agg(F.sum("o").alias("n"))
    grid = row_tot.crossJoin(col_tot)  # r×c rows — marginal-sized
    cells = (
        grid.join(obs, [row, col], "left")
        .crossJoin(F.broadcast(n))
        .select(
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("rt") * F.col("ct") / F.col("n")).alias("e"),
            F.col(row).alias("_r"),
            F.col(col).alias("_c"),
        )
    )
    return cells.agg(
        F.sum((F.col("o") - F.col("e")) ** 2 / F.col("e")).alias("chi2"),
        ((F.countDistinct("_r") - 1) * (F.countDistinct("_c") - 1)).alias("dof"),
    ).withColumn("p_value", _chi2_pvalue_udf()("chi2", F.col("dof").cast("double")))
