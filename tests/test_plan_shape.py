"""Physical-plan shape assertions: the scale properties SURVEY §4.2 promises.

These tests pin the *plan*, not the results: filter/column pushdown reaches
the parquet scan, the per-series window block compiles to ONE exchange, and
small dimensions broadcast. A regression here is a silent 100TB-scale
performance bug even when answers stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.operators.regime import detect_regime_5way, regime_features
from financial_big_data_spark.operators.transitions import regime_transitions
from financial_big_data_spark.queries import (
    q_nation_revenue,
    q_pricing_summary,
    q_top_revenue_orders,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    from financial_big_data_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp_ntz")
    ).select("l_quantity")
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    from financial_big_data_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").select("l_quantity", "l_discount")
    plan = _plan(li)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read_schema and "l_discount" in read_schema
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_window_block_single_exchange(spark, bars_df):
    """All regime features + classification: exactly one shuffle (on symbol)."""
    feats = detect_regime_5way(
        regime_features(bars_df, series="symbol", time="ts", close="close", volume="volume")
    )
    plan = _plan(feats)
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "hashpartitioning(symbol" in plan


def test_macd_after_window_stage_adds_no_exchange(spark, bars_df):
    """The MACD pass's repartition(series) is dropped after a window stage
    on the same key: it adds a local sort, not an exchange."""
    from pyspark.sql import Window

    from financial_big_data_spark.functions.ewm import macd

    w = Window.partitionBy("symbol").orderBy("ts")
    windowed = bars_df.withColumn("prev", F.lag("close").over(w))
    assert _plan(windowed).count("Exchange") == 1
    assert _plan(macd(windowed)).count("Exchange") == 1


def test_transitions_reuse_series_partitioning(spark, bars_df):
    """Windows + islands + run aggregation: the island groupBy must NOT add
    a full re-shuffle of the labeled rows — only the final tiny run-table
    exchanges are allowed beyond the series shuffle."""
    labeled = detect_regime_5way(
        regime_features(bars_df, series="symbol", time="ts", close="close", volume="volume")
    )
    tr = regime_transitions(labeled)
    plan = _plan(tr)
    # exchanges: 1 (series shuffle for windows; islands groupBy on
    # (symbol,_island,...) reuses it) + ≤2 for the run-level lead() window
    # over the ~runs-sized table
    assert plan.count("Exchange") <= 3, plan[:3000]


def test_broadcast_joins_for_dimensions(spark):
    plan = _plan(q_nation_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or plan.count("BroadcastHashJoin") >= 3


def test_top_revenue_uses_broadcast_for_customer(spark):
    plan = _plan(q_top_revenue_orders(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pricing_summary_partial_aggregation(spark):
    """Hash aggregate must be two-phase (partial map-side before exchange)."""
    plan = _plan(q_pricing_summary(spark, SF))
    assert plan.count("HashAggregate") >= 2
    first_agg = plan.index("HashAggregate")
    assert "partial_sum" in plan or "partial" in plan[first_agg:]


def test_whole_stage_codegen_covers_window_prep(spark):
    """After execution the finalized AQE plan must show fused codegen stages
    around the window prep (scan→project pipeline stays JVM-compiled)."""
    from financial_big_data_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    feats = regime_features(
        ev, series="user_id", time="ts", close="value", volume="value",
        order_tiebreak=["event_id"],
    )
    feats.collect()  # finalize THIS df's own adaptive execution
    plan = _plan(feats)
    assert "isFinalPlan=true" in plan
    # codegen'd stages print as "*(n)" in the final-plan rendering
    assert "*(" in plan


def test_global_stats_no_partitionless_window(spark):
    """with_global_stats must attach global aggregates via broadcast
    crossJoin — never a partitionless Window (single-partition funnel)."""
    from financial_big_data_spark.queries import q_ev_zscore

    df = q_ev_zscore(spark, SF)
    df.collect()
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    # a WindowExec with an empty partition spec prints 'windowspecdefinition('
    # directly followed by the order spec; assert every window here is keyed
    for frag in plan.split("windowspecdefinition(")[1:]:
        assert frag.split(",")[0].strip().startswith("user_id"), frag[:80]


def test_share_queries_single_lineage(spark):
    """Share-of-total queries attach the total with `with_group_total`
    (a tiny post-aggregate global window), so the plan holds ONE events
    lineage — no second aggregate branch, no broadcast nested-loop join
    (optimization r12: the crossJoin form re-ran the regime pipeline for
    the 1-row total, only partially recovered by runtime exchange reuse,
    and for ev_type_share not recovered at all)."""
    from financial_big_data_spark.queries import (
        q_ev_regime_distribution,
        q_ev_type_share,
    )

    for q in (q_ev_regime_distribution, q_ev_type_share):
        df = q(spark, SF)
        df.collect()
        # AQE's toString prints the final AND the initial plan; count scans
        # in the final section only
        plan = _plan(df).split("== Initial Plan ==")[0]
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert plan.count("Scan parquet") == 1, q.__name__


def test_plan_caches_released_on_unpersist(spark, bars_df):
    """VERDICT r3 next #8: library callers of market_analysis_plan /
    forecast_and_evaluate hold plan-level caches until result.unpersist();
    calling it must actually drop those frames' storage. Checked on the
    SPECIFIC frames' storageLevel (a global persisted-RDD count is racy in
    a shared session: other tests' localCheckpoint RDDs come and go under
    the ContextCleaner)."""
    from financial_big_data_spark import cache as fbs_cache
    from financial_big_data_spark.cache import release_tracked
    from financial_big_data_spark.ml.forecasting import forecast_and_evaluate
    from financial_big_data_spark.plans import market_analysis_plan

    def pinned(df) -> bool:
        lvl = df.storageLevel
        return lvl.useMemory or lvl.useDisk

    release_tracked(blocking=True)

    res = market_analysis_plan(bars_df)
    res.regime_distribution.collect()
    assert res._cached and any(pinned(df) for df in res._cached)
    res.unpersist()
    assert not any(pinned(df) for df in res._cached)

    fres = forecast_and_evaluate(bars_df)
    fres.accuracy.collect()
    tracked = list(fbs_cache._TRACKED)
    assert tracked and any(pinned(df) for df in tracked)
    fres.unpersist()
    assert not fbs_cache._TRACKED  # bulk release drained the registry
    assert not any(pinned(df) for df in tracked)


def test_release_tracked_swallows_only_py4j_errors(monkeypatch):
    """A frame whose unpersist raises Py4JError (its session is stopped)
    is dropped and not counted; any other error propagates."""
    from py4j.protocol import Py4JError

    from financial_big_data_spark import cache as fbs_cache

    class Frame:
        def __init__(self, exc=None):
            self.exc = exc

        def unpersist(self, blocking=False):
            if self.exc is not None:
                raise self.exc

    monkeypatch.setattr(fbs_cache, "_TRACKED", [Frame(), Frame(Py4JError("stopped")), Frame()])
    assert fbs_cache.release_tracked() == 2
    assert fbs_cache._TRACKED == []
    fbs_cache._TRACKED.append(Frame(RuntimeError("bug")))
    with pytest.raises(RuntimeError):
        fbs_cache.release_tracked()


def test_q18_shape_aggregate_before_join_topk_merge(spark):
    """large_order_customers: the lineitem aggregate runs BEFORE any join
    (only qualifying orders reach the join), customer broadcasts, and the
    top-20 is a TakeOrderedAndProject k-row merge, not a global sort."""
    from financial_big_data_spark.queries import q_large_order_customers

    plan = _plan(q_large_order_customers(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # HashAggregate on l_orderkey appears below the joins (partial+final
    # pair); a plan that joined lineitem row-level first would show the
    # join above a scan with no aggregate in between.
    assert plan.index("HashAggregate") > plan.index("TakeOrderedAndProject")


def test_q17_threshold_join_keyed_and_brand_broadcast(spark):
    """brand_small_qty_revenue: brand filter broadcasts; the per-part
    threshold join is a keyed join (hash/sort-merge), no nested loop."""
    from financial_big_data_spark.queries import q_brand_small_qty_revenue

    plan = _plan(q_brand_small_qty_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q4_shape_semi_join_after_date_prune(spark):
    """priority_returned_orders: the EXISTS runs as a LEFT SEMI hash
    join, never a nested loop, and the order-date filter reaches the
    parquet scan as a pushed filter."""
    from financial_big_data_spark.queries import q_priority_returned_orders

    plan = _plan(q_priority_returned_orders(spark, SF))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_q7_shape_dimensions_broadcast_one_fact_shuffle(spark):
    """nation_trade_volume: supplier/customer/nation maps broadcast; the
    cross-nation predicate is a filter, not a cartesian."""
    from financial_big_data_spark.queries import q_nation_trade_volume

    plan = _plan(q_nation_trade_volume(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q15_shape_scalar_max_broadcast_no_rank_window(spark):
    """top_supplier_revenue: the max is a 1-row broadcast join-back —
    no partitionless Window (rank over everything) in the plan."""
    from financial_big_data_spark.queries import q_top_supplier_revenue

    plan = _plan(q_top_supplier_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_q21_shape_semi_joins_topk_merge(spark):
    """sole_blame_suppliers: the EXISTS is a LeftSemi hash join on the
    order key and the NOT-EXISTS collapsed to a count==1 aggregate +
    second LeftSemi (one shuffle fewer than the self-join form — the
    oracle keeps literal NOT EXISTS, so the equivalence is hash-checked);
    top-10 is a k-row merge."""
    from financial_big_data_spark.queries import q_sole_blame_suppliers

    plan = _plan(q_sole_blame_suppliers(spark, SF))
    assert plan.count("LeftSemi") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_regime_sketch_no_partitionless_window(spark):
    """ev_regime_sketch: the bottom-k sample ranks within the series key
    (keyed window), and the threshold join back is a broadcast — no
    partitionless Window, no nested loop. The window check delegates to
    the plan linter (plans/lint.py), which parses Spark's actual
    ``Window [exprs], [partspec], [ordering]`` rendering."""
    from financial_big_data_spark.plans.lint import scale_lint
    from financial_big_data_spark.queries import q_ev_regime_sketch

    df = q_ev_regime_sketch(spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan  # the keyed rank window is really there
    findings = scale_lint(df, executed=False)
    assert not [f for f in findings if "window" in str(f).lower()], findings
