"""Driver-contract safety net: every registry query must execute.

Runs each REGISTRY entry at sf0.001 on the shared test session and asserts
it produces a result with a non-empty schema — the pytest-side guard that
no query regresses into an exception (ANSI division, missing column,
unresolvable plan) between oracle-gate runs. Value correctness is the
oracle gate's job (tools/check_correctness.py); this pins executability.
"""

from __future__ import annotations

import os

import pytest

from financial_big_data_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize("name", list(REGISTRY))
def test_registry_query_executes(spark, name):
    fn, sql = REGISTRY[name]
    df = fn(spark, SF)
    assert len(df.columns) > 0
    n = df.count()
    assert n >= 0
    if sql is not None:
        # oracle SQL must at least be non-trivial text mentioning a table
        assert "SELECT" in sql.upper()


def test_user_modularity_finds_communities(spark):
    """ev_user_modularity runs distributed Louvain over the user
    correlation graph: at sf0.001 it finds at least two communities with
    positive modularity."""
    row = REGISTRY["ev_user_modularity"][0](spark, SF).collect()[0]
    assert row.n_communities >= 2
    assert row.modularity > 0


def test_user_communities_found_on_ragged_panel(spark):
    """ev_user_communities correlates 300 users' hourly means, 8.9 % of
    hours filled at sf0.1: no hour has every user, so a listwise
    correlation gives no pairs and no communities. Pairwise-complete
    correlation must find more than one."""
    sf01 = os.path.join(os.path.dirname(SF), "sf0.1")
    assert REGISTRY["ev_user_communities"][0](spark, sf01).count() > 1


def test_registry_ordering_contract():
    """The driver's 50-entry evaluation window must be FULLY used: the
    first 50 registry entries all carry oracle SQL. Entries past the
    window may be rows-only or oracle-backed — the local gate
    (tools/check_correctness.py) hash-verifies any oracle SQL regardless
    of position, so extra oracles past 50 strengthen coverage rather than
    displace a driver-checked row."""
    entries = list(REGISTRY.items())
    assert len(entries) >= 50
    assert all(s is not None for _, (_f, s) in entries[:50])


def test_driver_window_spine_and_rotation_policy():
    """Round-12 rotation policy (VERDICT r11 #8, schedule in COVERAGE.md):
    the first 50 registry entries — the driver's hash window — must all be
    oracle-backed, carry the 20-entry core spine (one flagship per §2
    family, every round), and fill the other 30 slots from the rotating
    segment. A future edit that silently drops a spine entry past the
    boundary would downgrade CORRECTNESS_r{N} evidence for that family."""
    from financial_big_data_spark.queries import REGISTRY

    window = list(REGISTRY)[:50]
    assert len(set(window)) == 50
    missing_oracle = [n for n in window if REGISTRY[n][1] is None]
    assert not missing_oracle, f"windowed entries without oracle: {missing_oracle}"
    spine = {
        "pricing_summary", "nation_revenue", "customer_segment_stats",
        "ev_returns", "ev_rolling", "ev_rsi", "ev_macd",
        "ev_coarse_regime", "ev_regime5", "ev_transitions",
        "ev_user_profile", "ev_hour_type_pivot",
        "doc_text_stats", "doc_minhash", "doc_near_dup_lsh",
        "doc_dup_clusters", "emb_topk", "ev_asof_join", "pred_f1",
        "ev_incremental_agg",
    }
    assert spine <= set(window), sorted(spine - set(window))
    # the r12 rotating segment: least-recently-driver-checked first (these
    # 30 had no driver hash row before r12 — see COVERAGE.md accounting)
    r12_rotating = {
        "min_cost_supplier", "discount_band_revenue", "nation_market_share",
        "product_type_profit", "returned_item_ranking", "important_parts",
        "order_count_distribution", "part_supplier_variety",
        "disjunctive_band_revenue", "excess_shippers",
        "ev_incremental_composite", "ev_incremental_multi",
        "ev_incremental_filtered", "ev_incremental_distinct",
        "ev_cube", "doc_canonical",
        "emb_lloyd_kmeans", "emb_dbscan_relational", "emb_pca_power",
        "emb_pq_adc", "emb_opq_adc", "emb_ivf_seeded",
        "doc_quality_scores", "doc_bpe_relational",
        "ev_type_modularity", "ev_user_cc_communities",
        "emb_index_incremental",
        "ev_streaming_transitions", "ev_streaming_macd",
        "ev_streaming_incremental_agg",
    }
    assert set(window) == spine | r12_rotating
