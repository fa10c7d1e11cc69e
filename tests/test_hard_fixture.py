"""EP3 HARD fixture (VERDICT r10 #6): regime dynamics where the
persistence baseline is capped (~0.81) but the next label is an exact
function of the windowed features — the model-over-trivial-baseline
margin the sf* fixtures cannot demonstrate (their persistence is 0.998)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.ml.fixtures import HARD_CYCLE, hard_regime_bars
from financial_big_data_spark.ml.forecasting import forecast_and_evaluate


def _acc(spark, bars, model, **kw):
    from financial_big_data_spark.cache import release_tracked

    release_tracked()
    spark.catalog.clearCache()
    r = forecast_and_evaluate(
        bars, series="user_id", time="ts", close="value", high="value",
        low="value", volume="value", model=model,
        order_tiebreak=["event_id"], **kw,
    )
    return r.accuracy.collect()[0].accuracy


@pytest.fixture(scope="module")
def hard_bars(spark):
    return hard_regime_bars(spark, n_series=8, n_bars=1200)


def test_cycle_sums_to_positive_drift():
    assert len(HARD_CYCLE) == 16
    assert abs(sum(HARD_CYCLE) - 0.008) < 1e-12


def test_fixture_is_deterministic_and_distributed(spark):
    a = hard_regime_bars(spark, n_series=3, n_bars=100).collect()
    b = hard_regime_bars(spark, n_series=3, n_bars=100).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 300


def test_persistence_capped_and_labels_cycle(spark, hard_bars):
    base = _acc(spark, hard_bars, "baseline")
    assert base <= 0.85, f"persistence {base} not hard enough"
    assert base >= 0.70, f"persistence {base} degenerately low"


def test_mlp_beats_persistence_by_margin(spark, hard_bars):
    base = _acc(spark, hard_bars, "baseline")
    mlp = _acc(spark, hard_bars, "mlp")
    assert mlp >= base + 0.05, f"mlp {mlp} vs baseline {base}"


def test_lstm_beats_persistence_by_margin(spark, hard_bars):
    base = _acc(spark, hard_bars, "baseline")
    lstm = _acc(spark, hard_bars, "lstm", seq_len=30)
    assert lstm >= base + 0.05, f"lstm {lstm} vs baseline {base}"


def test_three_regimes_present(spark, hard_bars):
    from financial_big_data_spark.ml.forecasting import regime_prediction_dataset

    ds = regime_prediction_dataset(
        hard_bars, series="user_id", time="ts", close="value", high="value",
        low="value", volume="value", order_tiebreak=["event_id"],
    )
    regs = {
        r.regime
        for r in ds.where(F.col("event_id") >= 100).select("regime").distinct().collect()
    }
    assert regs == {"stable_bull", "volatile_bull", "consolidation"}
