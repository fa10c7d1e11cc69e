"""Golden/invariant tests: EWM-MACD, LSTM features, sequences, split, metrics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.functions.ewm import ewm_mean, macd
from financial_big_data_spark.ml.metrics import (
    accuracy,
    confusion_matrix,
    confusion_summary,
    evaluate,
    per_class_f1,
    weighted_f1,
)
from financial_big_data_spark.operators.features import (
    FEATURE_COLS,
    lstm_features,
    ordered_split,
    sequences,
)
from tests.conftest import assert_series_close


def test_ewm_mean_pandas_parity(spark, bars_df, bars_pdf):
    out = ewm_mean(bars_df, "close", span=12)
    got = [r.ewm for r in out.orderBy("symbol", "ts").select("ewm").collect()]
    exp = []
    for _, g in bars_pdf.sort_values(["symbol", "ts"]).groupby("symbol", sort=True):
        exp.extend(g["close"].ewm(span=12, adjust=False).mean().tolist())
    assert_series_close(got, exp, atol=1e-9, name="ewm_12")


def test_macd_pandas_parity(spark, bars_df, bars_pdf):
    out = macd(bars_df).orderBy("symbol", "ts")
    rows = out.select("macd", "macd_signal", "macd_hist").collect()
    exp_m, exp_s, exp_h = [], [], []
    for _, g in bars_pdf.sort_values(["symbol", "ts"]).groupby("symbol", sort=True):
        fast = g["close"].ewm(span=12, adjust=False).mean()
        slow = g["close"].ewm(span=26, adjust=False).mean()
        m = fast - slow
        s = m.ewm(span=9, adjust=False).mean()
        exp_m.extend(m.tolist())
        exp_s.extend(s.tolist())
        exp_h.extend((m - s).tolist())
    assert_series_close([r.macd for r in rows], exp_m, atol=1e-8, name="macd")
    assert_series_close([r.macd_signal for r in rows], exp_s, atol=1e-8, name="macd_signal")
    assert_series_close([r.macd_hist for r in rows], exp_h, atol=1e-8, name="macd_hist")


def test_lstm_features_complete_and_bounded(spark, bars_df, bars_pdf):
    out = lstm_features(bars_df)
    assert out.count() == len(bars_pdf)
    # post-fill: no nulls in any feature column
    null_counts = out.select(
        [F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in FEATURE_COLS]
    ).collect()[0]
    assert all(v == 0 for v in null_counts), null_counts.asDict()
    # clips hold
    mins = out.agg(
        F.min("returns"), F.max("returns"), F.min("volume_intensity"), F.max("volume_intensity")
    ).collect()[0]
    assert mins[0] >= -0.5 and mins[1] <= 0.5
    assert mins[2] >= 0.0 and mins[3] <= 10.0


def test_lstm_returns_clip_parity(spark, bars_df, bars_pdf):
    out = lstm_features(bars_df).orderBy("symbol", "ts")
    got = [r.returns for r in out.select("returns").collect()]
    exp = []
    for _, g in bars_pdf.sort_values(["symbol", "ts"]).groupby("symbol", sort=True):
        exp.extend(g["close"].pct_change().clip(-0.5, 0.5).fillna(0.0).tolist())
    assert_series_close(got, exp, name="returns_clipped")


def test_sequences_shape(spark, bars_df, bars_pdf):
    feats = lstm_features(bars_df)
    seq = sequences(feats, seq_len=30)
    per_sym = {r.symbol: r["count"] for r in seq.groupBy("symbol").count().collect()}
    for sym, n in bars_pdf.groupby("symbol").size().items():
        assert per_sym.get(sym, 0) == max(n - 29, 0), sym
    row = seq.limit(1).collect()[0]
    assert len(row.seq) == 30 and len(row.seq[0]) == len(FEATURE_COLS)


def test_sequences_window_content(spark, bars_df, bars_pdf):
    """Last element of each sequence is the current row's feature vector."""
    feats = lstm_features(bars_df).withColumn("_probe", F.col("returns"))
    seq = sequences(feats, seq_len=30).orderBy("symbol", "ts").limit(5).collect()
    feats_map = {
        (r.symbol, r.ts): r.returns
        for r in feats.select("symbol", "ts", "returns").collect()
    }
    for r in seq:
        assert abs(r.seq[-1][0] - feats_map[(r.symbol, r.ts)]) < 1e-12


def test_ordered_split_fractions(spark, bars_df, bars_pdf):
    out = ordered_split(bars_df)
    counts = {
        (r.symbol, r.split): r["count"]
        for r in out.groupBy("symbol", "split").count().collect()
    }
    for sym, n in bars_pdf.groupby("symbol").size().items():
        train = counts.get((sym, "train"), 0)
        val = counts.get((sym, "val"), 0)
        test = counts.get((sym, "test"), 0)
        assert train == int(np.floor(n * 0.70))
        assert train + val == int(np.floor(n * 0.85))
        assert train + val + test == n
    # split respects time order: max train ts < min val ts per symbol
    tr_max = {r.symbol: r.m for r in out.where("split='train'").groupBy("symbol").agg(F.max("ts").alias("m")).collect()}
    va_min = {r.symbol: r.m for r in out.where("split='val'").groupBy("symbol").agg(F.min("ts").alias("m")).collect()}
    for sym in tr_max:
        assert tr_max[sym] < va_min[sym]


def _preds(spark):
    #      true      pred
    rows = [("a", "a")] * 8 + [("a", "b")] * 2 + [("b", "b")] * 5 + [("b", "a")] * 5
    return spark.createDataFrame(rows, "true_label string, pred_label string")


def test_accuracy(spark):
    row = accuracy(_preds(spark)).collect()[0]
    assert abs(row.accuracy - 13 / 20) < 1e-12
    assert row.n == 20


def test_per_class_f1_closed_form(spark):
    rows = {r.label: r for r in per_class_f1(_preds(spark)).collect()}
    # class a: tp=8, n_pred=13, support=10
    assert abs(rows["a"].precision - 8 / 13) < 1e-12
    assert abs(rows["a"].recall - 8 / 10) < 1e-12
    f1a = 2 * (8 / 13) * (8 / 10) / ((8 / 13) + (8 / 10))
    assert abs(rows["a"].f1 - f1a) < 1e-12
    # class b: tp=5, n_pred=7, support=10
    assert abs(rows["b"].precision - 5 / 7) < 1e-12


def test_weighted_f1(spark):
    pc = {r.label: r.f1 for r in per_class_f1(_preds(spark)).collect()}
    got = weighted_f1(_preds(spark)).collect()[0].weighted_f1
    exp = (pc["a"] * 10 + pc["b"] * 10) / 20
    assert abs(got - exp) < 1e-12


def _plan_metrics(preds):
    """The metrics as distributed DataFrame plans (hash aggregates and a
    full join on the label): the Spark reference ``evaluate``'s driver
    arithmetic must equal exactly, with the same schemas."""
    cm = confusion_matrix(preds)
    acc = preds.agg(
        F.avg((F.col("true_label") == F.col("pred_label")).cast("double")).alias("accuracy"),
        F.count(F.lit(1)).alias("n"),
    )
    by_true = cm.groupBy("true_label").agg(F.sum("n").alias("support"))
    by_pred = cm.groupBy("pred_label").agg(F.sum("n").alias("n_pred"))
    tp = cm.where(F.col("true_label") == F.col("pred_label")).select(
        F.col("true_label").alias("label"), F.col("n").alias("tp")
    )
    joined = (
        by_true.select(F.col("true_label").alias("label"), "support")
        .join(by_pred.select(F.col("pred_label").alias("label"), "n_pred"), on="label", how="full")
        .join(tp, on="label", how="left")
        .na.fill({"tp": 0, "support": 0, "n_pred": 0})
    )
    precision = F.try_divide(F.col("tp"), F.col("n_pred"))
    recall = F.try_divide(F.col("tp"), F.col("support"))
    f1 = F.try_divide(2 * precision * recall, precision + recall)
    pc = joined.select(
        "label", "support", precision.alias("precision"), recall.alias("recall"),
        F.coalesce(f1, F.lit(0.0)).alias("f1"),
    )
    wf1 = pc.where(F.col("support") > 0).agg(
        (F.sum(F.col("f1") * F.col("support")) / F.sum("support")).alias("weighted_f1")
    )
    return acc, wf1, pc, cm


@pytest.mark.parametrize(
    "extra",
    [
        [],
        [("a", "c")] * 3,
        [("d", "a")] * 2 + [("d", "b")],
        [(None, "a"), ("b", None), (None, None)],
    ],
    ids=["preds", "pred_only_class", "true_only_class", "null_labels"],
)
def test_confusion_summary_matches_dataframe_metrics(spark, extra):
    """The driver derivation from the confusion counts equals the metrics
    as DataFrame plans exactly, including a class seen only in predictions
    (recall NULL), one seen only in truth (precision NULL) and NULL labels;
    the frames ``evaluate`` (and ``accuracy``, ``weighted_f1``,
    ``per_class_f1``) return carry the plans' schemas."""
    preds = _preds(spark).union(
        spark.createDataFrame(extra, "true_label string, pred_label string")
    )
    want = _plan_metrics(preds)
    acc, wf1, pc, cm = ([tuple(r) for r in f.collect()] for f in want)
    got_acc, got_n, got_pc, got_wf1 = confusion_summary(cm)
    assert [(got_acc, got_n)] == acc
    assert [(got_wf1,)] == wf1
    assert sorted(got_pc, key=repr) == sorted(pc, key=repr)
    public = (accuracy(preds), weighted_f1(preds), per_class_f1(preds), confusion_matrix(preds))
    for frames in (evaluate(preds), public):
        for frame, ref, rows in zip(frames, want, (acc, wf1, pc, cm)):
            assert frame.schema == ref.schema
            assert sorted(map(tuple, frame.collect()), key=repr) == sorted(rows, key=repr)


def test_forecast_metric_frames_cost_one_action(spark, bars_df, monkeypatch):
    """forecast_and_evaluate and reading every metric frame it returns run
    Spark jobs from ONE action: the confusion collect. The frames are
    local relations, so reading them runs none."""
    from pyspark.sql.classic.dataframe import DataFrame

    from financial_big_data_spark.ml.forecasting import forecast_and_evaluate

    sc = spark.sparkContext
    group = "forecast_metric_frames"

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(group))

    per_collect = []  # the jobs each DataFrame.collect ran
    collect = DataFrame.collect

    def counted(self):
        before = jobs()
        out = collect(self)
        per_collect.append(jobs() - before)
        return out

    monkeypatch.setattr(DataFrame, "collect", counted)
    sc.setJobGroup(group, group)
    try:
        res = forecast_and_evaluate(bars_df)
        for frame in (res.accuracy, res.weighted_f1, res.per_class_f1, res.confusion):
            frame.collect()
            frame.first()
        total = jobs()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    res.unpersist()
    assert total > 0
    assert [n for n in per_collect if n] == [total]


def test_welch_ttest_matches_numpy(spark):
    """Statistic + Welch-Satterthwaite df vs a from-scratch numpy
    derivation (no scipy dependency in the check)."""
    import numpy as np
    import pytest

    from financial_big_data_spark.functions.stats import welch_ttest

    rng = np.random.default_rng(5)
    xa = rng.normal(1.0, 2.0, 400)
    xb = rng.normal(1.3, 0.7, 250)
    rows = [("a", float(v)) for v in xa] + [("b", float(v)) for v in xb]
    df = spark.createDataFrame(rows, "g string, value double")
    r = welch_ttest(df, "value", "g", "a", "b").collect()[0]
    va, vb = xa.var(ddof=1), xb.var(ddof=1)
    se2 = va / len(xa) + vb / len(xb)
    t = (xa.mean() - xb.mean()) / np.sqrt(se2)
    dof = se2**2 / ((va / len(xa)) ** 2 / (len(xa) - 1)
                    + (vb / len(xb)) ** 2 / (len(xb) - 1))
    assert r.n_a == 400 and r.n_b == 250
    assert r.t_stat == pytest.approx(t, abs=1e-9)
    assert r.df == pytest.approx(dof, abs=1e-6)


def test_chi2_independence_matches_numpy(spark):
    import numpy as np
    import pytest

    from financial_big_data_spark.functions.stats import chi2_independence

    rng = np.random.default_rng(6)
    rows = [
        (["r0", "r1", "r2"][rng.integers(3)], ["c0", "c1"][rng.integers(2)])
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi2_independence(df, "r", "c").collect()[0]
    # hand-computed contingency chi2
    from collections import Counter

    obs = Counter(rows)
    rt = Counter(r for r, _ in rows)
    ct = Counter(c for _, c in rows)
    n = len(rows)
    chi2 = sum(
        (o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
        for (r, c), o in obs.items()
    )
    assert out.chi2 == pytest.approx(chi2, abs=1e-9)
    assert out.dof == (len(rt) - 1) * (len(ct) - 1)


def test_chi2_counts_structurally_empty_cells(spark):
    """A (row, col) combination that never occurs still contributes its
    (0-E)^2/E = E term — observed-cells-only summation underestimates
    the statistic (code-review r5b finding)."""
    import pytest

    from financial_big_data_spark.functions.stats import chi2_independence

    # (r2, c1) never occurs
    rows = (
        [("r0", "c0")] * 10 + [("r0", "c1")] * 10
        + [("r1", "c0")] * 10 + [("r1", "c1")] * 10
        + [("r2", "c0")] * 10
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi2_independence(df, "r", "c").collect()[0]
    # hand-computed over the FULL 3x2 grid (incl. the empty cell's E=4)
    from collections import Counter

    obs = Counter(rows)
    rt, ct, n = Counter(r for r, _ in rows), Counter(c for _, c in rows), len(rows)
    want = sum(
        (obs.get((r, c), 0) - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
        for r in rt for c in ct
    )
    assert out.chi2 == pytest.approx(want, abs=1e-9)
    assert out.dof == 2
    # and the full-grid value is strictly larger than observed-only
    obs_only = sum(
        (o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
        for (r, c), o in obs.items()
    )
    assert out.chi2 > obs_only


def test_welch_ttest_null_values_and_missing_group(spark):
    """n counts non-null values only (matching avg/var_samp); a missing
    or all-null group raises instead of returning zero rows
    (code-review r5b findings)."""
    import numpy as np
    import pytest

    from financial_big_data_spark.functions.stats import welch_ttest

    rows = (
        [("a", float(v)) for v in range(10)] + [("a", None)] * 5
        + [("b", float(v)) for v in range(5, 20)]
    )
    df = spark.createDataFrame(rows, "g string, value double")
    r = welch_ttest(df, "value", "g", "a", "b").collect()[0]
    assert r.n_a == 10 and r.n_b == 15  # nulls excluded from n
    xa, xb = np.arange(10.0), np.arange(5.0, 20.0)
    se2 = xa.var(ddof=1) / 10 + xb.var(ddof=1) / 15
    assert r.t_stat == pytest.approx((xa.mean() - xb.mean()) / np.sqrt(se2), abs=1e-9)
    with pytest.raises(ValueError, match="no non-null"):
        welch_ttest(df, "value", "g", "a", "purchse")  # typo'd label


def test_welch_ttest_p_value(spark):
    """p_value column: two-sided t p from the library-free incomplete
    beta, cross-checked against the closed form at df=2 and against the
    scalar special-function directly at the real df."""
    import pytest

    from financial_big_data_spark.functions.special import student_t_sf_two_sided
    from financial_big_data_spark.functions.stats import welch_ttest

    rows = [("a", float(v)) for v in range(20)] + [
        ("b", float(v) + 3.0) for v in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    r = welch_ttest(df, "value", "g", "a", "b").collect()[0]
    assert r.p_value == pytest.approx(
        student_t_sf_two_sided(r.t_stat, r.df), abs=1e-12
    )
    assert 0.0 < r.p_value < 1.0


def test_chi2_p_value_and_null_categories(spark):
    """(1) p_value = chi2 survival of the statistic; (2) null categories
    are dropped up front — with nulls left in, the null group's observed
    mass would vanish in the grid join while still inflating marginals
    (ADVICE r5 finding). Dropping null rows must give the same result as
    pre-filtering them manually."""
    import pytest

    from financial_big_data_spark.functions.special import chi2_sf
    from financial_big_data_spark.functions.stats import chi2_independence

    rows = (
        [("r0", "c0")] * 12 + [("r0", "c1")] * 8
        + [("r1", "c0")] * 6 + [("r1", "c1")] * 14
        + [(None, "c0")] * 9 + [("r1", None)] * 7 + [(None, None)] * 3
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi2_independence(df, "r", "c").collect()[0]
    clean = [t for t in rows if t[0] is not None and t[1] is not None]
    want = chi2_independence(
        spark.createDataFrame(clean, "r string, c string"), "r", "c"
    ).collect()[0]
    assert out.chi2 == pytest.approx(want.chi2, abs=1e-12)
    assert out.dof == want.dof == 1
    assert out.p_value == pytest.approx(chi2_sf(out.chi2, float(out.dof)), abs=1e-12)


def test_temperature_mix_null_source_excluded(spark):
    from financial_big_data_spark.operators.sampling import temperature_mix_weights

    rows = [(1, "web"), (2, "web"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = temperature_mix_weights(df, alpha=0.5)
    assert set(w) == {"web"}  # no TypeError, no None key
