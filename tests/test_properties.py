"""Property-based invariants (hypothesis) for islands/transitions and dedup.

Random label sequences and random documents must uphold the structural
invariants regardless of content (SURVEY §5.2 item 5): islands partition the
rows, transition counts equal runs-1 per series, probabilities sum to 1,
Jaccard is symmetric-bounded, minhash signature equality for equal sets.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from financial_big_data_spark.operators.transitions import (
    regime_runs,
    regime_transitions,
    transition_matrix,
)

LABELS = ["a", "b", "c"]


def _label_df(spark, seqs: list[list[str]]):
    rows = []
    for si, seq in enumerate(seqs):
        for i, lab in enumerate(seq):
            rows.append((f"s{si}", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), lab))
    return spark.createDataFrame(rows, "symbol string, ts timestamp_ntz, regime string")


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seqs=st.lists(
        st.lists(st.sampled_from(LABELS), min_size=1, max_size=40), min_size=1, max_size=4
    )
)
def test_islands_partition_rows_and_transitions_count(spark, seqs):
    df = _label_df(spark, seqs)
    runs = regime_runs(df).collect()
    # runs partition rows per series
    per_series_rows = {}
    for r in runs:
        per_series_rows[r.symbol] = per_series_rows.get(r.symbol, 0) + r.n_rows
    for si, seq in enumerate(seqs):
        assert per_series_rows[f"s{si}"] == len(seq)
    # expected run count = number of label changes + 1, computed directly
    for si, seq in enumerate(seqs):
        exp_runs = 1 + sum(1 for i in range(1, len(seq)) if seq[i] != seq[i - 1])
        got_runs = sum(1 for r in runs if r.symbol == f"s{si}")
        assert got_runs == exp_runs
    tr = regime_transitions(df).collect()
    for si, seq in enumerate(seqs):
        exp_tr = sum(1 for i in range(1, len(seq)) if seq[i] != seq[i - 1])
        assert sum(1 for t in tr if t.symbol == f"s{si}") == exp_tr
    # every transition's from != to and duration >= 0
    assert all(t.from_regime != t.to_regime and t.duration >= 0 for t in tr)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seqs=st.lists(
        st.lists(st.sampled_from(LABELS), min_size=2, max_size=30), min_size=1, max_size=3
    )
)
def test_transition_probabilities_property(spark, seqs):
    df = _label_df(spark, seqs)
    tr = regime_transitions(df)
    if tr.count() == 0:
        return
    m = transition_matrix(tr)
    sums = m.groupBy("from_regime").agg(F.sum("probability").alias("p")).collect()
    assert all(abs(r.p - 1.0) < 1e-9 for r in sums)
    assert all(r.n_transitions > 0 for r in m.collect())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from(["red", "blue", "fox", "dog", "run"]), min_size=3, max_size=12).map(
            " ".join
        ),
        min_size=2,
        max_size=6,
    )
)
def test_jaccard_bounds_and_identity(spark, texts):
    from financial_big_data_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    pairs = jaccard_pairs(docs, shingle_n=1).collect()
    for p in pairs:
        assert 0.0 < p.jaccard <= 1.0
        assert p.n_shared <= min(p.n_a, p.n_b)
    # identical texts ⇒ jaccard exactly 1
    dup_ids = [
        (i, j)
        for i in range(len(texts))
        for j in range(i + 1, len(texts))
        if set(texts[i].split()) == set(texts[j].split())
    ]
    got = {(p.id_a, p.id_b): p.jaccard for p in pairs}
    for i, j in dup_ids:
        assert got.get((i, j)) == 1.0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    gaps=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=40),
)
def test_session_window_equals_islands(spark, gaps):
    """For ANY event spacing, F.session_window(gap) must produce the same
    session partition as the cumulative-flag islands formulation."""
    t0 = dt.datetime(2024, 1, 1)
    ts, cur = [], t0
    for g in gaps:
        cur = cur + dt.timedelta(minutes=g)
        ts.append(cur)
    df = spark.createDataFrame([(1, t) for t in ts], "uid long, ts timestamp_ntz")

    sw = (
        df.groupBy("uid", F.session_window("ts", "2 hours"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("start"))
        .select("start", "n")
        .collect()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("uid").orderBy("ts")
    gap_us = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    new_s = F.when(gap_us.isNull() | (gap_us > 2 * 3600 * 1_000_000), 1).otherwise(0)
    isl = (
        df.withColumn("_s", F.sum(new_s).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("uid", "_s")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("start"))
        .select("start", "n")
        .collect()
    )
    assert sorted((r.start, r.n) for r in sw) == sorted((r.start, r.n) for r in isl)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=0, max_value=1000), min_size=1, max_size=200),
    parts=st.integers(min_value=1, max_value=6),
)
def test_global_running_sum_property(spark, vals, parts):
    from financial_big_data_spark.functions.stats import global_running_sum

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    )
    got = sorted(
        (r.k, r.cum) for r in global_running_sum(df, "k", "v", out="cum", partitions=parts).collect()
    )
    acc, expected = 0, []
    for i, v in enumerate(vals):
        acc += v
        expected.append((i, acc))
    assert got == expected


# ---- round-5 quality-operator invariants ---------------------------------

WORDS = ["aa", "bb", "cc", "dd", "spark", "x"]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_repetition_profile_invariants(spark, docs):
    from financial_big_data_spark.operators.quality import repetition_profile

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    for r in repetition_profile(df).collect():
        toks = docs[r["doc_id"]].split(" ")
        assert r["n_tokens"] == len(toks)
        assert 0.0 < r["distinct_ratio"] <= 1.0
        # top token share matches a python Counter
        from collections import Counter

        assert r["top_token_share"] == pytest.approx(
            max(Counter(toks).values()) / len(toks)
        )
        assert 0.0 <= r["dup_trigram_frac"] <= 1.0
        # every flag is implied by its metric
        assert r["flag_short"] == (1 if len(toks) < 20 else 0)
        assert r["pass_quality"] in (0, 1)
        if r["pass_quality"] == 1:
            assert (
                r["flag_repetitive"] == r["flag_word_len"] == r["flag_short"] == 0
            )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=1, max_size=20).map(" ".join),
        min_size=2,
        max_size=6,
    ),
    budget=st.integers(min_value=1, max_value=120),
)
def test_budget_selection_invariants(spark, docs, budget):
    from financial_big_data_spark.operators.quality import (
        select_to_budget,
        unigram_lm_scores,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = select_to_budget(unigram_lm_scores(df), budget=budget).collect()
    assert len(out) == len(docs)  # selection labels, never drops rows
    # cum_tokens is a permutation-consistent prefix sum: sorted by cum, the
    # diffs are exactly the row token counts, and selection is a prefix
    rows = sorted(out, key=lambda r: r["cum_tokens"])
    prev = 0
    for r in rows:
        assert r["cum_tokens"] - prev == r["n_tokens"]
        prev = r["cum_tokens"]
    sel = [r["selected"] for r in rows]
    assert sel == sorted(sel, reverse=True)  # 1s then 0s — a prefix
    for r in rows:
        assert r["selected"] == (1 if r["cum_tokens"] <= budget else 0)


# ---------------------------------------------------------------------------
# span_dedup: rolling-hash + exact-verify pipeline vs a brute-force oracle
# ---------------------------------------------------------------------------


def _py_span_dedup(docs: dict[int, str], k: int):
    """Reference implementation of Lee-et-al keep-first span dedup: every
    k-token window occurring >1x corpus-wide keeps its min-(id, idx)
    occurrence; every other occurrence's positions are cut."""
    import re as _re

    toks = {i: _re.sub(r"\s+", " ", t.lower()).split(" ") for i, t in docs.items()}
    occ: dict[str, list[tuple[int, int]]] = {}
    for i in sorted(toks):
        ts = toks[i]
        for idx in range(len(ts) - k + 1):
            occ.setdefault(" ".join(ts[idx : idx + k]), []).append((i, idx))
    covered: dict[int, set] = {i: set() for i in toks}
    for positions in occ.values():
        if len(positions) >= 2:
            for (i, idx) in sorted(positions)[1:]:
                covered[i].update(range(idx, idx + k))
    out = {}
    for i, ts in toks.items():
        kept = [t for j, t in enumerate(ts) if j not in covered[i]]
        out[i] = (" ".join(kept), len(kept), len(ts) - len(kept))
    return out


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=4),
)
@pytest.mark.parametrize("method", ["lead", "rolling"])
def test_span_dedup_matches_bruteforce_oracle(spark, method, docs, k):
    """The tiny alphabet forces heavy span collisions, overlapping
    duplicate windows, and within-doc repeats — every code path of BOTH
    span-hash formulations (auto would route small k to lead only)."""
    from financial_big_data_spark.operators.dedup import span_dedup

    doc_map = dict(enumerate(docs))
    df = spark.createDataFrame(list(doc_map.items()), "doc_id bigint, text string")
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in span_dedup(df, span_tokens=k, method=method).collect()
    }
    assert got == _py_span_dedup(doc_map, k)


def test_modpow_digits_exact_over_bigint_range(spark):
    """The digit-table modpow must agree with python pow() across the
    full bigint index range — a wrapped power would make identical
    sequences hash differently (silent recall loss)."""
    from financial_big_data_spark.operators.dedup import _RH_PARAMS, _modpow_digits

    vals = [0, 1, 63, 64, 4095, 2**20 + 7, 2**35 + 123, 2**47 + 9, 2**62 + 5]
    df = spark.createDataFrame([(v,) for v in vals], "idx bigint")
    for p, b, _seed in _RH_PARAMS:
        for invert in (False, True):
            base = pow(b, p - 2, p) if invert else b
            got = [
                r.m
                for r in df.select(
                    _modpow_digits(F.col("idx"), b, p, invert=invert).alias("m")
                ).collect()
            ]
            assert got == [pow(base, v, p) for v in vals]
