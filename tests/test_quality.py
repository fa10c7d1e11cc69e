"""Pins for operators/quality.py and dedup.dup_clusters semantics.

The DuckDB oracle hash-checks these against real test data; here we pin
the hand-computable semantics (flag logic, tie-breaks, smoothing, cluster
transitivity) on tiny planted corpora.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.operators.dedup import dup_clusters
from financial_big_data_spark.operators.quality import (
    repetition_profile,
    tfidf_topk,
    unigram_lm_scores,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_profile_flags(spark):
    # 25 distinct words: no repetition signal at all
    clean = " ".join(f"word{i:02d}" for i in range(25))
    spammy = ("buy now " * 30).strip()  # top-token share 0.5, dup trigrams galore
    short = "tiny doc"
    cyclic = ("alpha beta gamma delta epsilon " * 5).strip()  # dup TRIGRAMS only
    out = {
        r["doc_id"]: r
        for r in repetition_profile(_docs(spark, [clean, spammy, short, cyclic])).collect()
    }
    assert out[0]["flag_repetitive"] == 0 and out[0]["pass_quality"] == 1
    assert out[0]["dup_trigram_frac"] == 0.0 and out[0]["top_token_share"] == pytest.approx(1 / 25)
    assert out[1]["flag_repetitive"] == 1 and out[1]["pass_quality"] == 0
    assert out[1]["top_token_share"] == pytest.approx(0.5)
    assert out[2]["flag_short"] == 1 and out[2]["n_tokens"] == 2
    # < 3 tokens: trigram guard yields empty array -> dup fraction 0, not null
    assert out[2]["dup_trigram_frac"] == 0.0
    # 25 tokens of 5 words cycling: every trigram after the first cycle
    # repeats -> flagged repetitive via the trigram channel alone
    # (top share is exactly 0.2, NOT > threshold)
    assert out[3]["top_token_share"] == pytest.approx(0.2)
    assert out[3]["dup_trigram_frac"] > 0.5 and out[3]["flag_repetitive"] == 1


def test_repetition_profile_is_shuffle_free(spark):
    # the ONLY exchange is the round-robin fan-out of an under-partitioned
    # input across cores (dedup.fan_out); no metric needs a key shuffle
    plan = repetition_profile(
        _docs(spark, ["a b c d e f g"]).coalesce(1)
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "roundrobin" in plan.lower()
    assert "hashpartitioning" not in plan.lower()


def test_tfidf_topk_scores_and_tiebreak(spark):
    # doc 0: 'common' (tf=2, df=3) outweighs 'rare' (tf=1, df=1):
    # 2*(ln(4/4)+1)=2.0 > 1*(ln(4/2)+1)=1.693
    docs = _docs(
        spark,
        ["rare common common", "zeta eta common", "common filler other"],
    )
    out = tfidf_topk(docs, k=3).collect()
    d0 = {r["rank"]: r for r in out if r["doc_id"] == 0}
    assert d0[1]["term"] == "common" and d0[1]["score"] == pytest.approx(2.0)
    assert d0[2]["term"] == "rare"
    assert d0[2]["score"] == pytest.approx(math.log(4 / 2) + 1)
    # doc 1: 'zeta' and 'eta' both (tf=1, df=1) -> identical scores; the
    # tie breaks alphabetically ('eta' first), not by appearance order
    d1 = {r["rank"]: r for r in out if r["doc_id"] == 1}
    assert (d1[1]["term"], d1[2]["term"]) == ("eta", "zeta")
    assert d1[1]["score"] == d1[2]["score"]


def test_unigram_lm_hand_computed(spark):
    docs = _docs(spark, ["a a b", "b c"])
    out = {r["doc_id"]: r for r in unigram_lm_scores(docs).collect()}
    # corpus: a=2, b=2, c=1; T=5, V=3 -> p(a)=3/8, p(b)=3/8, p(c)=2/8
    pa = pb = 3 / 8
    pc = 2 / 8
    assert out[0]["avg_logprob"] == pytest.approx(
        (2 * math.log(pa) + math.log(pb)) / 3
    )
    assert out[1]["avg_logprob"] == pytest.approx((math.log(pb) + math.log(pc)) / 2)
    assert out[0]["n_tokens"] == 3


def test_bigram_lm_hand_computed(spark):
    from financial_big_data_spark.operators.quality import bigram_lm_scores

    # train on doc 0 only; score both. doc 0: "a b a b" -> bigrams
    # (a,b)x2, (b,a)x1; unigrams a=2, b=2, T=4, V=2.
    docs = _docs(spark, ["a b a b", "a c b"])
    train = docs.where(F.col("doc_id") == 0)
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs, train=train).collect()}
    # doc 0: p(b|a)=2/2=1, p(a|b)=1/2 — all seen
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_logscore"] == pytest.approx(
        (math.log(1.0) + math.log(0.5) + math.log(1.0)) / 3
    )
    # doc 1: (a,c) unseen, c unseen too -> add-one floor 1/(T+V)=1/6;
    # (c,b) unseen, b seen -> backoff 0.4 * 2/4 = 0.2
    assert out[1]["n_bigrams"] == 2
    assert out[1]["avg_logscore"] == pytest.approx(
        (math.log(1 / 6) + math.log(0.2)) / 2
    )


def test_bigram_lm_short_docs_excluded(spark):
    from financial_big_data_spark.operators.quality import bigram_lm_scores

    # a 1-token document has no adjacent pairs: it contributes nothing to
    # training and produces NO output row (documented contract)
    docs = _docs(spark, ["solo", "a b"])
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert set(out) == {1}
    assert out[1]["n_bigrams"] == 1


def test_dup_clusters_transitive_chain(spark):
    # A~B and B~C by heavy shingle overlap, but A and C differ enough that
    # only transitivity links them; D is an unrelated singleton.
    base = "the quick brown fox jumps over the lazy dog again and again today"
    a = base + " alpha alpha alpha"
    b = base + " alpha beta"
    c = base + " beta gamma gamma"
    d = "completely different text about spark query engines and shuffles here"
    docs = _docs(spark, [a, b, c, d])
    out = dup_clusters(docs, min_jaccard=0.3).collect()
    rows = {r["doc_id"]: r for r in out}
    # D never appears (singleton clusters omitted)
    assert 3 not in rows and set(rows) == {0, 1, 2}
    assert {r["cluster_id"] for r in out} == {0}
    assert all(r["cluster_size"] == 3 for r in out)
    assert [r["doc_id"] for r in out if r["is_canonical"] == 1] == [0]


def test_pair_clusters_routes_agree(spark):
    """Driver union-find (small graphs) and distributed min-label flooding
    (forced via driver_max_pairs=0) must produce identical clusters —
    including a transitive chain and a disjoint 2-node component."""
    from financial_big_data_spark.operators.dedup import pair_clusters

    pairs = spark.createDataFrame(
        [(5, 2), (2, 9), (9, 7), (40, 41)], "id_a long, id_b long"
    )

    def rows(df):
        return {
            (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_canonical"])
            for r in df.collect()
        }

    driver = rows(pair_clusters(pairs, "doc_id"))
    distributed = rows(pair_clusters(pairs, "doc_id", driver_max_pairs=0))
    assert driver == distributed
    assert driver == {
        (2, 2, 4, 1),
        (5, 2, 4, 0),
        (7, 2, 4, 0),
        (9, 2, 4, 0),
        (40, 40, 2, 1),
        (41, 40, 2, 0),
    }


def test_incremental_dedup_batch_vs_corpus(spark):
    from financial_big_data_spark.operators.dedup import incremental_dedup

    existing = _docs(spark, ["seen before", "also seen"])
    new = spark.createDataFrame(
        [
            (10, "seen before"),      # dup of corpus -> dropped
            (11, "brand new text"),   # survives
            (12, "brand new text"),   # within-batch dup of 11 -> collapsed
            (13, "Seen   BEFORE"),    # normalization catches case/whitespace
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in incremental_dedup(new, existing).collect()}
    assert set(out) == {11}
    assert out[11]["batch_copies"] == 2


def test_semantic_dup_clusters_planted_pair(spark):
    from financial_big_data_spark.operators.similarity import semantic_dup_clusters

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal singleton
        (3, [1.0, 0.01, 0.0]),    # near-dup of 0 and 1 -> one 3-cluster
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dup_clusters(emb, threshold=0.95).collect()
    got = {r["vec_id"]: r for r in out}
    assert set(got) == {0, 1, 3}
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == 3 for r in out)
    assert [v for v, r in got.items() if r["is_canonical"] == 1] == [0]


def test_select_to_budget_greedy_prefix(spark):
    from financial_big_data_spark.operators.quality import select_to_budget

    rows = [  # (doc_id, score, n_tokens)
        (1, -2.0, 50),   # best
        (2, -3.0, 60),   # second
        (3, -3.0, 30),   # tied score -> doc_id order puts it after 2
        (4, -9.0, 100),  # worst, over budget
    ]
    df = spark.createDataFrame(rows, "doc_id long, avg_logprob double, n_tokens long")
    out = {r["doc_id"]: r for r in select_to_budget(df, budget=140).collect()}
    assert [out[i]["cum_tokens"] for i in (1, 2, 3, 4)] == [50, 110, 140, 240]
    assert [out[i]["selected"] for i in (1, 2, 3, 4)] == [1, 1, 1, 0]


def test_select_to_budget_rounds_order_noise(spark):
    from financial_big_data_spark.operators.quality import select_to_budget

    # scores differing below 6dp are a tie -> doc_id decides, so the
    # frontier cannot depend on float summation noise
    rows = [(2, -1.0000000001, 10), (1, -1.0, 10)]
    df = spark.createDataFrame(rows, "doc_id long, avg_logprob double, n_tokens long")
    out = {r["doc_id"]: r["cum_tokens"] for r in select_to_budget(df, budget=10).collect()}
    assert out == {1: 10, 2: 20}


def test_source_balanced_selection_quotas(spark):
    from financial_big_data_spark.operators.quality import source_balanced_selection

    rows = []
    for i in range(5):
        rows.append((i, "a", -float(i)))        # a: ids 0..4, best first
        rows.append((10 + i, "b", -float(i)))   # b: ids 10..14
    df = spark.createDataFrame(rows, "doc_id long, source string, avg_logprob double")
    out = source_balanced_selection(df, quotas={"a": 2}).collect()
    kept = sorted(r["doc_id"] for r in out if r["kept"] == 1)
    assert kept == [0, 1]  # top-2 of source a by score; b has no quota
    ranks = {r["doc_id"]: r["src_rank"] for r in out}
    assert ranks[0] == 1 and ranks[4] == 5 and ranks[10] == 1
