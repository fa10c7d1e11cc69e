"""Corpus-curation DAG: stage semantics + running-sum helper."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.functions.stats import global_running_sum
from financial_big_data_spark.plans import curate_corpus


@pytest.fixture(scope="module")
def corpus_df(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away today "
        "while the sun shines on the quiet green field near the old river"
    )
    rows = []
    for i in range(20):
        rows.append((i, base + f" variant token {i}"))          # near-dups of each other? no: one-token diff on long text => high jaccard
    rows.append((100, base))                                     # near-dup of the family
    rows.append((101, base))                                     # exact dup of 100
    rows.append((102, "tiny"))                                   # fails min_tokens
    rows.append((103, "el la de que y " * 20))                   # spanish, stopword-heavy? (es markers)
    rows.append((104, "word " * 30 + ". , ; ! ? . , ; ! ? " * 30))  # punct-heavy
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_global_running_sum_matches_serial(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("v")
    )
    out = global_running_sum(df, "k", "v", out="cum", partitions=8)
    rows = sorted((r.k, r.cum) for r in out.collect())
    acc = 0
    for k, cum in rows:
        acc += k % 7 + 1
        assert cum == acc
    # plan sanity: the cumsum window is keyed on the frozen-boundary bucket
    # id, not a global ORDER BY (AQE may still coalesce the tiny test frame
    # to one partition afterwards, so assert the window spec, not partition
    # count)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_pid" in plan


def test_global_running_sum_layout_invariant(spark):
    # The bucket id must be a function of the KEY, not the physical layout:
    # the same frame under different partitionings — and a re-execution of
    # the same returned frame — must produce identical cumulative sums.
    # (Regression: spark_partition_id() after repartitionByRange could
    # disagree between the offsets job and a later execution.)
    # 4999 is prime and coprime to 37, so k is a permutation of 0..4998 —
    # unique keys (tied keys have inherently ambiguous cumsum order)
    base = spark.range(0, 4999).select(
        (F.col("id") * 37 % 4999).alias("k"), (F.col("id") % 11 + 1).alias("v")
    )
    expected = None
    for layout in (base.repartition(1), base.repartition(16, "v"), base.coalesce(4)):
        out = global_running_sum(layout, "k", "v", out="cum", partitions=8)
        first = sorted((r.k, r.cum) for r in out.collect())
        again = sorted((r.k, r.cum) for r in out.collect())  # re-execute same frame
        assert first == again
        if expected is None:
            expected = first
        assert first == expected


def test_global_running_sum_string_key(spark):
    # Non-numeric ordering key exercises the hash-sample boundary path.
    df = spark.range(0, 2000).select(
        F.format_string("doc-%06d", F.col("id")).alias("k"),
        (F.col("id") % 5 + 1).alias("v"),
    )
    out = global_running_sum(df, "k", "v", out="cum", partitions=8)
    rows = sorted((r.k, r.cum) for r in out.collect())
    acc = 0
    for i, (k, cum) in enumerate(rows):
        acc += i % 5 + 1
        assert cum == acc


def test_frozen_range_bounds_empty_input(spark):
    """An empty numeric or timestamp key gives no boundaries (one
    unbounded bucket): approxQuantile returns [] on it, no exception."""
    from financial_big_data_spark.functions.stats import _frozen_range_bounds

    empty = spark.createDataFrame([], "k long, ts timestamp")
    assert _frozen_range_bounds(empty, "k", 8) == []
    assert _frozen_range_bounds(empty, "ts", 8) == []


def test_curate_corpus_stages(spark, corpus_df):
    res = curate_corpus(
        corpus_df,
        min_tokens=5,
        max_punct_ratio=0.3,
        languages=("en",),
        near_dup_jaccard=0.5,
    )
    audit = res.audit.collect()[0]
    assert audit.n_input == 25
    # quality gates drop the tiny doc, the punct-heavy doc and the es doc
    assert audit.n_quality <= 22
    # exact dedup collapses 100/101 to one representative
    assert audit.n_exact_dedup == audit.n_quality - 1
    # near-dup pass removes most of the variant family (high pairwise jaccard)
    assert audit.n_near_dedup < audit.n_exact_dedup
    survivors = {r.doc_id for r in res.corpus.collect()}
    assert 102 not in survivors and 103 not in survivors and 104 not in survivors
    assert 101 not in survivors  # exact-dup loser (100 is the smaller id... of (100,101))
    assert len(survivors) == audit.n_final


def test_curate_corpus_token_budget(spark, corpus_df):
    full = curate_corpus(corpus_df, near_dup_jaccard=0.99)
    total = full.audit.collect()[0].total_tokens
    budget = int(total // 2)
    cut = curate_corpus(corpus_df, near_dup_jaccard=0.99, token_budget=budget)
    a = cut.audit.collect()[0]
    assert a.total_tokens <= budget
    assert a.n_final < full.audit.collect()[0].n_final
    # deterministic prefix: surviving ids are the smallest ids
    ids_cut = sorted(r.doc_id for r in cut.corpus.collect())
    ids_full = sorted(r.doc_id for r in full.corpus.collect())
    assert ids_cut == ids_full[: len(ids_cut)]


def test_curate_corpus_decontamination(spark, corpus_df):
    """A benchmark holding a surviving doc verbatim must remove exactly that
    doc (the decontamination stage), with the audit recording the step."""
    base = curate_corpus(corpus_df, near_dup_jaccard=0.99)
    survivors = {r.doc_id: r.text for r in base.corpus.collect()}
    victim = max(survivors)  # any surviving doc
    bench = spark.createDataFrame([(survivors[victim],)], "text string")
    decon = curate_corpus(
        corpus_df,
        near_dup_jaccard=0.99,
        benchmark=bench,
        contamination_threshold=0.9,
        contamination_ngram=3,
    )
    got = {r.doc_id for r in decon.corpus.collect()}
    assert victim not in got
    assert got == set(survivors) - {victim}
    a = decon.audit.collect()[0]
    assert a.n_decontaminated == a.n_near_dedup - 1
    assert a.n_final == a.n_decontaminated


def test_curate_corpus_model_quality_stage(spark):
    """With quality_seed, the GPT-3-style classifier stage drops
    fluent-but-off-distribution junk the heuristic gates pass; without
    it, the same docs survive (stage strictly optional)."""
    prose = [
        "the committee published a detailed annual report on regional trade",
        "researchers measured the effect of interest rates on capital flows",
        "the council approved a framework for sustainable urban development",
        "analysts reviewed quarterly earnings across the manufacturing sector",
        "the study examined long term trends in labor market participation",
        "historians documented the economic reforms of the early republic",
        "the agency released guidance on municipal infrastructure financing",
        "economists compared productivity growth across the member states",
    ]
    # distinct prose per doc — near-dup removal must not collapse seeds
    curated = [(i, t + " moreover the findings were considered robust")
               for i, t in enumerate(prose)]
    # well-formed junk: right length, low punctuation, no stopword excess
    junk = [
        (50 + i, ("wak jxv bnm plo qet uio zzz vvv mmm ddd " * 4) + f"tail {i}")
        for i in range(4)
    ]
    docs = spark.createDataFrame(curated + junk, "doc_id long, text string")
    seed = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")

    from financial_big_data_spark.cache import release_tracked

    without = curate_corpus(docs, min_tokens=3, near_dup_jaccard=0.9)
    ids_without = {r.doc_id for r in without.corpus.select("doc_id").collect()}
    assert {50, 51, 52, 53} <= ids_without  # heuristics can't see junk vocab

    withm = curate_corpus(
        docs, min_tokens=3, near_dup_jaccard=0.9,
        quality_seed=seed, model_score_min=0.5,
    )
    audit = withm.audit.collect()[0]
    ids_with = {r.doc_id for r in withm.corpus.select("doc_id").collect()}
    assert ids_with & {50, 51, 52, 53} == set()   # classifier removes junk
    assert set(range(8)) <= ids_with              # seeds survive
    assert audit.n_model_quality == audit.n_quality - 4
    release_tracked()


def _range_corpus(spark, parts):
    # the partition count comes from the range itself, so the input
    # carries no exchange of its own
    return spark.range(0, 64, 1, parts).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog number "),
            F.col("id").cast("string"),
        ).alias("text"),
    )


def _round_robin(df):
    # the executed-plan string includes the plans of cached stages
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("parts,fans_out", [(64, False), (1, True)])
def test_fan_out_only_when_under_partitioned(spark, parts, fans_out):
    from financial_big_data_spark.cache import release_tracked
    from financial_big_data_spark.operators.dedup import shingle_table

    docs = _range_corpus(spark, parts)
    assert _round_robin(shingle_table(docs)) is fans_out
    assert _round_robin(curate_corpus(docs).corpus) is fans_out
    release_tracked()
