"""Pandas-parity stats + dedup/similarity operator unit tests."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from financial_big_data_spark.functions.stats import kurtosis_pandas, skew_pandas
from financial_big_data_spark.operators import dedup as D
from financial_big_data_spark.operators import similarity as S


def test_skew_kurtosis_pandas_parity(spark):
    rng = np.random.default_rng(7)
    xs = rng.normal(3, 2, 501).tolist()
    pdf = pd.Series(xs)
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    row = df.agg(skew_pandas("x").alias("s"), kurtosis_pandas("x").alias("k")).collect()[0]
    assert abs(row.s - pdf.skew()) < 1e-9
    assert abs(row.k - pdf.kurtosis()) < 1e-9


def test_skew_kurtosis_small_n_null(spark):
    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    row = df.agg(skew_pandas("x").alias("s"), kurtosis_pandas("x").alias("k")).collect()[0]
    assert row.s is None and row.k is None


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different words entirely here now table chair"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "tiny"),  # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = D.exact_dedup_keys(_docs(spark)).collect()
    by_n = sorted([r.n_copies for r in out], reverse=True)
    assert by_n[0] == 2  # docs 0 and 3
    keep = {r.keep_id for r in out if r.n_copies == 2}
    assert keep == {0}


def test_word_shingles_short_doc(spark):
    df = _docs(spark).select("doc_id", D.word_shingles("text", 3).alias("sh"))
    sizes = {r.doc_id: len(r.sh) for r in df.collect()}
    assert sizes[4] == 0  # 1 token < 3 → empty, not garbage
    assert sizes[0] == 7  # 9 tokens → 7 trigrams


def test_minhash_identical_docs_equal_signatures(spark):
    sig = D.minhash_signatures(_docs(spark), num_hashes=4, shingle_n=2)
    rows = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert rows[0] == rows[3]
    assert rows[0] != rows[2]
    assert 4 not in rows  # shingle-less doc dropped


def test_lsh_finds_exact_dup_pair(spark):
    sig = D.minhash_signatures(_docs(spark), num_hashes=4, shingle_n=2)
    pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sig, num_hashes=4, bands=2).collect()}
    assert (0, 3) in pairs


def test_near_dup_lsh_end_to_end(spark):
    out = D.near_dup_lsh(_docs(spark), num_hashes=8, bands=4, shingle_n=2, min_jaccard=0.5)
    rows = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert rows.get((0, 3)) == 1.0


def test_near_dup_lsh_pruned_rescore_parity(spark):
    """The candidate-pruned rescore route (rescore_selectivity=True,
    optimization r13) returns EXACTLY the unpruned result — the semi-join
    only drops docs the candidate join could never consult — on a sparse
    corpus (one dup pair among many unrelated docs) where the prune
    actually removes most of the rescore input."""
    rows = [(i, f"unique text number {i} alpha beta gamma delta {i}") for i in range(40)]
    rows.append((100, rows[7][1]))  # exact dup of doc 7
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(num_hashes=8, bands=4, shingle_n=2, min_jaccard=0.5)
    base = {
        tuple(r)
        for r in D.near_dup_lsh(docs, rescore_selectivity=False, **kw).collect()
    }
    pruned = {
        tuple(r)
        for r in D.near_dup_lsh(docs, rescore_selectivity=True, **kw).collect()
    }
    assert pruned == base
    assert any(a == 7 and b == 100 for a, b, *_ in base)


def test_simhash_similar_docs_close(spark):
    out = {r.doc_id: r.simhash for r in D.simhash(_docs(spark), bits=16).collect()}
    assert out[0] == out[3]  # identical docs, identical fingerprint

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(out[0], out[1]) < hamming(out[0], out[2])


def test_cosine_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = S.brute_force_topk(emb, q, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert abs(out[0].cosine_sim - (0.9 / math.sqrt(0.82))) < 1e-6


def test_lsh_topk_recalls_nearest(spark):
    rng = np.random.default_rng(0)
    base = rng.normal(0, 1, (50, 8))
    base[7] = base[0] + rng.normal(0, 0.01, 8)  # plant a near neighbor of 0
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    planes = rng.normal(0, 1, (4, 8)).tolist()
    out = S.lsh_topk(emb, q, planes, k=5)
    ids = [r.vec_id for r in out.orderBy("rank").collect()]
    assert 7 in ids  # a ~identical vector lands in the same bucket


def test_redact_pii(spark):
    from financial_big_data_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@x.com or call 555-123-4567 from 10.0.0.1"),
            (2, "clean text no identifiers"),
            (3, "ssn 123-45-6789 twice 123-45-6789"),
            (4, "intl +44 202 555 0199 ok"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert "<EMAIL>" in out[1].text_redacted
    assert "<PHONE>" in out[1].text_redacted
    assert "<IPV4>" in out[1].text_redacted
    assert out[1].n_redactions == 3
    assert out[2].text_redacted == out[2].text and out[2].n_redactions == 0
    assert out[3].text_redacted.count("<SSN>") == 2 and out[3].n_redactions == 2
    assert "<PHONE>" in out[4].text_redacted


def test_jaccard_pairs_candidate_pushdown_equivalence(spark):
    """The pairs-restricted path must score exactly like the full path
    restricted to those pairs (the semi-join is pushed below the shingle
    self-join, never changing n_a/n_b/n_shared)."""
    from financial_big_data_spark.operators.dedup import jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "alpha beta gamma theta iota kappa"),
        (4, "completely different words entirely here now"),
        (5, "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r.id_a, r.id_b): (r.n_a, r.n_b, r.n_shared, round(r.jaccard, 9))
        for r in jaccard_pairs(docs, shingle_n=2).collect()
    }
    cand = spark.createDataFrame([(1, 2), (1, 5)], "id_a long, id_b long")
    restricted = {
        (r.id_a, r.id_b): (r.n_a, r.n_b, r.n_shared, round(r.jaccard, 9))
        for r in jaccard_pairs(docs, pairs=cand, shingle_n=2).collect()
    }
    assert set(restricted) == {(1, 2), (1, 5)}
    for k, v in restricted.items():
        assert full[k] == v


def test_stratified_systematic_sample(spark):
    from financial_big_data_spark.operators.sampling import (
        stratified_random_sample,
        stratified_systematic_sample,
    )

    rows = [(i, "a" if i % 3 else "b", i * 10) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, stratum string, x long")
    n_a = sum(1 for r in rows if r[1] == "a")  # 66
    n_b = 100 - n_a  # 34

    out = stratified_systematic_sample(df, "stratum", 0.25, order="id")
    got = out.groupBy("stratum").count().collect()
    counts = {r.stratum: r["count"] for r in got}
    import math

    assert counts == {"a": math.ceil(n_a * 0.25), "b": math.ceil(n_b * 0.25)}
    # deterministic: two runs byte-identical; prefix property in id order
    ids1 = sorted(r.id for r in out.collect())
    ids2 = sorted(r.id for r in stratified_systematic_sample(df, "stratum", 0.25, order="id").collect())
    assert ids1 == ids2
    a_ids = [r[0] for r in rows if r[1] == "a"]
    assert sorted(r.id for r in out.where("stratum='a'").collect()) == a_ids[: math.ceil(n_a * 0.25)]

    # per-stratum dict: unlisted strata dropped
    out2 = stratified_systematic_sample(df, "stratum", {"b": 0.5}, order="id")
    assert out2.where("stratum='a'").count() == 0
    assert out2.count() == math.ceil(n_b * 0.5)

    # seeded Bernoulli path: deterministic under the same seed
    r1 = {r.id for r in stratified_random_sample(df, "stratum", {"a": 0.3, "b": 0.3}, seed=7).collect()}
    r2 = {r.id for r in stratified_random_sample(df, "stratum", {"a": 0.3, "b": 0.3}, seed=7).collect()}
    assert r1 == r2 and 0 < len(r1) < 100


def test_span_dedup_cuts_repeated_blocks_keeps_first(spark):
    """Duplicated 6-token block: the first (doc, position) occurrence
    survives, every other occurrence is cut — including a doc that IS
    the block (left empty), while unique text passes untouched."""
    from financial_big_data_spark.operators.dedup import span_dedup

    boiler = " ".join(f"b{i}" for i in range(6))
    uniq = lambda d, n: " ".join(f"d{d}w{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, uniq(1, 4) + " " + boiler + " " + uniq(11, 4)),
            (2, uniq(2, 5) + " " + boiler + " " + uniq(22, 3)),
            (3, uniq(3, 8)),
            (4, boiler),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, span_tokens=6).collect()}
    assert out[1].n_removed == 0 and boiler in out[1].text  # first keeps it
    assert out[2].n_removed == 6 and "b0" not in out[2].text
    assert out[2].text == uniq(2, 5) + " " + uniq(22, 3)  # order preserved
    assert out[3].n_removed == 0 and out[3].text == uniq(3, 8)
    assert out[4].n_removed == 6 and out[4].text == "" and out[4].n_tokens == 0


def test_span_dedup_overlapping_long_block_removed_once(spark):
    """A 10-token repeated block under span=6 marks overlapping windows;
    the union of covered positions removes the block exactly, not more."""
    from financial_big_data_spark.operators.dedup import span_dedup

    block = " ".join(f"x{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, block + " tail1 tail2"), (2, "head1 head2 " + block)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, span_tokens=6).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 10
    assert out[2].text == "head1 head2"


def test_span_dedup_within_doc_repeat(spark):
    """The SAME doc repeating a span keeps only the first copy."""
    from financial_big_data_spark.operators.dedup import span_dedup

    blk = " ".join(f"r{i}" for i in range(5))
    docs = spark.createDataFrame(
        [(7, blk + " mid " + blk)], "doc_id long, text string"
    )
    r = span_dedup(docs, span_tokens=5).collect()[0]
    assert r.n_removed == 5
    assert r.text == blk + " mid"


def test_span_dedup_short_docs_untouched(spark):
    from financial_big_data_spark.operators.dedup import span_dedup
    import pytest as _pt

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in span_dedup(docs, span_tokens=10).collect()}
    assert out[1].n_removed == 0 and out[2].n_removed == 0  # < span length
    with _pt.raises(ValueError):
        span_dedup(docs, span_tokens=1)


def test_span_dedup_null_text_and_duplicate_ids(spark):
    """NULL-text docs emit NO output row (posexplode of NULL produces no
    tokens — a bogus (0, -1) row would be worse than absence); duplicate
    ids aggregate to ONE row whose totals span all their rows, matching
    the token-table semantics."""
    from financial_big_data_spark.operators.dedup import span_dedup

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c d e f"), (2, "g h i j k l")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in span_dedup(docs, span_tokens=4).collect()}
    assert 1 not in rows
    assert set(rows) == {2}
    assert rows[2].n_tokens + rows[2].n_removed == 12


def test_stratified_split_exact_proportions_and_determinism(spark):
    """Every stratum is cut at exactly floor(c·n); re-runs are
    byte-identical; a different salt reshuffles membership but keeps the
    exact counts; bucketed ranks equal the plain per-stratum window rank."""
    from financial_big_data_spark.operators.sampling import stratified_split

    rows = [(i, f"s{i % 3}") for i in range(301)]  # strata of 101, 100, 100
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_split(df, strata="source", id_col="doc_id").collect()
    assert len(out) == 301
    by = {}
    for r in out:
        by.setdefault(r.source, []).append(r.split)
    import math

    for s, splits in by.items():
        n = len(splits)
        c = {lab: splits.count(lab) for lab in ("train", "val", "test")}
        assert c["train"] == math.floor(n * 0.8)
        assert c["val"] == math.floor(n * 0.9) - math.floor(n * 0.8)
        assert c["test"] == n - math.floor(n * 0.9)

    again = stratified_split(df, strata="source", id_col="doc_id").collect()
    assert sorted((r.doc_id, r.split) for r in out) == sorted(
        (r.doc_id, r.split) for r in again
    )
    resalted = stratified_split(df, strata="source", id_col="doc_id", salt="v2").collect()
    assert sorted((r.doc_id, r.split) for r in out) != sorted(
        (r.doc_id, r.split) for r in resalted
    )
    # counts are salt-invariant
    assert sorted(r.split for r in out) == sorted(r.split for r in resalted)

    # rank parity with the naive single-window formulation
    import hashlib

    want = {}
    for s in ("s0", "s1", "s2"):
        members = sorted(
            (hashlib.md5(f"v1#{i}".encode()).hexdigest(), i)
            for i, src in rows
            if src == s
        )
        n = len(members)
        for rank, (_, i) in enumerate(members, 1):
            if rank <= math.floor(n * 0.8):
                want[i] = "train"
            elif rank <= math.floor(n * 0.9):
                want[i] = "val"
            else:
                want[i] = "test"
    assert {r.doc_id: r.split for r in out} == want


def test_stratified_split_validates_cuts(spark):
    from financial_big_data_spark.operators.sampling import stratified_split

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stratified_split(df, "source", "doc_id", cuts=(0.9, 0.8))
    with _pytest.raises(ValueError):
        stratified_split(df, "source", "doc_id", cuts=(0.5,), labels=("a", "b", "c"))


def test_stratified_split_rejects_null_strata(spark):
    from financial_big_data_spark.operators.sampling import stratified_split

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a")], "doc_id long, source string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="NULL values in strata"):
        stratified_split(df, strata="source", id_col="doc_id").collect()


# ---- round 11: bounded band-bucket expansion (VERDICT r10 #1/#3) ----


def _components(pairs):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_lsh_hot_bucket_bounded_and_connected(spark):
    """10k near-identical docs land in ONE (band,key) bucket per band:
    uncapped would emit ~50M pairs; capped emits ≤ cap²/2 + linear star
    overflow, and every doc stays connected through the representative."""
    n, cap = 10_000, 32
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)],
        "doc_id long, text string",
    )
    sig = D.minhash_signatures(docs, num_hashes=4, shingle_n=2)
    pairs = [
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(
            sig, num_hashes=4, bands=2, bucket_cap=cap
        ).collect()
    ]
    assert len(pairs) <= cap * (cap - 1) // 2 + (n - cap)
    comp = _components(pairs)
    assert len(comp) == n  # every doc participates
    assert len(set(comp.values())) == 1  # ...in a single component


def test_lsh_cap_exact_below_cap(spark):
    sig = D.minhash_signatures(_docs(spark), num_hashes=4, shingle_n=2)
    capped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sig, num_hashes=4, bands=2).collect()
    }
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(
            sig, num_hashes=4, bands=2, bucket_cap=None
        ).collect()
    }
    assert capped == uncapped


def test_simhash_hot_bucket_bounded_and_connected(spark):
    n, cap = 5_000, 16
    docs = spark.createDataFrame(
        [(i, "omega psi chi phi upsilon tau") for i in range(n)],
        "doc_id long, text string",
    )
    out = D.simhash_near_dups(
        docs, bits=48, n_bands=4, max_hamming=3, bucket_cap=cap
    ).collect()
    assert all(r.hamming == 0 for r in out)
    assert len(out) <= cap * (cap - 1) // 2 + (n - cap)
    comp = _components([(r.id_a, r.id_b) for r in out])
    assert len(comp) == n
    assert len(set(comp.values())) == 1


def test_simhash_cap_exact_below_cap(spark):
    docs = _docs(spark)
    capped = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dups(docs).collect()
    }
    uncapped = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dups(docs, bucket_cap=None).collect()
    }
    assert capped == uncapped


def test_jaccard_exact_mode_hot_shingle_bounded(spark):
    """A stop-word shingle shared by every doc: exact mode caps per-shingle
    membership, so the pair output is ≤ cap²/2, not n²/2."""
    n, cap = 500, 10
    docs = spark.createDataFrame(
        [(i, "the") for i in range(n)], "doc_id long, text string"
    )
    out = D.jaccard_pairs(docs, shingle_n=1, shingle_doc_cap=cap).collect()
    assert 0 < len(out) <= cap * (cap - 1) // 2
    assert all(r.jaccard == 1.0 for r in out)


def test_jaccard_cap_exact_below_cap(spark):
    docs = _docs(spark)
    key = lambda r: (r.id_a, r.id_b, r.n_a, r.n_b, r.n_shared)  # noqa: E731
    capped = {key(r) for r in D.jaccard_pairs(docs, shingle_n=2).collect()}
    uncapped = {
        key(r)
        for r in D.jaccard_pairs(docs, shingle_n=2, shingle_doc_cap=None).collect()
    }
    assert capped == uncapped


def test_lsh_cap_preserves_components_exactly(spark):
    """INVARIANT (any corpus, any cap >= 1): the capped candidate graph has
    exactly the same connected components as the uncapped one. Per bucket,
    uncapped forms a clique; capped forms the head clique (which contains
    the rank-1 representative) plus one star edge from every overflow
    member to that representative — the same member set, still one
    component. Buckets are identical in both, so the merged components are
    too. This is the formal statement behind 'capped pairs + transitivity
    lose no clusters'."""
    import random

    rng = random.Random(411)
    words = [f"tok{i}" for i in range(30)]
    rows = []
    doc_id = 0
    # a few near-dup families of varied sizes + unique docs
    for fam in range(6):
        base = [rng.choice(words) for _ in range(8)]
        for _ in range(rng.randint(2, 12)):
            doc = list(base)
            if rng.random() < 0.4:
                doc[rng.randrange(len(doc))] = rng.choice(words)
            rows.append((doc_id, " ".join(doc)))
            doc_id += 1
    for _ in range(15):
        rows.append((doc_id, " ".join(rng.choice(words) for _ in range(8))))
        doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = D.minhash_signatures(docs, num_hashes=4, shingle_n=2)
    for cap in (1, 2, 5):
        capped = [
            (r.id_a, r.id_b)
            for r in D.lsh_candidate_pairs(
                sig, num_hashes=4, bands=2, bucket_cap=cap
            ).collect()
        ]
        uncapped = [
            (r.id_a, r.id_b)
            for r in D.lsh_candidate_pairs(
                sig, num_hashes=4, bands=2, bucket_cap=None
            ).collect()
        ]
        comp_c = _components(capped)
        comp_u = _components(uncapped)
        assert comp_c == comp_u, f"cap={cap} changed components"
        assert len(capped) <= len(uncapped)


def test_cap_bucket_rejects_nonpositive_cap(spark):
    sig = D.minhash_signatures(_docs(spark), num_hashes=4, shingle_n=2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match=">= 1"):
        D.lsh_candidate_pairs(sig, num_hashes=4, bands=2, bucket_cap=0).collect()
    docs = _docs(spark)
    with _pytest.raises(ValueError, match=">= 2"):
        D.jaccard_pairs(docs, shingle_n=1, shingle_doc_cap=1).collect()


def test_cap_signal_result_swallows_only_py4j_errors():
    """A cap signal whose frame's session is stopped (``Py4JError``)
    reports None; any other error propagates instead of hiding the
    truncation audit."""
    import pytest as _pytest
    from py4j.protocol import Py4JError

    class Frame:
        def __init__(self, exc):
            self.exc = exc

        def groupBy(self, *cols):
            raise self.exc

    stopped = D._CapSignal("site", 4, Frame(Py4JError("stopped")), None, ["k"])
    assert stopped.result() is None
    broken = D._CapSignal("site", 4, Frame(RuntimeError("bug")), None, ["k"])
    with _pytest.raises(RuntimeError):
        broken.result()

def test_cap_truncation_signal_fires_on_hot_bucket(spark):
    """ADVICE r11: a cap that actually truncates must leave a runtime
    signal — observe-based (no extra job), drained non-blockingly."""
    import pytest as _pytest

    D.cap_truncation_events(warn=False)  # drain leftovers from other tests
    n, cap = 200, 8
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(n)],
        "doc_id long, text string",
    )
    sig = D.minhash_signatures(docs, num_hashes=4, shingle_n=2)
    D.lsh_candidate_pairs(sig, num_hashes=4, bands=2, bucket_cap=cap).collect()
    with _pytest.warns(UserWarning, match="truncated"):
        events = D.cap_truncation_events()
    ev = [e for e in events if e["site"] == "lsh_candidate_pairs.bucket_cap"]
    assert ev and ev[0]["truncated"]
    assert ev[0]["overflow_rows"] == (n - cap) * 2  # 2 bands, one bucket each
    assert ev[0]["max_bucket_members"] == n


def test_cap_signal_silent_in_exact_regime(spark):
    """Below the cap the result is exact — the signal reports
    truncated=False and no warning fires."""
    import warnings as _warnings

    D.cap_truncation_events(warn=False)
    sig = D.minhash_signatures(_docs(spark), num_hashes=4, shingle_n=2)
    D.lsh_candidate_pairs(sig, num_hashes=4, bands=2).collect()
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")
        events = D.cap_truncation_events()
    assert events and all(not e["truncated"] for e in events)


def test_cap_signal_jaccard_and_simhash_sites(spark):
    D.cap_truncation_events(warn=False)
    n = 50
    docs = spark.createDataFrame(
        [(i, "omega psi chi phi upsilon tau") for i in range(n)],
        "doc_id long, text string",
    )
    D.simhash_near_dups(docs, bits=48, n_bands=4, max_hamming=3, bucket_cap=4).collect()
    D.jaccard_pairs(docs, shingle_n=1, shingle_doc_cap=4).collect()
    sites = {e["site"]: e for e in D.cap_truncation_events(warn=False)}
    assert sites["simhash_near_dups.bucket_cap"]["truncated"]
    assert sites["jaccard_pairs.shingle_doc_cap"]["truncated"]


def test_cap_signal_does_not_poison_mllib(spark):
    """Regression pin for the Spark 4.1 landmine that ruled out
    DataFrame.observe for the cap signal: registering even one filled
    Observation on a session leaves the non-serializable
    ObservationManager reachable from later job closures, and every
    subsequent MLlib fit dies with 'Task not serializable' (reproduced
    on pyspark 4.1.2). The aggregate-over-cache signal must leave MLlib
    fits working after a capped query + drain."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, Tokenizer

    D.cap_truncation_events(warn=False)
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(60)],
        "doc_id long, text string",
    )
    sig = D.minhash_signatures(docs, num_hashes=4, shingle_n=2)
    D.lsh_candidate_pairs(sig, num_hashes=4, bands=2, bucket_cap=4).collect()
    events = D.cap_truncation_events(warn=False)
    assert any(e["truncated"] for e in events)
    lr_docs = spark.createDataFrame(
        [(i, f"tok{i % 5} alpha beta", float(i % 2)) for i in range(40)],
        "doc_id long, text string, label double",
    )
    pipe = Pipeline(stages=[
        Tokenizer(inputCol="text", outputCol="toks"),
        HashingTF(inputCol="toks", outputCol="features", numFeatures=64),
        LogisticRegression(maxIter=3),
    ])
    model = pipe.fit(lr_docs)  # would raise 'Task not serializable' via observe
    assert model.transform(lr_docs).count() == 40
