"""Corpus-quality operators for LLM training-data curation.

Beyond-reference surface (the reference engine stops at market data; a
100 TB corpus pipeline additionally needs repetition filters, term
weighting and LM-based quality scores):

- ``repetition_profile``: Gopher-style repetition metrics (Rae et al. 2021,
  "Scaling Language Models", §A1.1) — duplicate n-gram fraction, top-token
  share, distinct-token ratio, mean word length — computed entirely with
  higher-order array functions. Zero shuffle: every metric is a per-row
  Column expression, so the operator is embarrassingly parallel and scales
  linearly with the corpus.
- ``tfidf_topk``: per-document top-k terms by smoothed TF-IDF. One shuffle
  for term frequencies, one tiny aggregate for document frequencies (AQE
  turns the tf⋈df join into a broadcast when the vocabulary fits).
- ``unigram_lm_scores``: add-one-smoothed corpus unigram LM, scoring each
  document by mean token log-probability — the classic cheap perplexity
  proxy used to quality-filter web corpora (e.g. CCNet, Wenzek et al. 2019).

Tokenization matches operators/text.py: a bare single-space split the
DuckDB oracle reproduces byte-for-byte with ``string_split``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

# Gopher-inspired thresholds (Rae et al. 2021 §A1.1, adapted to word-level
# trigrams). Flags are 0/1 ints so both engines hash identically.
MAX_TOP_TOKEN_SHARE = 0.20
MAX_DUP_TRIGRAM_FRAC = 0.30
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MIN_TOKENS = 20


def _word_trigrams(toks: Column) -> Column:
    """All overlapping word trigrams (duplicates preserved — the duplicate
    fraction is the signal). Guarded: <3 tokens → empty array, because
    ``sequence(1, n-2)`` would otherwise run backwards."""
    tri = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
        ),
    )
    return F.when(F.size(toks) >= 3, tri).otherwise(F.array().cast("array<string>"))


def quality_metric_columns(
    text: str = "text", toks_attr: str | None = None
) -> dict[str, Column]:
    """The repetition/quality metrics as named pure Column expressions —
    shared by the batch profile (``repetition_profile``) and the streaming
    curation gate (streaming/curation.py), which can both apply them
    map-only because nothing here shuffles.

    ``toks_attr``: name of an already-materialized token-array column to
    read instead of re-splitting ``text``. Higher-order functions are
    evaluated *interpreted* with no common-subexpression elimination, so
    with the default (expression) form every HOF metric re-runs the
    ``split`` — five extra O(tokens) passes per row (optimization r12;
    the same lesson as dedup.shingle_table). Callers that can afford a
    two-step select (repetition_profile) pass it; single-select callers
    (the streaming gates) keep the self-contained form.
    """
    toks = F.col(toks_attr) if toks_attr else tokens(F.col(text))
    t = F.col(text)
    n = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    # longest equal-run over the sorted tokens == max token frequency
    run_acc = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_count = run_acc.best
    tri = _word_trigrams(toks)
    n_tri = F.size(tri)
    dup_tri = n_tri - F.size(F.array_distinct(tri))
    # Σ length(token) ≡ n_chars − n_single_spaces for a bare single-space
    # split (delimiters are the only chars split drops): one codegen'd
    # length/replace pair instead of an interpreted O(tokens) aggregate.
    sum_len = F.length(F.regexp_replace(t, r" ", ""))

    top_share = F.try_divide(top_count.cast("double"), n)
    dup_frac = F.coalesce(F.try_divide(dup_tri.cast("double"), n_tri), F.lit(0.0))
    mean_wl = F.try_divide(sum_len.cast("double"), n)

    flag_rep = (top_share > MAX_TOP_TOKEN_SHARE) | (dup_frac > MAX_DUP_TRIGRAM_FRAC)
    flag_wl = (mean_wl < MIN_MEAN_WORD_LEN) | (mean_wl > MAX_MEAN_WORD_LEN)
    flag_short = n < MIN_TOKENS
    return {
        "n_tokens": n,
        "distinct_ratio": F.try_divide(n_distinct.cast("double"), n),
        "top_token_share": top_share,
        "dup_trigram_frac": dup_frac,
        "mean_word_len": mean_wl,
        "flag_repetitive": flag_rep.cast("int"),
        "flag_word_len": flag_wl.cast("int"),
        "flag_short": flag_short.cast("int"),
        "pass_quality": (~(flag_rep | flag_wl | flag_short)).cast("int"),
    }


def repetition_profile(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition/quality metrics + pass/fail flags.

    All metrics are pure Column expressions (no Python, no shuffle — an
    under-partitioned input is fanned out across cores by dedup.fan_out;
    a wide one is left as is). The top-token count runs O(n log n) per
    document: sort the token array once, then a single aggregate pass
    tracks the longest equal-run — NOT the naive O(distinct × tokens)
    nested scan, which on real prose-length documents costs ~40× more
    interpreted higher-order-function steps, nor an explode+groupBy,
    which would turn a map-only operator into a shuffling one at 100 TB.
    """
    from .dedup import fan_out

    # two-step select: the token array becomes a materialized attribute so
    # the interpreted HOF metrics (sort/run-scan, trigrams, distinct) read
    # it instead of each re-running the split (see quality_metric_columns)
    cols = quality_metric_columns(text, toks_attr="_toks")
    return (
        fan_out(docs)
        .select(F.col(id_col), F.col(text), tokens(F.col(text)).alias("_toks"))
        .select(F.col(id_col), *[c.alias(name) for name, c in cols.items()])
    )


def tfidf_topk(
    docs: DataFrame, k: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-``k`` terms per document by smoothed TF-IDF.

    idf = ln((N+1)/(df+1)) + 1 (sklearn's smooth_idf). Plan shape: one
    explode + groupBy(doc, term) shuffle for TF (partial aggregation
    absorbs stopword skew map-side), a term-keyed count for DF whose
    output is vocabulary-sized — at corpus scale AQE converts the tf⋈df
    join to broadcast when the vocab fits, else a plain shuffle join on
    ``term`` (uniform enough after the TF collapse). Ranking windows only
    over one document's terms, so no global sort. Rank key is the RAW
    score desc, then term asc: exact score ties come only from equal
    (tf, df), which both engines compute to bit-identical doubles, so
    the term tiebreak resolves them identically — whereas a rounded key
    would re-introduce the half-up-vs-binary rounding split (see
    queries._r6s).
    """
    term_rows = docs.select(F.col(id_col), F.explode(tokens(F.col(text))).alias("term"))
    tf = term_rows.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, on="term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score")
    )


def unigram_lm_scores(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean token log-probability under an add-one-smoothed corpus unigram LM.

    p(t) = (count(t)+1) / (T+V) over the whole corpus; each document scores
    avg(ln p(token)). Low scores mark rare-token-heavy (often junk)
    documents — the cheap first-pass perplexity filter. Plan shape: one
    explode feeding BOTH the count aggregate and the scoring join (Spark
    reuses the exchange), corpus totals as a broadcast 1-row frame, and a
    doc-keyed average. The term⋈count join is vocabulary-vs-corpus
    asymmetric — AQE broadcasts the vocab side when it fits.
    """
    term_rows = docs.select(F.col(id_col), F.explode(tokens(F.col(text))).alias("term"))
    counts = term_rows.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("t_total"), F.count(F.lit(1)).alias("v_size")
    )
    scored = (
        term_rows.join(counts, on="term")
        .crossJoin(F.broadcast(totals))
        .withColumn("lp", F.log((F.col("c") + 1) / (F.col("t_total") + F.col("v_size"))))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("lp").alias("avg_logprob"),
    )


def _doc_bigrams(docs: DataFrame, text: str, id_col: str) -> DataFrame:
    """(id, w1, w2) rows for every adjacent token pair — built map-only
    from the token array (no window, no per-doc shuffle) and exploded."""
    toks = tokens(F.col(text))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return docs.select(
        F.col(id_col), F.explode(pairs).alias("bg")
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def bigram_lm_scores(
    docs: DataFrame,
    train: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """Mean bigram log-score under a stupid-backoff LM (Brants et al. 2007,
    "Large Language Models in Machine Translation" §4) trained on ``train``
    (default: ``docs`` itself) and scored over every document in ``docs``.

    score(w2 | w1) = c(w1 w2) / c(w1)            if the bigram was seen,
                     backoff * c(w2) / T          otherwise
    (unseen unigrams fall back to the add-one floor 1/(T+V) so the log is
    always defined). Each document reports avg(ln score) over its adjacent
    pairs — the step up from ``unigram_lm_scores`` that catches fluent-word
    /ungrammatical-order junk a unigram model scores as fine.

    Plan shape: bigrams are built map-only from the token array (no window
    — one explode per side), counts are two keyed aggregates over the
    train split, scoring is two equi-joins (bigram table ⋈ on (w1,w2),
    unigram table ⋈ on w2 — both vocabulary-vs-corpus asymmetric, AQE
    broadcasts when they fit) and corpus totals ride along as a broadcast
    1-row frame. No driver-side state; every stage is keyed — scales.
    """
    train = docs if train is None else train
    tr_bi = _doc_bigrams(train, text, id_col)
    bi_counts = tr_bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    tr_uni = train.select(F.explode(tokens(F.col(text))).alias("w"))
    uni_counts = tr_uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    totals = uni_counts.agg(
        F.sum("c1").alias("t_total"), F.count(F.lit(1)).alias("v_size")
    )
    sc = (
        _doc_bigrams(docs, text, id_col)
        .join(bi_counts, on=["w1", "w2"], how="left")
        .join(
            uni_counts.select(F.col("w").alias("w1"), F.col("c1").alias("c_w1")),
            on="w1", how="left",
        )
        .join(
            uni_counts.select(F.col("w").alias("w2"), F.col("c1").alias("c_w2")),
            on="w2", how="left",
        )
        .crossJoin(F.broadcast(totals))
    )
    seen = F.col("c12").isNotNull() & F.col("c_w1").isNotNull()
    unseen = F.when(
        F.col("c_w2").isNotNull(),
        F.lit(backoff) * F.col("c_w2") / F.col("t_total"),
    ).otherwise(F.lit(1.0) / (F.col("t_total") + F.col("v_size")))
    lp = F.log(F.when(seen, F.col("c12") / F.col("c_w1")).otherwise(unseen))
    return sc.select(F.col(id_col), lp.alias("lp")).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("lp").alias("avg_logscore"),
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 20,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by DOCUMENT frequency — the
    boilerplate detector: n-grams that recur across many documents
    (headers, footers, license blurbs, navigation chrome) dominate this
    list and become removal candidates for a web-scale corpus.

    Document frequency (distinct docs containing the n-gram), not raw
    occurrence count, so a single pathologically repetitive document
    cannot vault its padding into the corpus-wide list. Plan shape: the
    shingle stream (one exchange on the doc id for the lead() window, one
    distinct) → n-gram-keyed count with map-side partial aggregation →
    global top-k via TakeOrderedAndProject (per-partition heaps + a
    k-sized driver merge — no single-partition global sort). Rank is
    attached AFTER the limit, so its window orders ≤ k rows. Tie-break
    (df desc, ngram asc) totalizes the order for cross-engine determinism.
    """
    from .dedup import shingle_table

    grams = shingle_table(docs, text=text, id_col=id_col, n=n, distinct=True)
    dfreq = grams.groupBy(F.col("shingle").alias("ngram")).agg(
        F.count(F.lit(1)).alias("df")
    )
    topk = dfreq.orderBy(F.col("df").desc(), F.col("ngram")).limit(k)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("df").desc(), F.col("ngram"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "ngram", "df"
    )


def zipf_profile(
    docs: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-row corpus token-frequency profile with a Zipf's-law OLS fit:
    (n_tokens, vocab_size, zipf_slope, zipf_intercept, zipf_r2) for
    ln(freq) ~ ln(rank). Natural corpora fit slope ≈ −1 with high R²;
    machine-generated/template spam and heavily duplicated dumps bend the
    curve — a cheap corpus-health dashboard number.

    Scale shape: one token-keyed count (map-side partial aggregation),
    then rank WITHOUT a partitionless window — rank = global running count
    of 1s in (freq desc, term asc) order via the two-phase
    ``global_running_sum`` (range-bucketed parallel windows + broadcast
    prefix offsets), so the vocabulary — which at web scale is itself
    hundreds of millions of rows — never funnels through one task. The
    regression is a single JVM ``regr_*`` aggregate pass.
    """
    from ..functions.stats import global_running_sum

    term_rows = docs.select(F.explode(tokens(F.col(text))).alias("term"))
    counts = term_rows.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    ranked = global_running_sum(
        counts.withColumn("_negc", -F.col("c")).withColumn("_one", F.lit(1)),
        "_negc",
        "_one",
        out="rank",
        tiebreak=["term"],
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("c").cast("double"))
    return ranked.agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("zipf_r2"),
    )


def select_to_budget(
    scored_docs: DataFrame,
    budget: int,
    score_col: str = "avg_logprob",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware corpus selection: take the best documents first until a
    global token budget is filled — the standard shape for carving a
    fixed-size training mix out of a larger curated pool.

    Ordering is (score desc, id asc) on the score ROUNDED to 6 dp: the
    score is typically an average of doubles whose last bits are
    summation-order-dependent, so ranking on the raw value would make the
    selection frontier nondeterministic across engines and runs; rounding
    collapses that noise and the id tiebreak totalizes the order (exact
    duplicates get identical scores by construction).

    The cumulative sum uses the two-phase ``global_running_sum`` — no
    global-ORDER-BY window, so the plan holds at corpus scale. Returns the
    input plus (cum_tokens, selected ∈ {0,1}); rows with cum_tokens ≤
    budget are selected (greedy prefix, documents never split — splitting
    is ``packing.pack_documents``' job downstream).
    """
    from ..functions.stats import global_running_sum

    okey = F.round(-F.col(score_col) + F.lit(5e-13), 6)
    ordered = scored_docs.withColumn("_okey", okey)
    cum = global_running_sum(
        ordered, "_okey", tokens_col, out="cum_tokens", tiebreak=[id_col]
    )
    return cum.withColumn(
        "selected", (F.col("cum_tokens") <= budget).cast("int")
    ).drop("_okey")


def source_balanced_selection(
    scored_docs: DataFrame,
    quotas: dict[str, int],
    score_col: str = "avg_logprob",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mix balancing: keep the top-``quota`` documents per source by
    quality — how a training mix pins per-domain proportions instead of
    letting one crawl dominate.

    Ranking windows partition by source (no global sort) and order by the
    6 dp-rounded score desc then id (same cross-engine determinism
    rationale as ``select_to_budget``). Quotas ride a broadcast literal
    map — no join, no shuffle beyond the per-source window. Sources
    absent from ``quotas`` get quota 0 (dropped when ``kept`` filters).
    Returns the input plus (src_rank, kept ∈ {0,1}).
    """
    from pyspark.sql import Window

    okey = F.round(-F.col(score_col) + F.lit(5e-13), 6)
    w = Window.partitionBy(source_col).orderBy(okey, F.col(id_col))
    quota_map = F.create_map(
        *[F.lit(x) for kv in quotas.items() for x in kv]
    )
    return (
        scored_docs.withColumn("src_rank", F.row_number().over(w))
        .withColumn(
            "kept",
            (
                F.col("src_rank")
                <= F.coalesce(quota_map[F.col(source_col)], F.lit(0))
            ).cast("int"),
        )
    )
