"""Corpus-curation DAG: the end-to-end training-data pipeline (north star).

Composes the text/dedup operator layer into the shape an LLM-data pipeline
runs over a 100 TB corpus:

    documents
      → text_profile        (quality stats + language ID, one map-only pass)
      → quality filter      (length / stopword / punctuation gates — pure
                             predicates, pushed into the scan where possible)
      → model filter        (optional: GPT-3-style seed-vs-corpus classifier,
                             ml/quality_model.py — drops fluent junk the
                             heuristics pass; scoring is map-only)
      → exact dedup         (md5-fingerprint groupBy, keep smallest id)
      → near-dup removal    (MinHash → LSH banding → Jaccard verify on
                             candidates; drop the larger id of each pair)
      → decontamination     (optional: drop docs whose n-gram overlap with
                             an eval benchmark exceeds a threshold —
                             broadcast LEFT SEMI over 64-bit gram hashes)
      → token budget        (running token count in corpus order, cut at
                             the budget — deterministic sampling)

Every stage is a DataFrame transformation; the only shuffles are the dedup
groupBys/joins, all keyed on doc fingerprints (uniform keys — no skew), so
the plan scales linearly with corpus size. Nothing collects to the driver.

The reference has no corpus pipeline (it is a market-analytics repo); this
plan is part of the beyond-reference training-data surface the engine
declares in COVERAGE.md.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from ..functions.stats import global_running_sum
from ..operators.dedup import exact_dedup_keys, fan_out, near_dup_lsh
from ..operators.text import text_profile


class CurationResult:
    """Curated corpus (lazy DataFrame) + per-stage audit counts.

    ``audit`` is computed on FIRST ACCESS by a short driver-sequenced
    count pass and returned as a one-row LocalRelation DataFrame (same
    columns and values as the old crossJoin-of-aggregates form). The old
    form built the audit as a crossJoin of six independent 1-row
    aggregates; Spark executes those branches as CONCURRENT broadcast
    futures, and before the pipeline's tracked-persisted stages are
    materialized each concurrent branch re-computes the same heavy
    lineage into the same cache blocks (observed as overlapping ~0.7 s
    duplicate jobs + "Block already exists" warnings — optimization r13,
    guide §5 "caching"/§1 measure-first). Sequencing the counts walks the
    stages IN ORDER, so each stage's cache is materialized exactly once
    and every later count is a cheap aggregate over cached rows. The
    counts themselves are the same bounded 1-row aggregates as before —
    nothing row-sized reaches the driver.
    """

    def __init__(self, corpus: DataFrame, audit: Callable[[], DataFrame]):
        self.corpus = corpus       # surviving (doc_id, text, n_tokens, pred_lang)
        self._audit_fn = audit
        self._audit: DataFrame | None = None

    @property
    def audit(self) -> DataFrame:  # 1-row stage-by-stage survivor counts
        if self._audit is None:
            self._audit = self._audit_fn()
        return self._audit


def curate_corpus(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    max_stopword_ratio: float = 0.6,
    max_punct_ratio: float = 0.3,
    languages: tuple[str, ...] | None = None,
    near_dup_jaccard: float = 0.5,
    benchmark: DataFrame | None = None,
    contamination_threshold: float = 0.2,
    contamination_ngram: int = 8,
    token_budget: int | None = None,
    quality_seed: DataFrame | None = None,
    model_score_min: float = 0.5,
) -> CurationResult:
    """Run the full curation DAG; every stage stays distributed.

    ``benchmark`` (optional): a DataFrame with a ``text`` column of eval
    material; documents whose ``contamination_ngram``-gram overlap with it
    reaches ``contamination_threshold`` are dropped before the token cut.

    ``quality_seed`` (optional): one-column frame of trusted doc ids —
    enables the MODEL-based quality stage (ml/quality_model.py) between
    the heuristic gates and dedup, the GPT-3-style curated-vs-crawl
    classifier filter: documents scoring below ``model_score_min``
    against the seed classifier are dropped. Heuristic gates catch
    mechanical junk; this stage catches fluent-but-off-distribution
    text the heuristics cannot see. The audit gains an
    ``n_model_quality`` column when enabled.
    """
    # Fan an under-partitioned corpus out to the cluster's parallelism
    # before the map-heavy stages (optimization r13): a small single-file
    # parquet scans as ONE partition, and because `quality` is persisted
    # BELOW any shuffle, the single partition propagates through the cache
    # into every map-only consumer — the profile pass, the exact-dedup md5
    # fingerprints and the audit counts all ran single-task (job-profiled
    # ~0.7 s each). A scan that is already wide passes through unshuffled
    # (operators/dedup.fan_out).
    docs = fan_out(docs)
    # keep_text: the profile select carries the text column through, so the
    # quality gate reads one map-only pass — the old form re-joined the
    # corpus to itself on id_col (two exchanges) purely to re-attach text
    # (optimization r12, guide §2.4 "remove shuffles outright")
    profiled = text_profile(docs, text=text, id_col=id_col, keep_text=True)

    quality = profiled.where(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.coalesce(F.col("stopword_ratio"), F.lit(0.0)) <= max_stopword_ratio)
        & (F.coalesce(F.col("punct_ratio"), F.lit(0.0)) <= max_punct_ratio)
    )
    if languages is not None:
        quality = quality.where(F.col("pred_lang").isin(list(languages)))
    # cache the frames every downstream branch (and the audit) re-reads —
    # same pattern as market_analysis_plan's labeled frame. Tracked, so a
    # long-lived session can bulk-release after materializing the result.
    quality = tracked_persist(quality)

    # model-based quality filter (optional): classifier P(seed-like)
    # over the heuristically-gated corpus; scoring is one map-only
    # transform, so the stage adds no corpus shuffle
    gated = quality
    if quality_seed is not None:
        from ..ml.quality_model import seed_quality_scores

        keep = (
            seed_quality_scores(
                quality.select(id_col, text), quality_seed,
                id_col=id_col, text=text,
            )
            .where(F.col("quality_score") >= model_score_min)
            .select(id_col)
        )
        gated = tracked_persist(quality.join(keep, on=id_col, how="left_semi"))

    # exact dedup: keep the deterministic representative of each fingerprint
    keys = exact_dedup_keys(gated, text=text, id_col=id_col)
    exact = tracked_persist(gated.join(
        keys.select(F.col("keep_id").alias(id_col)), on=id_col, how="inner"
    ))

    # near-dup removal: for each surviving LSH-verified pair, drop the
    # larger id (id_a < id_b by construction, so id_b is dropped)
    pairs = near_dup_lsh(
        exact.select(id_col, text), text=text, id_col=id_col,
        min_jaccard=near_dup_jaccard,
    )
    drop_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    near = tracked_persist(exact.join(drop_ids, on=id_col, how="left_anti"))

    # decontamination: remove docs that would leak eval material into
    # training (flag list is tiny; the corpus side is one anti-join)
    deduped = near
    if benchmark is not None:
        from ..operators.contamination import flag_contaminated

        contaminated = flag_contaminated(
            near.select(id_col, text),
            benchmark,
            threshold=contamination_threshold,
            text=text,
            id_col=id_col,
            n=contamination_ngram,
        ).select(id_col)
        deduped = tracked_persist(near.join(contaminated, on=id_col, how="left_anti"))

    # token budget: cumulative tokens in deterministic (doc_id) order via the
    # two-phase running sum (range partition + local cumsum + prefix
    # offsets) — a global-ORDER-BY window would single-partition the corpus
    curated = deduped
    if token_budget is not None:
        curated = (
            global_running_sum(deduped, id_col, "n_tokens", out="_cum_tokens")
            .where(F.col("_cum_tokens") <= token_budget)
            .drop("_cum_tokens")
        )

    out = curated.select(id_col, text, "n_tokens", "pred_lang")

    def _audit() -> DataFrame:
        # sequenced bounded counts (see CurationResult.audit): same values
        # and schema as the old crossJoin-of-aggregates, but each persisted
        # stage is materialized exactly once, in pipeline order
        spark = docs.sparkSession
        cols: list[tuple[str, int | None]] = [
            ("n_input", docs.count()),
            ("n_quality", quality.count()),
        ]
        if quality_seed is not None:
            cols.append(("n_model_quality", gated.count()))
        cols.append(("n_exact_dedup", exact.count()))
        n_near = near.count()
        cols.append(("n_near_dedup", n_near))
        cols.append(
            ("n_decontaminated", deduped.count() if benchmark is not None else n_near)
        )
        fin = out.agg(
            F.count(F.lit(1)).alias("n_final"), F.sum("n_tokens").alias("total_tokens")
        ).first()
        cols.append(("n_final", fin["n_final"]))
        cols.append(("total_tokens", fin["total_tokens"]))
        schema = ", ".join(f"{name} bigint" for name, _ in cols)
        return spark.createDataFrame([tuple(v for _, v in cols)], schema)

    return CurationResult(corpus=out, audit=_audit)
