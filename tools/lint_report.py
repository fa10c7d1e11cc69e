"""Generate LINT.md: the physical-plan scale linter (plans/lint.py)
swept over EVERY registry query.

Evidence artifact: each query's plan either lints clean or every finding
is listed beside its justification (the JUSTIFIED table below — findings
on provably bounded inputs, e.g. a rank window over ≤ k rows after a
TakeOrderedAndProject). A finding on an UNBOUNDED input with no entry
here is a build break — fix the plan, don't extend the table casually.

    python tools/lint_report.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_big_data_spark.plans.lint import scale_lint  # noqa: E402
from financial_big_data_spark.queries import REGISTRY  # noqa: E402
from financial_big_data_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"

# (query, finding kind) -> why the flagged construct is bounded/intended.
JUSTIFIED: dict[tuple[str, str], str] = {
    ("doc_top_ngrams", "partitionless-window"): (
        "rank window runs AFTER TakeOrderedAndProject: ≤ k=25 rows"
    ),
    ("doc_top_ngrams", "single-partition-exchange"): (
        "global top-k limit: per-partition heaps, k-sized merge"
    ),
    ("top_revenue_orders", "single-partition-exchange"): (
        "ordered LIMIT 10 — TakeOrderedAndProject's k-row merge"
    ),
    ("top_parts_by_price", "single-partition-exchange"): (
        "ordered LIMIT 15 — same k-row merge"
    ),
    ("ev_funnel", "single-partition-exchange"): (
        "k-row (one per step) driver-built result frame"
    ),
    ("pred_summary", "single-partition-exchange"): (
        "global 1-row accuracy aggregate — the partial aggregation "
        "happens map-side; one row crosses"
    ),
    ("ev_describe", "single-partition-exchange"): (
        "global describe aggregate — map-side partials, stat-row output"
    ),
    ("doc_zipf", "single-partition-exchange"): (
        "final 1-row regr_* aggregate over the ranked vocabulary"
    ),
    ("doc_contamination", "single-partition-exchange"): (
        "single summary-row aggregate (totals + matches)"
    ),
    ("pricing_summary", "single-partition-exchange"): (
        "tiny grouped result ordered for display"
    ),
}

# The engine's documented GLOBAL-SCALAR pattern: a 1-row aggregate (or
# shuffle-partition-sized metadata frame) broadcast-crossed into the fact
# flow — O(n·1), deliberately chosen over a partitionless window (see
# functions/stats.py with_global_stats / global_running_sum). The linter
# stays strict (every BNLJ deserves review); these queries' BNLJs are
# all of that bounded-broadcast form.
_GLOBAL_SCALAR = (
    "broadcast of a 1-row global aggregate / bounded metadata frame "
    "(with_global_stats, share-of-total, prefix offsets) — O(n·1), the "
    "engine's documented alternative to a partitionless window"
)
_BOUNDED_PROBE = (
    "broadcast side is the bounded probe/sample set of the exact "
    "brute-force baseline — the LSH/IVF variants are the scale path"
)
for _q in (
    "ev_zscore", "ev_coarse_distribution", "ev_regime_distribution",
    "ev_type_share", "ev_scrub_fill", "pred_summary", "nation_coverage",
    "doc_unigram_lm", "doc_tfidf_topk", "doc_source_mix", "doc_curation",
    "doc_budget_selection", "doc_shuffle", "idle_rich_customers",
    # round 8: both cross exactly 1-row aggregate frames (the two group
    # summaries of the t-test; the N total of the chi-square) — the same
    # global-scalar shape
    "ev_ab_ttest", "ev_type_hour_chi2",
    # round 9: TPC-H Q11 — the HAVING threshold crosses the 1-row grand
    # total onto the per-part aggregate (both read one materialized
    # frame, so threshold and probe can't disagree in the last ulp)
    "important_parts",
    # round 10: stupid-backoff corpus totals (t_total, v_size) — one
    # broadcast row crossed onto the scored-bigram flow
    "doc_bigram_lm",
    # round 10: total edge weight m — one broadcast row onto the
    # per-community aggregate
    "ev_type_modularity",
    # round 11: the NB quality twin crosses the 1-row token-total frame
    # (pt, nt) onto the bucket-weight table and onto the per-doc tf flow
    # (for the unseen-bucket smoothing weight) — both global-scalar shape
    "doc_quality_scores",
):
    JUSTIFIED[(_q, "nested-loop-join")] = _GLOBAL_SCALAR
for _q in ("emb_topk", "emb_near_dup", "emb_knn_dist"):
    JUSTIFIED[(_q, "nested-loop-join")] = _BOUNDED_PROBE
JUSTIFIED[("emb_dbscan_relational", "nested-loop-join")] = (
    "ε-grid neighbor-offset expansion: broadcast side is the 3^n_block "
    "(=9) offset rows each cell replicates to — bounded metadata, O(n·9); "
    "the candidate pairing itself is the keyed cell equi-join"
)
JUSTIFIED[("emb_pq_adc", "nested-loop-join")] = (
    "broadcast side is the bounded probe set's ADC lookup tables "
    "(3 probes × m·2^nbits doubles); the corpus-side scan reads 8-byte "
    "code arrays against them — the PQ design point"
)
JUSTIFIED[("emb_opq_adc", "nested-loop-join")] = (
    "same shape as emb_pq_adc plus the rotation: the broadcast sides are "
    "the 1-row d×d Householder matrix (rotate_vectors' bounded-metadata "
    "crossJoin, applied map-only to corpus and probe flows) and the "
    "bounded probe set's ADC lookup tables"
)
JUSTIFIED[("emb_ivf_seeded", "nested-loop-join")] = (
    "broadcast side is the bounded 8-row pinned-cell centroid table "
    "(assignment + probe ranking score against it); the candidate scan "
    "itself is the keyed cell equi-join"
)
JUSTIFIED[("emb_ivfpq", "nested-loop-join")] = (
    "query-side centroid ranking: broadcast side is the bounded "
    "n_cells-row centroid table against the bounded probe set; the "
    "corpus-side candidate scan is the keyed (_cell) equi-join"
)


# Source-level rule (VERDICT r5 #2, widened r11 per VERDICT r10 #2):
# unbounded SELF-JOIN pair generation. BOTH alias idioms mark a
# pair-expansion self-join — the one-line
# `x, y = Z.alias("a"), Z.alias("b")` AND the two-line
# `a = Z.alias("a")` / `b = Z.alias("b")` form that evaded the r5 regex —
# quadratic in the join-key group size, the skew blowup that made the
# co-occurrence graph build the r5 scale-killer. Every such site must
# either bound its per-key expansion or carry a justification here; a NEW
# site with no entry fails the sweep. Co-occurrence builds must go
# through ml/graph.py cooccurrence_pairs (slot_cap-bounded).
SELF_JOIN_JUSTIFIED: dict[str, str] = {
    "financial_big_data_spark/ml/graph.py": (
        "cooccurrence_pairs: per-slot expansion capped at slot_cap "
        "min-xxhash members (≤ cap² per key); the one sanctioned builder"
    ),
    "financial_big_data_spark/streaming/ingest.py": (
        "within-batch LSH candidates: join keyed on (band, key) buckets "
        "of the micro-batch — group size bounded by band collisions of "
        "one batch, verified pairs only"
    ),
    "financial_big_data_spark/operators/dedup.py": (
        "lsh_candidate_pairs / jaccard_pairs exact mode: per-bucket "
        "membership capped (bucket_cap / shingle_doc_cap min-xxhash "
        "members, _cap_bucket) — ≤ cap² head pairs + linear star "
        "overflow to the bucket representative per (band,key)/shingle"
    ),
    # queries.py entries are keyed per enclosing FUNCTION — a new
    # self-join anywhere else in the 7k-line registry file fails the
    # sweep instead of inheriting a file-wide pass.
    "financial_big_data_spark/queries.py::q_ev_type_corr_pairs": (
        "per-hr group = event types (dictionary-bounded, 5): k² pairs "
        "per hour by construction"
    ),
    "financial_big_data_spark/queries.py::q_ev_user_cc_communities": (
        "per-hr group bounded by the user_id < 200 slice the query "
        "takes; the unbounded build belongs to cooccurrence_pairs"
    ),
    "financial_big_data_spark/queries.py::q_emb_knn_dist": (
        "brute-force kNN baseline over the bounded vec_id<100 sample "
        "(the exact-baseline class; similarity.lsh_topk is the scale "
        "path) — same argument as its _BOUNDED_PROBE BNLJ entry"
    ),
    "financial_big_data_spark/operators/similarity.py::semdedup": (
        "SemDeDup's within-cluster rescoring: the quadratic stage is "
        "confined per-cluster by construction (Abbas et al. 2023's own "
        "cost knob — cluster count bounds member count); join key is "
        "the cluster id"
    ),
    "financial_big_data_spark/ml/clustering.py::power_iteration_pca": (
        "d×d scatter-matrix build: pair expansion over the FEATURE "
        "dimension (bounded, not row count)"
    ),
}

# One-line idiom: `x, y = Z.alias("a"), Z.alias("b")`.
_SJ_ONE = r"=\s*(\w+)\.alias\(\"a\"\),\s*(\w+)\.alias\(\"b\"\)"
# Two-line idiom: `a = Z.alias("a")` then (within the next several lines —
# comments/blank lines between must not hide it) `b = Z.alias("b")` on the
# SAME frame.
_SJ_TWO = (
    r"(\w+)\s*=\s*(\w+)\.alias\(\"a\"\)[^\n]*\n"
    r"(?:[^\n]*\n){0,12}?"
    r"\s*(\w+)\s*=\s*(\w+)\.alias\(\"b\"\)"
)
# Select-rename idiom: `left = Z.select(...)` / `right = Z.select(...)` on
# the SAME frame (the shape simhash_near_dups uses) — renaming columns per
# side instead of .alias() must not evade the sweep. Multiline select args
# allowed (non-greedy across lines).
_SJ_SELECT = (
    r"(?:left|l|a)\w*\s*=\s*(\w+)\.select\((?:[^\n]*\n){0,6}?[^\n]*\)[^\n]*\n"
    r"(?:[^\n]*\n){0,12}?"
    r"\s*(?:right|r|b)\w*\s*=\s*(\w+)\.select\("
)


def _enclosing_def(src: str, pos: int) -> str:
    """Name of the last top-level-or-nested `def` above ``pos`` ('' if none)."""
    import re as _re

    defs = list(_re.finditer(r"^[ \t]*def\s+(\w+)", src[:pos], _re.M))
    return defs[-1].group(1) if defs else ""


def _self_join_sites(pkg: str | None = None) -> list[tuple[str, int, str]]:
    """Every `Z.alias(\"a\") … Z.alias(\"b\")` self-join site in the
    package, one-line or two-line form, as
    (repo-relative path, line, enclosing function)."""
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg is None:
        pkg = os.path.join(root, "financial_big_data_spark")
    one = _re.compile(_SJ_ONE)
    two = _re.compile(_SJ_TWO)
    sel = _re.compile(_SJ_SELECT)
    sites = []
    for dirpath, _dirs, files in os.walk(pkg):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                src = fh.read()
            rel = os.path.relpath(path, root)
            found = {}
            for m in one.finditer(src):
                if m.group(1) == m.group(2):
                    found[src.count("\n", 0, m.start()) + 1] = _enclosing_def(src, m.start())
            for m in two.finditer(src):
                if m.group(2) == m.group(4):
                    found[src.count("\n", 0, m.start()) + 1] = _enclosing_def(src, m.start())
            for m in sel.finditer(src):
                if m.group(1) == m.group(2):
                    found[src.count("\n", 0, m.start()) + 1] = _enclosing_def(src, m.start())
            sites.extend((rel, lineno, fn) for lineno, fn in sorted(found.items()))
    return sites


def _self_join_why(rel: str, func: str) -> str | None:
    return SELF_JOIN_JUSTIFIED.get(f"{rel}::{func}") or SELF_JOIN_JUSTIFIED.get(rel)


def main() -> None:
    spark = build_session("lint-report", cpus=8, shuffle_partitions=8)
    lines = [
        "# LINT — physical-plan scale sweep",
        "",
        "`plans/lint.py scale_lint` over every registry query at sf0.001",
        "(initial physical plan). Findings on bounded constructs carry their",
        "justification; anything else fails the sweep (exit 1).",
        "",
        "| query | findings |",
        "|---|---|",
    ]
    from financial_big_data_spark.cache import release_tracked

    unjustified = 0
    for name, (fn, _) in REGISTRY.items():
        release_tracked()
        spark.catalog.clearCache()
        try:
            df = fn(spark, SF)
            findings = scale_lint(df, executed=False)
        except Exception as exc:  # pragma: no cover - report, don't mask
            lines.append(f"| {name} | ERROR building plan: {exc} |")
            unjustified += 1
            continue
        if not findings:
            lines.append(f"| {name} | clean |")
            continue
        cells = []
        for f in findings:
            why = JUSTIFIED.get((name, f.kind))
            if why:
                cells.append(f"{f.kind} — justified: {why}")
            else:
                cells.append(f"**{f.kind} — UNJUSTIFIED**: {f.detail[:100]}")
                unjustified += 1
        # collapse duplicate kinds for readability
        lines.append(f"| {name} | {'; '.join(sorted(set(cells)))} |")
    lines.append("")
    lines.append("## Self-join pair-generation sites (source sweep)")
    lines.append("")
    lines.append("Each `Z.alias(\"a\"), Z.alias(\"b\")` self-join must bound its")
    lines.append("per-key expansion or carry a justification (SELF_JOIN_JUSTIFIED):")
    lines.append("")
    lines.append("| site | status |")
    lines.append("|---|---|")
    for path, lineno, func in _self_join_sites():
        why = _self_join_why(path, func)
        site = f"{path}:{lineno} ({func})" if func else f"{path}:{lineno}"
        if why:
            lines.append(f"| {site} | justified: {why} |")
        else:
            lines.append(
                f"| {site} | **UNJUSTIFIED unbounded pair self-join** |"
            )
            unjustified += 1
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "LINT.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote LINT.md ({unjustified} unjustified findings)")
    sys.exit(1 if unjustified else 0)


if __name__ == "__main__":
    main()
