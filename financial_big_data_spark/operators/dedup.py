"""Deduplication operators: exact, MinHash/LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (BASELINE.json north star) for training-corpus
hygiene at 100 TB. Design notes per scale:

- **Exact dedup** is a hash-groupBy on a fingerprint — one shuffle whose key
  is a 128-bit digest (uniform, skew-free).
- **MinHash** signatures are computed with explode→groupBy(doc) aggregation:
  the explode is map-local; the only shuffle is per-doc (key = doc_id,
  uniform). Hash functions are ``md5(token || salt)`` prefixes — *strings*,
  minimized lexicographically, because fixed-width lowercase hex preserves
  numeric order and both Spark and DuckDB produce identical md5 hex. No
  engine-specific hash() in any correctness-bearing path.
- **LSH banding** groups r signature slots per band; candidate pairs come
  from a self-equi-join on (band_id, band_hash) — a co-partitioned
  shuffle-hash join whose key cardinality grows with corpus size (good
  parallelism, no crossJoin anywhere).
- **n-gram Jaccard** verification is pure relational algebra on exploded
  distinct shingles: join on shingle, count shared, divide by union size.
"""

from __future__ import annotations

import warnings
from functools import reduce

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..local import local_frame


class _CapSignal:
    """Truncation telemetry for one bucket-cap site (ADVICE r11).

    The caps (``bucket_cap``/``shingle_doc_cap``) silently switch a query
    from the exact regime to the capped one when a hot bucket exceeds
    them; without a runtime signal a caller can't tell which regime
    produced their result. Each cap site registers its (persisted)
    ranked frame here; :func:`cap_truncation_events` aggregates rows past
    the cap over that cache after the caller's action and warns on any
    site that actually truncated.

    Deliberately NOT ``DataFrame.observe``: in Spark 4.1 registering even
    one ``Observation`` on a session leaves the non-serializable
    ``ObservationManager`` reachable from later job closures, and every
    subsequent MLlib fit in the session dies with "Task not serializable"
    (reproduced; pinned by
    tests/test_stats_dedup.py::test_cap_signal_does_not_poison_mllib).
    """

    __slots__ = ("site", "cap", "frame", "rank_col", "group_cols")

    def __init__(
        self,
        site: str,
        cap: int,
        frame: DataFrame,
        rank_col: str | None = None,
        group_cols: list[str] | None = None,
    ) -> None:
        self.site = site
        self.cap = cap
        self.frame = frame
        self.rank_col = rank_col
        self.group_cols = group_cols

    def result(self) -> dict | None:
        """RANK mode (``rank_col``): one tiny aggregate over the site's
        PERSISTED ranked frame (map-side combine); returns None — and
        skips the job — if the cache was already released
        (``release_tracked`` ran): the signal window has passed. Also
        None when the frame's session is stopped (``Py4JError``); any
        other error propagates.

        COUNTS mode (``group_cols``): per-bucket membership count over
        an UNPERSISTED frame + a 1-row reduce — used where caching the
        pre-cap frame would materialize the very blowup the cap bounds
        (jaccard's exploded shingle table, code-review r12); the drain
        re-evaluates that frame's lineage once (groupBy+count, no window,
        no self-join — the bounded probe a caller opts into by
        draining)."""
        try:
            if self.rank_col is not None:
                lvl = self.frame.storageLevel
                if not (lvl.useMemory or lvl.useDisk):
                    return None
                row = self.frame.agg(
                    F.sum(
                        F.when(F.col(self.rank_col) > self.cap, 1).otherwise(0)
                    ).alias("overflow_rows"),
                    F.max(self.rank_col).alias("max_bucket_members"),
                ).first()
            else:
                row = (
                    self.frame.groupBy(*self.group_cols)
                    .count()
                    .agg(
                        F.sum(
                            F.greatest(F.col("count") - self.cap, F.lit(0))
                        ).alias("overflow_rows"),
                        F.max("count").alias("max_bucket_members"),
                    )
                    .first()
                )
        except Py4JError:  # the frame's session is stopped
            return None
        overflow = int(row["overflow_rows"] or 0)
        return {
            "site": self.site,
            "cap": self.cap,
            "overflow_rows": overflow,
            "max_bucket_members": int(row["max_bucket_members"] or 0),
            "truncated": overflow > 0,
        }


_CAP_SIGNALS: list[_CapSignal] = []
_CAP_SIGNALS_MAX = 64  # bounded: a long gate session can't accumulate


def _register_cap_signal(
    df: DataFrame,
    site: str,
    cap: int,
    rank_col: str | None = "_rk",
    group_cols: list[str] | None = None,
):
    """Register a cap site for :func:`cap_truncation_events` — rank mode
    (``rank_col``, caller persists the ranked frame) or counts mode
    (``group_cols``, unpersisted membership table). Returns ``df``."""
    if len(_CAP_SIGNALS) >= _CAP_SIGNALS_MAX:
        del _CAP_SIGNALS[: len(_CAP_SIGNALS) - _CAP_SIGNALS_MAX + 1]
    _CAP_SIGNALS.append(_CapSignal(site, cap, df, rank_col, group_cols))
    return df


def cap_truncation_events(clear: bool = True, warn: bool = True) -> list[dict]:
    """Drain cap-site telemetry; the runtime signal that a
    ``bucket_cap``/``shingle_doc_cap`` actually truncated (ADVICE r11).

    Call after materializing a dedup query and BEFORE
    ``cache.release_tracked`` (each site costs one aggregate over its
    still-cached ranked frame; released sites are skipped — their signal
    window has passed). Returns one dict per live site (``overflow_rows``,
    ``max_bucket_members``, ``truncated``); emits a ``UserWarning`` per
    truncated site when ``warn`` — the documented under-link/under-count
    bias applies to that result. ``clear=False`` keeps undrained
    (released) sites registered.
    """
    out, keep = [], []
    for sig in _CAP_SIGNALS:
        res = sig.result()
        if res is None:
            if not clear:
                keep.append(sig)
            continue
        out.append(res)
        if warn and res["truncated"]:
            warnings.warn(
                f"{res['site']}: bucket cap {res['cap']} truncated "
                f"{res['overflow_rows']} row(s) (hottest bucket had "
                f"{res['max_bucket_members']} members) — result is in the "
                "capped regime: pairwise links between overflow members are "
                "delegated to star pairs + transitivity (never a false "
                "link). Pass cap=None for exact semantics.",
                stacklevel=2,
            )
    _CAP_SIGNALS[:] = keep  # drained sites always leave; skipped per `clear`
    return out


def normalized_text(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.lower(F.regexp_replace(text, r"\s+", " "))


def exact_dedup_keys(docs: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical-representative table: one row per distinct normalized text,
    keeping the smallest id (deterministic winner)."""
    return (
        docs.select(F.col(id_col), F.md5(normalized_text(text)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams as an array column (small-input/test helper).

    NOTE: higher-order-function lambdas are evaluated *interpreted* in Spark
    with no common-subexpression elimination — the inner ``split`` re-runs
    per ``element_at``, so this expression is O(tokens²) per document. The
    hot paths below use :func:`shingle_table` (posexplode + self-joins),
    where every intermediate is a materialized attribute computed once.
    """
    toks = F.split(normalized_text(text), " ")
    if n == 1:
        return F.array_distinct(toks)
    # Guarded for docs shorter than n tokens (sequence would run backwards).
    joined = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, F.array_distinct(joined)).otherwise(empty)


def shingle_table(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) rows, relationally — the scale formulation.

    ``distinct=False`` skips the dedup shuffle for consumers whose
    aggregates are duplicate-insensitive (MinHash ``min``, ``collect_set``
    rescoring); Jaccard row-counting needs ``distinct=True``.

    n-grams are assembled PER ROW from the materialized token array
    (``split`` runs once per document, ``slice``/``array_join`` build the
    i-th shingle from attribute references — no re-tokenization), then one
    ``explode`` yields the (id, shingle) rows. Tokens never cross a
    shuffle: the round-11 formulation built n-grams with ``lead(tok, k)``
    over (id ORDER BY idx), which forced an Exchange(id) + Sort of EVERY
    TOKEN ROW before the window — at corpus scale that is a full shuffle
    of the tokenized corpus purely to see adjacent tokens that were
    already adjacent in the source row (optimization guide §2.4). Results
    are identical: docs shorter than ``n`` tokens emit no rows, matching
    both the old ``_last IS NOT NULL`` filter and the DuckDB oracle's
    self-join form.
    """
    toks = F.split(normalized_text(text), " ")
    base = fan_out(docs).select(F.col(id_col), toks.alias("_toks"))
    if n == 1:
        out = base.select(id_col, F.explode("_toks").alias("shingle"))
        return out.distinct() if distinct else out
    # sequence(0, size-n) would run BACKWARDS for short docs — guard first.
    shingles = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_toks") - n),
            lambda i: F.array_join(F.slice("_toks", i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = base.select(F.col(id_col), F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


def fan_out(docs: DataFrame) -> DataFrame:
    """Spread CPU-bound per-row hashing across all cores — only when the
    input is under-partitioned.

    A small single-file parquet scans as ONE partition (maxPartitionBytes ≫
    file size), serializing the md5-heavy map work; text bytes are tiny
    relative to the hashing cost, so a round-robin repartition to the
    cluster's parallelism is pure win there. An input that already has at
    least ``defaultParallelism`` partitions is returned unchanged: a
    repartition would shuffle every row and coalesce a wide scan down to
    ``defaultParallelism`` partitions.

    The partition count is read without running a job. An exchange-free
    plan (scan, local rows, range) is sized by its RDD, which only lists
    file splits on the driver. An adaptive plan would execute its stages
    to size its RDD, so its initial physical plan's declared partitioning
    is used instead, looking through cached relations; undeclared counts
    as 0, which fans out.
    """
    target = docs.sparkSession.sparkContext.defaultParallelism
    plan = docs._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        n = _declared_partitions(plan)
    else:
        n = docs.rdd.getNumPartitions()
    return docs if n >= target else docs.repartition(target)


def _declared_partitions(plan) -> int:
    """Partition count a physical plan declares before it runs (0 when
    unknown), reading through adaptive wrappers and in-memory caches."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        return _declared_partitions(plan.inputPlan())
    n = plan.outputPartitioning().numPartitions()
    if n == 0 and name == "InMemoryTableScan":
        return _declared_partitions(plan.relation().cachedPlan())
    return n


def minhash_digest(num_hashes: int, shingle: str | Column = "shingle") -> Column:
    """THE MinHash hash-family expression — one md5 per salt bucket
    yields four independent 32-bit hex slices. Every consumer (batch
    signatures, near_dup_lsh, the streaming near-dup gate) must build
    its digest HERE: two hand-synced copies of this formula would let
    batch and streaming signatures silently drift apart."""
    s = F.col(shingle) if isinstance(shingle, str) else shingle
    return F.concat(
        *[F.md5(F.concat(s, F.lit(f"#{d}"))) for d in range(-(-num_hashes // 4))]
    )


def minhash_min_slices(num_hashes: int, h: str | Column = "h") -> list[Column]:
    """The per-signature aggregate: min over the i-th 8-hex slice of the
    digest (fixed-width lowercase hex preserves numeric order). Unaliased
    — callers name or array-pack them.

    Computed as ``min`` over the slice parsed to BIGINT, formatted back to
    the identical 8-char lowercase hex afterwards: a string-typed ``min``
    buffer forces SortAggregate (UnsafeRow aggregation needs fixed-width
    mutable buffers), so the round-11 form sorted every shingle row by doc
    id; the numeric buffer gets HashAggregate with map-side partial
    aggregation, and only per-doc partials reach the exchange
    (optimization guide §2.3 "aggregate before you shuffle"). ``%08x`` on
    a value below 2^32 reproduces the hex slice byte-for-byte, so every
    consumer (and the DuckDB oracle comparison) sees unchanged values."""
    c = F.col(h) if isinstance(h, str) else h
    return [
        F.format_string(
            "%08x", F.min(F.conv(c.substr(1 + 8 * i, 8), 16, 10).cast("bigint"))
        )
        for i in range(num_hashes)
    ]


def band_structs(num_hashes: int, bands: int, slot) -> list[Column]:
    """LSH band keys over a signature: ``slot(i)`` supplies the i-th
    MinHash value (a column ``mh_i`` or an array element), and each band
    concatenates its rows_per_band slots — the single definition both
    the batch candidate join and the streaming gate band with."""
    rows_per_band = num_hashes // bands
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[slot(b * rows_per_band + r) for r in range(rows_per_band)]
            ).alias("key"),
        )
        for b in range(bands)
    ]


def minhash_signatures(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature, map-only (no explode, no shuffle).

    Hash family: one md5 per salt bucket yields FOUR independent 32-bit
    hashes (disjoint 8-hex-char slices) — ``num_hashes`` signatures cost
    ceil(num_hashes/4) md5 calls per shingle, not num_hashes. Fixed-width
    lowercase hex preserves numeric order, so ``array_min`` over slices ≡
    numeric MinHash; DuckDB reproduces it with the same md5/substr.
    Docs with no shingles (shorter than n tokens) are dropped, matching the
    relational oracle's semantics.
    """
    # min() is duplicate-insensitive -> skip the distinct shuffle
    sh = shingle_table(docs, text, id_col, shingle_n, distinct=False)
    # digest becomes a materialized attribute at the aggregate boundary —
    # the md5s run once per shingle row; the 8 substr-mins are trivial.
    hashed = sh.select(F.col(id_col), minhash_digest(num_hashes).alias("h"))
    return hashed.groupBy(id_col).agg(
        *[c.alias(f"mh_{i}") for i, c in enumerate(minhash_min_slices(num_hashes))]
    )


def _cap_bucket(
    banded: DataFrame, keys: list[str], id_col: str, cap: int,
    site: str = "_cap_bucket",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bound a banded table's per-bucket membership at ``cap``.

    Returns ``(head, overflow_with_rep, ranked)``: ``head`` keeps each bucket's
    ``cap`` min-``xxhash64`` members (deterministic uniform sample — the
    same discipline as ml/graph.py ``cooccurrence_pairs``' slot_cap);
    ``overflow_with_rep`` carries every row PAST the cap joined to its
    bucket's rank-1 representative (columns of ``banded`` plus the rep's
    columns suffixed ``_rep``). Head self-join work is ≤ cap² per bucket;
    overflow contributes one LINEAR star edge per excess member, so a
    capped bucket still connects ALL its members into one component for
    cluster consumers (transitivity through the representative) — the
    expansion is bounded without orphaning overflow docs. With every
    bucket ≤ cap the result is EXACT (overflow empty); the registered
    oracle queries run far below the default caps at test SFs, so their
    hashes certify the capped path in its exact regime.

    The ranked frame is ``tracked_persist``-ed: four consumers read it
    (head self-join a/b sides, overflow, representative) and without the
    pin each would re-execute the whole upstream signature pipeline —
    measured ~2× the query (released by ``cache.release_tracked``, the
    registry/bench contract). The persisted ranked frame is returned as
    the third element so callers can run bounded probes (bucket-size
    selectivity, candidate-doc sets) against the cache instead of
    re-deriving the banding (optimization r13).
    """
    from ..cache import tracked_persist

    if cap < 1:
        # cap=0 would empty the head and star the rank-1 representative to
        # ITSELF (id_a == id_b), violating the id_a < id_b contract; None
        # is the documented disable value
        raise ValueError(f"bucket cap must be >= 1 (got {cap}); pass None to disable")
    w = Window.partitionBy(*keys).orderBy(F.xxhash64(F.col(id_col)), id_col)
    ranked = tracked_persist(banded.withColumn("_rk", F.row_number().over(w)))
    _register_cap_signal(ranked, site, cap)
    head = ranked.where(F.col("_rk") <= cap).drop("_rk")
    overflow = ranked.where(F.col("_rk") > cap).drop("_rk")
    rep = ranked.where(F.col("_rk") == 1).select(
        *keys,
        *[
            F.col(c).alias(f"{c}_rep")
            for c in banded.columns
            if c not in keys
        ],
    )
    return head, overflow.join(rep, on=keys), ranked


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """Band the signature and self-join on (band, band-key) → candidate pairs.

    Returns distinct (id_a, id_b) with id_a < id_b. The join key includes the
    band index so one shuffle covers all bands (explode-then-join, not
    bands× separate joins).

    Scale bound: a bucket of B members would emit B²/2 pairs — after exact
    dedup, near-identical boilerplate families at corpus scale still form
    hot buckets, so per-(band, key) membership is capped at ``bucket_cap``
    min-``xxhash64`` members (see :func:`_cap_bucket`); members past the
    cap each contribute ONE star pair to the bucket representative instead,
    keeping cluster connectivity (dup_clusters transitivity) while bounding
    work at cap² + linear overflow per bucket. Stated bias: pairwise recall
    BETWEEN overflow members of a hot bucket is delegated to verification
    of their star pairs + transitivity — an under-link for pair-level
    consumers, never a false link (every emitted pair truly shared a
    bucket). ``bucket_cap=None`` disables (exact-parity escape hatch).
    """
    pairs, _ranked = _lsh_candidate_pairs_ranked(
        signatures, id_col, num_hashes, bands, bucket_cap
    )
    return pairs


def _lsh_candidate_pairs_ranked(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    bucket_cap: int | None = 1024,
) -> tuple[DataFrame, DataFrame | None]:
    """``lsh_candidate_pairs`` plus the PERSISTED ranked band table (None
    when ``bucket_cap`` is None) — callers that need a cheap candidate
    selectivity probe (``near_dup_lsh``'s gated rescore, optimization r13)
    read bucket sizes off the cache instead of re-deriving the banding."""
    band_cols = band_structs(num_hashes, bands, lambda i: F.col(f"mh_{i}"))
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    star = None
    ranked = None
    if bucket_cap is not None:
        banded, overflow, ranked = _cap_bucket(
            banded, ["band", "key"], id_col, bucket_cap,
            site="lsh_candidate_pairs.bucket_cap",
        )
        star = overflow.select(
            F.least(F.col(id_col), F.col(f"{id_col}_rep")).alias("id_a"),
            F.greatest(F.col(id_col), F.col(f"{id_col}_rep")).alias("id_b"),
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, on=["band", "key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs.distinct(), ranked


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
    min_jaccard: float = 0.0,
    shingle_doc_cap: int | None = 1024,
) -> DataFrame:
    """Shingle-set Jaccard similarity, relationally.

    With ``pairs`` given (e.g. LSH candidates) only those pairs are scored,
    and the candidate-id filter is applied BEFORE the shingle self-join (a
    left-semi on the exploded table), so join input shrinks to candidate
    docs — the hot-shingle quadratic blowup only ever sees the candidate
    subset. Without ``pairs``, all pairs sharing ≥1 shingle are scored (the
    exact mode; at corpus scale feed LSH candidates or use near_dup_lsh).
    Returns (id_a, id_b, n_a, n_b, n_shared, jaccard).

    Exact-mode guard: the per-shingle self-join is quadratic in shingle
    frequency — one stop-word shingle (or any boilerplate n-gram) makes a
    single group O(docs²). When ``pairs`` is omitted, per-shingle doc
    membership is therefore capped at ``shingle_doc_cap`` min-``xxhash64``
    docs; a shingle shared by more docs than that carries ~no similarity
    signal anyway (the IDF argument), and the bias is a pure UNDER-count of
    ``n_shared``/``jaccard`` concentrated on those stop shingles — no pair
    is ever over-scored. With every shingle below the cap the result is
    EXACT (the registered ``doc_jaccard_pairs`` oracle certifies that
    regime). ``shingle_doc_cap=None`` disables; candidate mode never caps
    (its input is already bounded by the candidate set).
    """
    exploded = shingle_table(docs, text, id_col, shingle_n)
    if pairs is not None:
        cand_ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        exploded = exploded.join(cand_ids, on=id_col, how="left_semi")
    sizes = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = exploded
    if pairs is None and shingle_doc_cap is not None:
        from ..cache import tracked_persist

        if shingle_doc_cap < 2:
            # a 1-doc shingle membership can never form a pair — the whole
            # exact mode would silently return empty
            raise ValueError(
                f"shingle_doc_cap must be >= 2 (got {shingle_doc_cap}); "
                "pass None to disable"
            )
        w = Window.partitionBy("shingle").orderBy(F.xxhash64(F.col(id_col)), id_col)
        # counts-mode signal over the UNPERSISTED exploded table: caching
        # the pre-cap ranked frame here would materialize the hot-shingle
        # blowup the cap exists to bound (code-review r12) — the drain
        # recomputes one groupBy+count instead
        _register_cap_signal(
            exploded, "jaccard_pairs.shingle_doc_cap", shingle_doc_cap,
            rank_col=None, group_cols=["shingle"],
        )
        # pinned: both self-join sides read the capped table — without
        # the pin each re-runs the shingle explode + rank window; only
        # the ≤cap rows per shingle are cached
        joinable = tracked_persist(
            exploded.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= shingle_doc_cap)
            .drop("_rk")
        )
    a = joinable.alias("a")
    b = joinable.alias("b")
    shared = (
        a.join(b, on="shingle")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    if pairs is not None:
        shared = shared.join(pairs, on=["id_a", "id_b"], how="left_semi")
    out = (
        shared.join(sizes.withColumnsRenamed({id_col: "id_a", "n_sh": "n_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({id_col: "id_b", "n_sh": "n_b"}), on="id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .select("id_a", "id_b", "n_a", "n_b", "n_shared", "jaccard")
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def near_dup_lsh(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    bucket_cap: int | None = 1024,
    rescore_selectivity: bool = False,
) -> DataFrame:
    """The scale path for near-duplicate detection: MinHash → LSH banding →
    exact Jaccard verification on candidates only.

    Complexity: map-only signatures, one self-join keyed by (band, key)
    whose output is ~(true near-dups + collisions) — NOT all-pairs — then an
    array-intersect rescoring joined doc-by-doc (candidates are tiny, so the
    shingle arrays are joined broadcast-style). At (1/bands)^(rows/band) ≈
    j* = 0.5 the banding keeps recall high for pairs above ``min_jaccard``.
    Returns (id_a, id_b, n_a, n_b, n_shared, jaccard).

    Candidate-pruned rescore (optimization r13, VERDICT r12 #6): the
    ``collect_set`` rescore input aggregates the shingles of EVERY doc,
    but the pair join only ever consults docs that appear in a candidate
    pair, and a doc is in a candidate pair iff it shares some (band, key)
    bucket with another doc. ``rescore_selectivity`` semi-joins the
    rescore input to exactly those ids, derived IN-PLAN from the cap's
    persisted band table (bucket size = window count over the banding's
    own partitioning — no extra exchange, no driver action). Pruning is a
    pure row-subset of rows the inner join would drop anyway — results
    are identical (oracle-hash certified). On a selective corpus the
    collect_set shuffle shrinks to candidate docs only (guide §2.3
    "shuffle fewer bytes", §3.2 semi-join pre-filter). Default OFF: on
    the DENSE local fixtures (most docs are candidates) the prune's own
    work — window bucket count + candidate distinct + a broadcast hash
    probe per shingle row — measured +0.3-0.9 s per query for zero
    pruning (min-of-5 A/B, optimization r13), and a driver-side
    selectivity probe was worse still (its eager pipeline
    materialization serialized ~2 s of otherwise-overlapped stages).
    Opt in for corpora where near-dups are a small fraction of docs —
    the usual web-dedup regime; route parity is pinned by
    tests/test_stats_dedup.py and the pruned route is measured against
    the unpruned one on a sparse fixture in bench.py's scale-proof
    section. Requires ``bucket_cap`` (the candidate set reads the cap's
    persisted ranked frame); ``bucket_cap=None`` keeps the unpruned
    form.
    """
    # min()/collect_set() are duplicate-insensitive -> distinct shuffle skipped.
    # tracked: signatures AND the candidate rescoring read this frame; the
    # returned pairs are lazy over it, so it stays pinned until the caller
    # materializes and release_tracked (registry / bench) drops it.
    from ..cache import tracked_persist

    sh = tracked_persist(shingle_table(docs, text, id_col, shingle_n, distinct=False))
    sigs = (
        sh.select(F.col(id_col), minhash_digest(num_hashes).alias("h"))
        .groupBy(id_col)
        .agg(*[
            c.alias(f"mh_{i}")
            for i, c in enumerate(minhash_min_slices(num_hashes))
        ])
    )
    cands, ranked = _lsh_candidate_pairs_ranked(
        sigs, id_col, num_hashes, bands, bucket_cap=bucket_cap
    )
    sets_src = sh
    if ranked is not None and rescore_selectivity:
        # candidate ids = docs sharing a (band, key) bucket with ≥1 other
        # doc — EXACTLY the ids the pair join can emit (head pairs need a
        # ≥2 bucket; star pairs' overflow members and representatives live
        # in over-cap buckets, which are ≥2 by definition). Bucket size is
        # a window count over the banding's own persisted partitioning
        # (no new exchange); the semi-join is lazy and runs INSIDE the
        # caller's job — no driver action, no serialization point.
        bsz = F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        cand_ids = (
            ranked.select(F.col(id_col), bsz.alias("_bsz"))
            .where(F.col("_bsz") >= 2)
            .select(id_col)
            .distinct()
        )
        sets_src = sh.join(cand_ids, on=id_col, how="left_semi")
    sets = sets_src.groupBy(id_col).agg(F.collect_set("shingle").alias("sh"))
    out = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), on="id_a"
        )
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.size("sh_a").alias("n_a"),
            F.size("sh_b").alias("n_b"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_shared"),
        )
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
    )
    return out.where(F.col("jaccard") >= min_jaccard)


def simhash(docs: DataFrame, text: str = "text", id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash fingerprint over word tokens.

    Bit b of the hash of each token votes ±1; the fingerprint sets bit b where
    the vote sum is positive. Token hash = first 16 hex chars of md5 → bigint
    (cross-engine reproducible via conv()).
    """
    toks = fan_out(docs).select(
        F.col(id_col), F.explode(F.array_distinct(F.split(normalized_text(text), " "))).alias("tok")
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("bigint")
    votes = toks.select(F.col(id_col), h.alias("h"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = votes.groupBy(id_col).agg(*bit_aggs)
    fp = reduce(
        lambda acc, b: acc + F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)),
        range(bits),
        F.lit(0),
    )
    return voted.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    n_bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded Hamming-distance LSH.

    The third near-dup family beside shingle-MinHash (``near_dup_lsh``)
    and embedding-cosine (``similarity.embedding_near_dups``): fingerprint
    each document with a ``bits``-bit SimHash, then find all pairs within
    Hamming distance ``max_hamming`` — the Google web-dedup formulation
    (Manku et al., WWW 2007, "Detecting near-duplicates for web crawling").

    EXACT by the pigeonhole principle: the fingerprint is cut into
    ``n_bands`` contiguous bit-bands; two fingerprints differing in at
    most ``max_hamming`` bits must agree exactly on at least one band
    whenever ``n_bands > max_hamming`` (enforced). Candidates therefore
    come from an equi-join on (band, band_value) — never an all-pairs
    scan — and one JVM-side ``bit_count(xor)`` verifies the true distance.
    The result is identical to the brute-force O(n²) comparison (the
    DuckDB oracle runs exactly that).

    Scale shape: signatures are one groupBy(doc) away from the token
    stream; the candidate join shuffles (band, value) keys — with 12-bit
    bands the bucket key space is 4×4096, so genuinely web-scale corpora
    should raise ``bits``/``n_bands`` to widen bands (band width =
    bits/n_bands bounds bucket count at 2^width per band). The distinct
    before verification collapses multi-band hits so each candidate pair
    is rescored once.

    Scale bound: per-(band, bkey) membership is capped at ``bucket_cap``
    min-``xxhash64`` members (:func:`_cap_bucket`); overflow members each
    contribute one star pair to the bucket representative, which still
    passes the ``bit_count(xor)`` verification, so no false pair can be
    introduced. BIAS when a bucket overflows: the pigeonhole exactness
    weakens from "all pairs within hamming ≤ h" to "all pairs where at
    least one shared band survived the cap, plus verified star edges" —
    an under-link on hot boilerplate buckets only; components stay
    connected through the representative. Buckets below the cap (all
    registered fixtures/oracles) are EXACT. ``bucket_cap=None`` disables.
    """
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} "
            "for the banded filter to be exact (pigeonhole)"
        )
    if bits % n_bands:
        raise ValueError(f"bits={bits} must divide evenly into n_bands={n_bands}")
    width = bits // n_bands
    mask = (1 << width) - 1
    sh = simhash(docs, text, id_col, bits)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bkey"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        F.col(id_col),
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.bkey").alias("bkey"),
    )
    star = None
    if bucket_cap is not None:
        bands, overflow, _ranked = _cap_bucket(
            bands, ["band", "bkey"], id_col, bucket_cap,
            site="simhash_near_dups.bucket_cap",
        )
        star_ham = F.bit_count(
            F.col("simhash").bitwiseXOR(F.col("simhash_rep"))
        ).cast("bigint")
        star = (
            overflow.select(
                F.least(F.col(id_col), F.col(f"{id_col}_rep")).alias("id_a"),
                F.greatest(F.col(id_col), F.col(f"{id_col}_rep")).alias("id_b"),
                star_ham.alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
        )
    left = bands.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bkey"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bkey"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("bigint")
    # hamming filters BEFORE the distinct: the verify predicate is a cheap
    # per-row expression, so applying it on the raw multi-band candidate
    # stream shrinks the dedup shuffle instead of deduping everything and
    # filtering after
    verified = (
        left.join(right, on=["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )
    if star is not None:
        verified = verified.unionByName(star)
    return verified.distinct()


def dup_clusters(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
    bucket_cap: int | None = 1024,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS and elect one
    canonical survivor per cluster.

    Pairwise near-dup output is not directly actionable for dedup: if
    A~B and B~C, dropping "the second of every pair" can drop B twice or
    keep A and C which were never compared. The standard fix (used by
    fuzzy-dedup pipelines over web corpora) is to take the connected
    components of the near-dup graph and keep exactly one document per
    component. Pairs come from the LSH scale path (``near_dup_lsh``);
    components from min-label flooding (ml/graph.py
    ``connected_components``) — a handful of joins on an edge set that is
    ~(true dup pairs), *not* all-pairs, so the iterative part runs on a
    graph many orders of magnitude smaller than the corpus.

    Returns one row per document that participates in any near-dup pair:
    (doc_id, cluster_id = min doc_id of its component, cluster_size,
    is_canonical ∈ {0,1}). Documents with no near-dups are implicitly
    their own singleton clusters and are omitted (at 100 TB the
    overwhelming majority — emitting them would turn a dup-sized result
    into a corpus-sized one).
    """
    pairs = near_dup_lsh(
        docs, text, id_col, num_hashes, bands, shingle_n, min_jaccard,
        bucket_cap=bucket_cap,
    )
    return pair_clusters(pairs, id_col)


def pair_clusters(
    pairs: DataFrame, id_col: str, driver_max_pairs: int = 200_000
) -> DataFrame:
    """Shared cluster roll-up: (id_a, id_b) pairs → connected components →
    (id_col, cluster_id = component min id, cluster_size, is_canonical).
    Used by both the shingle-LSH (``dup_clusters``) and the embedding
    (``similarity.semantic_dup_clusters``) dedup paths.

    Auto-routed like the repo's other graph steps (Louvain, DBSCAN): the
    near-dup pair set is bounded metadata — orders of magnitude smaller
    than the corpus — so when it fits (≤ ``driver_max_pairs``) the
    components run as a driver-side union-find (microseconds) instead of
    iterative min-label flooding, whose per-iteration job overhead
    dominates small graphs. The pair frame is persisted (tracked) so the
    LSH pipeline executes once for the count + collect/flood. The
    distributed path remains the >200k-pairs scale route.
    """
    from ..cache import tracked_persist
    from ..ml.graph import connected_components

    pairs = tracked_persist(pairs.select("id_a", "id_b"))
    # ONE bounded job decides the route AND feeds the driver path: head(max+1)
    # returns every pair iff there are ≤ max (the old form paid a count job
    # and then a full collect job over the same persisted frame —
    # optimization r12, two actions fused into one)
    head_rows = pairs.head(driver_max_pairs + 1)
    if len(head_rows) <= driver_max_pairs:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in head_rows:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so component = min node id directly
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # sizes + canonical flags resolved driver-side too: the graph is
        # already in memory (bounded by driver_max_pairs), so the final
        # rows go back as one local relation, read with no Spark job
        sizes: dict = {}
        comp_of = {node: find(node) for node in parent}
        for c in comp_of.values():
            sizes[c] = sizes.get(c, 0) + 1
        rows = [
            (node, c, sizes[c], int(node == c)) for node, c in comp_of.items()
        ]
        schema = (
            pairs.select(F.col("id_a").alias(id_col)).schema
            .add("cluster_id", pairs.schema["id_a"].dataType)
            .add("cluster_size", "long")
            .add("is_canonical", "integer")
        )
        return local_frame(pairs.sparkSession, rows, schema)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(edges)
    sizes_df = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes_df, on="component").select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster_id"),
        F.col("cluster_size"),
        (F.col("node") == F.col("component")).cast("int").alias("is_canonical"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    existing: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an incoming batch against an already-curated corpus — the
    daily-ingest shape: the existing corpus is only ever read as
    fingerprints, never rewritten.

    Two stages, both exact: (1) within-batch collapse to the smallest id
    per normalized-text fingerprint, (2) left-anti join of the survivors
    against the existing corpus's distinct fingerprint set. Returns
    (id_col, fp, batch_copies) for batch docs that are genuinely new.

    Scale: fingerprints are md5 of normalized text — uniform join keys, so
    the anti-join shuffles evenly no matter how skewed the raw text is; at
    100 TB the existing side is a fingerprint-only table (32 bytes + id),
    orders of magnitude smaller than the corpus it summarizes.
    """
    ex_fp = existing.select(F.md5(normalized_text(text)).alias("fp")).distinct()
    new_fp = new_docs.select(F.col(id_col), F.md5(normalized_text(text)).alias("fp"))
    batch_keep = new_fp.groupBy("fp").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("batch_copies")
    )
    return batch_keep.join(ex_fp, on="fp", how="left_anti").select(
        id_col, "fp", "batch_copies"
    )


# Two independent 31-bit-prime polynomial hash channels for the rolling
# span hash: a false candidate needs a simultaneous collision mod BOTH
# primes (~2^62 combined space), and candidates are exact-verified anyway.
_RH_PARAMS = [
    (2147483629, 1000003, 0x5EED1),
    (2147483587, 1000033, 0x5EED2),
]
# base-2^6 digits, 11 levels: 64^11 = 2^66 covers every positive bigint
# index, so the decomposition can never silently wrap (a wrapped power
# would hash identical sequences differently and MISS duplicates — a
# recall loss the exact-verify stage cannot repair). Table width is a
# DRIVER-side tradeoff, not an executor one: each table is a CreateArray
# of literals in the unresolved plan, and the analyzer re-walks every
# expression node on each subsequent DataFrame operation — 2^11-wide
# tables (3 levels) put ~25k nodes in the plan and cost ~3.4s of
# analysis per plan BUILD (measured, sf-independent); 64-wide tables cut
# that ~16× while execution stays O(1) lookups either way (the arrays
# constant-fold to a single Literal before execution).
_RH_DIGIT_BITS = 6
_RH_DIGIT_LEVELS = 11


def _rh_digit_arrays(base: int, p: int, invert: bool) -> list[list[int]]:
    """Power tables ``A_t[d] = base^(d·64^t) mod p`` (inverse base when
    ``invert``) so ``base^idx mod p`` is one ``element_at`` lookup per
    digit level + a modular-multiply chain — no per-row modpow loop, no
    join."""
    b = pow(base, p - 2, p) if invert else base
    n = 1 << _RH_DIGIT_BITS
    arrays = []
    step = b
    for _ in range(_RH_DIGIT_LEVELS):
        acc, table = 1, []
        for _d in range(n):
            table.append(acc)
            acc = acc * step % p
        arrays.append(table)
        step = pow(step, n, p)
    return arrays


_RH_ARRAY_CACHE: dict = {}


def _modpow_digits(idx: Column, base: int, p: int, invert: bool = False) -> Column:
    """``base^idx mod p`` (or ``base^-idx``) as a Column — digit
    decomposition of ``idx`` against literal power tables.

    The table Columns are CACHED per (base, p, invert): building a
    2048-element array literal element-by-element (``F.lit(list)`` →
    one py4j ``lit`` call per element) costs seconds of driver round
    trips PER PLAN BUILD; a single ``F.expr("array(...)")`` parse
    constant-folds to the same Literal in one call, and Columns are
    immutable so one instance serves every subsequent plan."""
    key = (base, p, invert)
    if key not in _RH_ARRAY_CACHE:
        _RH_ARRAY_CACHE[key] = tuple(
            F.expr("array(" + ",".join(f"{v}L" for v in t) + ")")
            for t in _rh_digit_arrays(base, p, invert)
        )
    mask = (1 << _RH_DIGIT_BITS) - 1
    i = idx.cast("bigint")
    out = None
    for lvl, arr in enumerate(_RH_ARRAY_CACHE[key]):
        d = (
            F.shiftright(i, lvl * _RH_DIGIT_BITS).bitwiseAND(F.lit(mask)) + 1
        ).cast("int")
        term = F.element_at(arr, d)
        out = term if out is None else F.pmod(out * term, F.lit(p))
    return out


def _span_occurrences_lead(toks: DataFrame, w, id_col: str, k: int) -> DataFrame:
    """(id, idx, h) for EVERY k-token span — md5 over a k-wide ``lead``
    column fan; one keyed window pass of O(n·k) string work. The win for
    narrow spans: exact hashes fall out of the single window stage with
    no further shuffles."""
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, k)]
    return (
        toks.select(
            F.col(id_col),
            F.col("idx"),
            F.lead("tok", k - 1).over(w).alias("_last"),
            F.md5(F.concat_ws(" ", *parts)).alias("h"),
        )
        .where(F.col("_last").isNotNull())
        .select(id_col, "idx", "h")
    )


def _span_occurrences_rolling(
    toks: DataFrame, w, id_col: str, k: int
) -> DataFrame:
    """(id, idx, h) for CANDIDATE spans only (hash pair seen ≥ 2) — the
    O(n)-window path for wide spans:

    1. each token hashes to two residues mod 31-bit primes; a single
       cumulative-sum window builds the prefix ``Q(i) = Σ h_j·B^{-j}``
       and the span hash is ``(Q(i+k-1) − Q(i−1))·B^{i+k-1} mod p`` —
       one narrow cumsum + one ``lead(Q, k−1)`` per prime, bigint
       modular arithmetic inside codegen; ``B^{±idx} mod p`` comes from
       base-2^6 digit tables (``_modpow_digits``), no per-row loop;
    2. identical token sequences always collide (the hash is a pure
       function of the sequence), so recall is exact; false candidates
       need a simultaneous collision mod BOTH primes (~2^62 space) and
       only cost verify work, never correctness;
    3. EXACT verification on candidates only: covered positions
       re-extracted via ``sequence``-explode join against the token
       table (bounded by candidate mass, not corpus size), the true
       span text reassembled and md5'd — duplicate identity is decided
       by the same md5-of-exact-text contract as the lead path. Unique
       spans never appear in the output, which is sound because a
       unique span can never lose.

    The cumulative sum stays below 2^63 for documents up to 2^32
    tokens (each term < 2^31)."""
    from ..cache import tracked_persist

    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rh_cols = []
    for tag, (p, b, seed) in enumerate(_RH_PARAMS, start=1):
        inv = _modpow_digits(F.col("idx"), b, p, invert=True)
        h = F.pmod(F.xxhash64(F.col("tok"), F.lit(seed)), F.lit(p))
        t = F.pmod(h * inv, F.lit(p))
        q = F.sum(t).over(cum)
        q_end = F.lead(q, k - 1).over(w)  # null past doc end → span excluded
        d = F.pmod(q_end - (q - t), F.lit(p))
        pw_end = _modpow_digits(F.col("idx") + F.lit(k - 1), b, p)
        rh_cols.append(F.pmod(d * pw_end, F.lit(p)).alias(f"rh{tag}"))
    spans = tracked_persist(
        toks.select(F.col(id_col), F.col("idx"), *rh_cols).where(
            F.col("rh1").isNotNull()
        )
    )
    cand_keys = (
        spans.groupBy("rh1", "rh2")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("rh1", "rh2")
    )
    candidates = spans.join(cand_keys, on=["rh1", "rh2"]).select(id_col, "idx")
    return (
        candidates.select(
            F.col(id_col),
            F.col("idx"),
            F.explode(
                F.sequence(F.col("idx"), F.col("idx") + F.lit(k - 1))
            ).alias("pos"),
        )
        .join(
            toks.select(F.col(id_col), F.col("idx").alias("pos"), "tok"),
            on=[id_col, "pos"],
        )
        .groupBy(id_col, "idx")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                        ),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("h")
        )
    )


# Crossover between the two span-hash formulations, in tokens: below
# this the k-wide lead fan's single window stage beats the rolling
# path's extra shuffles (candidate groupBy + join-back + verify join);
# above it the O(n·k) string work dominates. Measured at sf0.1 (270k
# tokens) with noop-write wall time (the honest metric — count() lets
# Catalyst prune the text-rebuild column, hiding most of the cost):
# rolling is FLAT in k at ~6.5-8s; lead grows linearly — ~1.8-2.7s at
# k=10, ~4-5s at k=50-64, ~9-12s at k=100 — local warm crossover ≈ 80.
# At cluster scale the crossover drops: rolling's overhead is a fixed
# number of narrow shuffles that amortize with data size, while the
# lead fan's O(n·k) string CPU does not.
_SPAN_ROLLING_MIN_TOKENS = 80


def span_dedup(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
    method: str = "auto",
) -> DataFrame:
    """Duplicated-SPAN removal — exact substring dedup at token
    granularity (the Lee et al. 2022 "Deduplicating Training Data"
    operation, re-expressed relationally): any ``span_tokens``-token
    window whose text occurs more than once across the corpus keeps its
    FIRST occurrence (global (id, position) order) and is cut from every
    other location; document-level dedup (``exact_dedup_keys`` /
    ``near_dup_lsh``) cannot see these — boilerplate headers, license
    blocks, quoted passages — because the SURROUNDING document differs.

    Relational pipeline, no suffix arrays, no driver state:

    1. tokenize (posexplode); the token table is PERSISTED (three
       consumers: span hashing, exact verify, survivor anti-join);
    2. span occurrence hashing, size-routed by ``method``:
       ``"lead"`` — md5 over a ``span_tokens``-wide lead fan, one keyed
       window pass (``_span_occurrences_lead``); ``"rolling"`` — O(n)
       two-prime rolling hash + candidate detect + exact verify
       (``_span_occurrences_rolling``); ``"auto"`` routes on
       ``_SPAN_ROLLING_MIN_TOKENS`` (narrow spans → lead, wide → rolling
       — measured crossover, see the constant). Both paths key
       duplicate identity by md5 of the exact span text, so results are
       identical;
    3. span hashes aggregate once: occurrences ≥ 2 are duplicated; the
       winner is the min (id, idx) struct — one aggregate, no self-join;
    4. losing occurrences explode to their covered token positions
       (``sequence`` — output bounded by duplicate MASS, not corpus
       size), distinct, and anti-join the token table;
    5. surviving tokens reassemble via sort_array over (idx, token)
       structs — deterministic, no order-by window.

    Returns (id_col, text, n_tokens, n_removed) with the cleaned text
    (single-space joined). Docs shorter than ``span_tokens`` pass
    through untouched; NULL-text docs emit no row. md5 collisions could
    cut a non-duplicate span; at 2^128 that is the standard accepted
    risk of every hash-keyed dedup in this module.

    Overlapping duplicated spans union their positions (stride-1
    windows make consecutive duplicate positions contiguous), so a long
    repeated block is removed exactly once however many windows cover
    it.
    """
    if span_tokens < 2:
        raise ValueError("span_tokens must be >= 2")
    if method not in ("auto", "lead", "rolling"):
        raise ValueError(f"unknown span_dedup method: {method!r}")
    from ..cache import tracked_persist

    if method == "auto":
        method = "rolling" if span_tokens >= _SPAN_ROLLING_MIN_TOKENS else "lead"

    toks = tracked_persist(
        fan_out(docs).select(
            F.col(id_col),
            F.posexplode(F.split(normalized_text(text), " ")).alias("idx", "tok"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("idx")

    if method == "lead":
        occ = _span_occurrences_lead(toks, w, id_col, span_tokens)
    else:
        occ = _span_occurrences_rolling(toks, w, id_col, span_tokens)
    # per_hash and losers both consume the occurrence table — persist so
    # its subtree (the wide window / the verify aggregate) executes once.
    occ = tracked_persist(occ)
    per_hash = occ.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("idx").alias("p"))).alias("w"),
    )
    losers = (
        occ.join(per_hash.where(F.col("n_occ") >= 2), on="h")
        .where(
            (F.col(id_col) != F.col("w.i")) | (F.col("idx") != F.col("w.p"))
        )
        .select(id_col, "idx")
    )
    covered = losers.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("idx"), F.col("idx") + F.lit(span_tokens - 1))
        ).alias("idx"),
    ).distinct()
    kept = toks.join(covered, on=[id_col, "idx"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("idx"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias(text),
    )
    # Token totals come from a doc-cardinality aggregate over per-row
    # token counts (split of "" yields [""], matching posexplode's one
    # row) — a shuffle on doc ids, never on tokens. The null filter and
    # the groupBy reproduce the token-table semantics exactly: NULL-text
    # docs emit no posexplode rows (so they must emit no output row,
    # not a bogus negative count), and duplicate ids aggregate to ONE
    # output row whose total spans all their rows.
    totals = (
        docs.where(F.col(text).isNotNull())
        .select(
            F.col(id_col),
            F.size(F.split(normalized_text(text), " ")).cast("bigint").alias("_n"),
        )
        .groupBy(id_col)
        .agg(F.sum("_n").alias("_n_orig"))
    )
    return (
        totals.join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col(text), F.lit("")).alias(text),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            (F.col("_n_orig") - F.coalesce(F.col("n_tokens"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )
