"""Versioned parquet tables: copy-on-write snapshots, time travel, CDC.

``maintenance.merge_upsert`` rewrites partitions in place — correct, but
the previous state is gone. Lakehouse formats solve that with a
transaction log; the same property composes from plain parquet plus a
tiny manifest layer (the mechanism beneath every table format):

- **data files are immutable** — each write lands in a fresh
  ``data/batch-<uuid>/`` directory and is never modified;
- **a version is a manifest** — ``_versions/v<N>.json`` lists the exact
  files that make up snapshot N (bounded metadata: one row per file);
- **commit is one atomic pointer flip** — ``_versions/CURRENT`` is
  replaced via ``os.replace`` after the manifest is fully written, so
  readers see the old or the new snapshot, never a torn one;
- **upsert is copy-on-write, file-scoped** — writes cluster by key
  (frozen-boundary range clustering + sort, ``zorder.range_clustered``
  — deterministic layout, no sampled boundaries), so footers carry tight
  min/max key ranges; an upsert rewrites ONLY the files whose key range
  overlaps the update batch (footer statistics read via pyarrow — no
  data scan) and CARRIES OVER every other file by reference. Untouched
  bytes are shared between snapshots, not copied.

Time travel = read any manifest. CDC = a keyed full-outer join between
two snapshots classifying insert/update/delete — the changefeed a
downstream incremental consumer replays.

At 100 TB: manifests are KBs; the upsert's work is proportional to the
overlapping files + update batch, not the table; ``vacuum`` retires old
snapshots by reference-counting files across the surviving manifests.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentCommitError(RuntimeError):
    """Two writers raced to the same version number — the loser's commit
    is rejected (manifests are claimed with O_EXCL) rather than silently
    overwriting the winner's manifest and orphaning its files."""


def _vdir(path: str) -> str:
    return os.path.join(path, "_versions")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_vdir(path), f"v{version}.json")


def current_version(path: str) -> int:
    cur = os.path.join(_vdir(path), "CURRENT")
    with open(cur) as f:
        return int(f.read().strip())


def _load_manifest(path: str, version: int | None) -> dict:
    v = current_version(path) if version is None else version
    with open(_manifest_path(path, v)) as f:
        m = json.load(f)
    return m


def _commit(path: str, files: list[str], version: int) -> None:
    """Single-writer commit protocol. Readers get atomicity for free
    (manifest fully written before the CURRENT flip); WRITERS must be
    serialized externally — the manifest is created with O_EXCL so a
    second writer that raced to the same version number fails loudly
    (ConcurrentCommitError) instead of silently orphaning the first
    commit's data files."""
    os.makedirs(_vdir(path), exist_ok=True)
    manifest = {"version": version, "files": sorted(files)}
    mp = _manifest_path(path, version)
    tmp = mp + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    try:
        # hard-link claims the version number AND publishes the complete
        # manifest in ONE atomic step — an O_EXCL-then-replace sequence
        # would leave an empty v<N>.json (bricking the version number)
        # if the writer crashed between the two calls
        os.link(tmp, mp)
    except FileExistsError:
        os.remove(tmp)
        raise ConcurrentCommitError(
            f"version {version} already committed at {mp}; "
            "re-read CURRENT and retry the operation"
        )
    os.remove(tmp)
    # uuid-suffixed tmp: repair_current runs on READS, so a reader racing
    # this writer (or another reader) must never interleave write/replace
    # on a shared tmp name — each flip owns its own file, os.replace stays
    # the only shared step and it is atomic
    cur_tmp = os.path.join(_vdir(path), f"CURRENT.{uuid.uuid4().hex[:12]}.tmp")
    with open(cur_tmp, "w") as f:
        f.write(str(version))
    os.replace(cur_tmp, os.path.join(_vdir(path), "CURRENT"))


def repair_current(path: str) -> int | None:
    """SINGLE-WRITER torn-commit recovery: ``_commit`` publishes the
    manifest (hard-link, atomic) and THEN flips CURRENT — a crash between
    the two leaves a fully-published manifest that readers can't see and
    a version number the next commit would collide on. Under the module's
    single-writer contract that state can only mean "my own previous
    attempt died mid-commit", so completing it — pointing CURRENT at the
    highest published manifest — is always correct. Returns the repaired
    version, or None if there was nothing to repair (including a table
    with no versions yet)."""
    import re

    vdir = _vdir(path)
    if not os.path.isdir(vdir):
        return None
    versions = [
        int(m.group(1))
        for f in os.listdir(vdir)
        if (m := re.fullmatch(r"v(\d+)\.json", f))
    ]
    if not versions:
        return None
    try:
        cur = current_version(path)
    except FileNotFoundError:
        cur = 0
    top = max(versions)
    if top <= cur:
        return None
    # uuid-suffixed tmp (same as _commit's flip): repair runs on every
    # read path, so concurrent readers each flip through a private tmp
    cur_tmp = os.path.join(vdir, f"CURRENT.{uuid.uuid4().hex[:12]}.tmp")
    with open(cur_tmp, "w") as f:
        f.write(str(top))
    os.replace(cur_tmp, os.path.join(vdir, "CURRENT"))
    return top


def _schema_path(path: str) -> str:
    return os.path.join(path, "_schema.json")


def _save_schema(df: DataFrame, path: str) -> None:
    """Record the table's EXACT Spark schema at write time (atomic JSON
    sidecar). Readers then scan with an explicit schema: a bare
    ``spark.read.parquet`` pays a 1-task schema-inference job per call —
    three to four per matview refresh, each a full job floor — and
    arrow-footer conversion can mis-map engine types (NTZ vs LTZ), while
    the recorded StructType round-trips bit-exact."""
    try:
        tmp = _schema_path(path) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(df.schema.jsonValue(), fh)
        os.replace(tmp, _schema_path(path))
    except OSError:
        pass  # best-effort accel structure; readers fall back to inference


def table_schema(path: str):
    """The schema recorded at the table's last write, or None."""
    from pyspark.sql.types import StructType

    try:
        with open(_schema_path(path)) as fh:
            return StructType.fromJson(json.load(fh))
    except (OSError, ValueError, KeyError):
        return None


def _footer_schema_matches(file: str, sch) -> bool:
    """True iff the footer's arrow schema maps to EXACTLY the recorded
    Spark field names and types (nullability ignored — it cannot break
    the scan). Names alone are not enough: a manifest that somehow mixed
    physical types (e.g. a long column later rewritten as double in only
    some files) would feed the vectorized reader an explicit schema the
    carried files cannot satisfy — type mismatch falls back to inference,
    which resolves the conflict or fails with the real error."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    # an unreadable file (OSError), a corrupt footer (ArrowInvalid, a
    # ValueError) or an arrow type Spark cannot map (PySparkTypeError, a
    # TypeError): inference decides
    try:
        conv = from_arrow_schema(pq.ParquetFile(file).schema_arrow)
    except (OSError, ValueError, TypeError):
        return False
    return [(f.name, f.dataType) for f in conv.fields] == [
        (f.name, f.dataType) for f in sch.fields
    ]


def _scan_files(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    """Manifest-scoped scan with the recorded schema when it still
    matches the first file's column NAMES AND TYPES (schema evolution or
    a foreign file falls back to inference — the sidecar is an
    accelerator, never an authority over the footers). One footer is the
    deliberate sample: manifests are type-homogeneous by construction
    (full-snapshot writes rewrite every file; the matview refresh casts
    its delta to the view's existing types before a partial rewrite), so
    the check guards against a sidecar gone stale, not per-file drift."""
    sch = table_schema(path)
    if sch is not None and files and _footer_schema_matches(files[0], sch):
        return spark.read.schema(sch).parquet(*files)
    return spark.read.parquet(*files)


def _in_filter(col: str, values: list):
    """Bounded IN-set predicate as ONE ``F.expr`` — ``Column.isin(*vals)``
    issues a py4j call per element AND leaves an N-child In node the
    analyzer re-walks on every later DataFrame op (measured ~1.2s of pure
    driver time at 2k keys in the matview refresh). Rendering int/string
    literals into a single SQL string is one py4j call and parses JVM-side
    straight to the same InSet. Returns None for value types without a
    safe SQL literal rendering (callers fall back to isin / semi-join)."""
    rendered = []
    for v in values:
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, int):
            rendered.append(str(v))
        elif isinstance(v, str):
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            rendered.append(f"'{escaped}'")
        else:
            return None
    quoted = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{quoted} IN ({', '.join(rendered)})")


def _write_batch(
    df: DataFrame, path: str, key: str, n_files: int | None,
    sort_extra: list[str] | None = None,
    bloom_extra: list[str] | None = None,
) -> list[str]:
    from .zorder import range_clustered

    batch = os.path.join(path, "data", f"batch-{uuid.uuid4().hex[:12]}")
    # the frame is evaluated twice on this path — once by the frozen-
    # boundary quantile sketch inside range_clustered, once by the write
    # itself; pin it so a merge lineage (pruned scans + anti-join) runs
    # ONCE (MEMORY_AND_DISK default: a huge merge spills, never recomputes).
    # The single-file fast path has no quantile sketch — one evaluation,
    # nothing to pin.
    pin = n_files is None or n_files > 1
    if pin:
        df = df.persist()
    try:
        # frozen-boundary range clustering (not repartitionByRange): snapshot
        # rewrites of identical data produce an identical file layout;
        # sort_extra = secondary within-file sort columns (row-group
        # stats stay tight on them — see range_clustered)
        range_clustered(df, key, n_files, secondary=sort_extra).write.parquet(batch)
    finally:
        if pin:
            df.unpersist()
    files = sorted(glob.glob(os.path.join(batch, "*.parquet")))
    # per-file key Bloom sidecars (sources/bloom.py): immutable like the
    # data files they describe, carried by reference across snapshots.
    # bloom_extra: additional probed columns get <file>.bloom-<col>
    # sidecars (written only for exact-string-cast types — the probe
    # side canonicalizes through str(), which must equal Spark's string
    # cast); the matview partials sidecar blooms its group key this way
    # so the group-scoped merge read skips whole files.
    from .bloom import _EXACT_STR_TYPES, write_bloom_sidecars

    write_bloom_sidecars(df.sparkSession, files, key)
    dtypes = dict(df.dtypes)
    for c in bloom_extra or []:
        if dtypes.get(c) in _EXACT_STR_TYPES:
            write_bloom_sidecars(df.sparkSession, files, c, col_suffix=c)
    _save_schema(df, path)
    return files


def write_version(
    df: DataFrame, path: str, key: str, n_files: int | None = None,
    sort_extra: list[str] | None = None,
    bloom_extra: list[str] | None = None,
) -> int:
    """Create snapshot v1 (or a full replacement snapshot): key-clustered
    immutable files + manifest + atomic CURRENT flip. Returns the
    committed version number. ``sort_extra``: secondary within-file sort
    columns; ``bloom_extra``: additional Bloom-sidecar columns (see
    ``_write_batch``)."""
    try:
        v = current_version(path) + 1
    except FileNotFoundError:
        v = 1
    files = _write_batch(
        df, path, key, n_files, sort_extra=sort_extra, bloom_extra=bloom_extra
    )
    _commit(path, files, v)
    return v


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read snapshot ``version`` (default: CURRENT) — time travel is just
    reading an older manifest. An EMPTY snapshot (every row deleted)
    reads as zero rows with the schema of the nearest earlier non-empty
    snapshot, not an error."""
    m = _load_manifest(path, version)
    if m["files"]:
        return _scan_files(spark, path, m["files"])
    # empty snapshot: the recorded schema, else borrow it from the latest
    # prior manifest that still has files (data files are immutable, so
    # any referenced file carries the table schema)
    sch = table_schema(path)
    if sch is not None:
        return spark.createDataFrame([], sch)
    for v in range(m["version"] - 1, 0, -1):
        try:
            prior = _load_manifest(path, v)
        except FileNotFoundError:  # vacuumed
            continue
        if prior["files"]:
            sch = spark.read.parquet(*prior["files"]).schema
            return spark.createDataFrame([], sch)
    raise ValueError(f"table at {path} has no non-empty snapshot to infer a schema from")


def _col_ranges(files: list[str], cols: list[str]) -> dict[str, dict[str, tuple]]:
    """Per-file (min, max) for EVERY column in ``cols`` from parquet
    FOOTERS only — one metadata pass per file however many columns a
    box predicate carries."""
    import pyarrow.parquet as pq

    want = set(cols)
    out: dict[str, dict[str, tuple]] = {}
    for f in files:
        lo: dict[str, object] = {c: None for c in cols}
        hi: dict[str, object] = {c: None for c in cols}
        stat_less = set()
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in want or name in stat_less:
                    continue
                s = col.statistics
                # a row group may omit min/max (e.g. long string keys
                # exceed parquet's max-statistics-size) — one stat-less
                # group makes the WHOLE file conservatively "touched"
                # for that column
                if s is None or not s.has_min_max:
                    stat_less.add(name)
                    continue
                lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        out[f] = {
            c: (None, None) if c in stat_less else (lo[c], hi[c]) for c in cols
        }
    return out


def _key_ranges(files: list[str], key: str) -> dict[str, tuple]:
    """(min, max) of ``key`` per file from parquet FOOTERS only."""
    return {f: r[key] for f, r in _col_ranges(files, [key]).items()}


def _footer_spark_dtype(file: str, col: str) -> str | None:
    """Spark dtype name of ``col`` from the parquet FOOTER schema — the
    point-lookup path must not pay a Spark datasource resolution (file
    listing + schema inference) just to learn a column's type. Only the
    types ``probe_values_safe`` can accept are mapped; anything else
    returns its arrow name, which the safety check then rejects."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(file).schema_arrow
    if col not in schema.names:
        return None
    t = schema.field(col).type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    for pred, name in (
        (pa.types.is_int64, "bigint"),
        (pa.types.is_int32, "int"),
        (pa.types.is_int16, "smallint"),
        (pa.types.is_int8, "tinyint"),
    ):
        if pred(t):
            return name
    return str(t)


def _footer_columns(files: list[str]) -> list[str] | None:
    """Column names from ONE parquet footer — data files are immutable
    and share a schema, so the DML paths need not pay a Spark datasource
    resolution (file listing + schema merge) to learn the column list."""
    if not files:
        return None
    import pyarrow.parquet as pq

    return list(pq.ParquetFile(files[0]).schema_arrow.names)


def upsert_version(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    n_files: int | None = None,
    dedupe_updates: bool = True,
    probe_keys: list | None = None,
) -> int:
    """Copy-on-write MERGE: matched keys take the update row, new keys
    insert, and ONLY files whose footer key-range overlaps the update
    keys are rewritten — every other file carries over by reference
    into the new manifest (byte-shared across snapshots). Returns the
    new version.

    The snapshot invariant is ONE row per key. ``dedupe_updates``
    (default on) enforces it when the updates batch itself carries
    multiple rows per key, keeping a deterministic representative (max
    by the canonical JSON rendering of the non-key columns — stable
    across retries, unlike ``dropDuplicates``). Pass False only when
    the caller guarantees key-unique input and wants to skip the
    aggregate.

    ``probe_keys``: the batch's exact distinct key set, when the caller
    already holds it driver-side (e.g. a matview refresh that collected
    the touched groups) — skips the capped distinct-collect job. The
    caller guarantees it is complete; an incomplete set would silently
    drop rows from unrewritten files."""
    m = _load_manifest(path, None)
    if dedupe_updates:
        others = sorted(c for c in updates.columns if c != key)
        if others:
            rep = F.max_by(
                F.struct(*updates.columns),
                F.to_json(F.struct(*[F.col(c) for c in others])),
            ).alias("_row")
            updates = updates.groupBy(key).agg(rep).select("_row.*")
        else:
            updates = updates.distinct()
    # bounded metadata only: ONE capped distinct-keys job serves BOTH the
    # key range (min/max derived driver-side) and the Bloom prune; an
    # unbounded or string-cast-unsafe batch falls back to the 2-value
    # range aggregate — never a collected key list of fact-data size
    from .bloom import _EXACT_STR_TYPES, _collect_keys_capped, prune_by_keys

    if probe_keys is not None and dict(updates.dtypes).get(key) not in _EXACT_STR_TYPES:
        # caller-held keys of a type whose str() can disagree with
        # Spark's string cast would FALSE-NEGATIVE the bloom probe —
        # ignore them and re-derive through the guarded path
        probe_keys = None
    probe = probe_keys if probe_keys is not None else _collect_keys_capped(
        updates, key, cap=10_000
    )
    if probe is not None:
        nonnull = [k for k in probe if k is not None]
        if not nonnull:
            return m["version"]
        lo_k, hi_k = min(nonnull), max(nonnull)
    else:
        mm = updates.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        lo_k, hi_k = mm["lo"], mm["hi"]
        if lo_k is None:
            return m["version"]
    ranges = _key_ranges(m["files"], key)
    touched, carried = [], []
    for f, (lo, hi) in ranges.items():
        if lo is None or (lo <= hi_k and hi >= lo_k):
            touched.append(f)
        else:
            carried.append(f)
    # Bloom notch (sources/bloom.py): when the update batch's distinct
    # keys fit the bounded-metadata cap, drop range-touched files whose
    # sidecar proves no matched key — an insert of brand-new keys then
    # rewrites NOTHING. Zero false negatives, so correctness is the
    # range path's; this only removes work.
    if touched and probe is not None:
        still = set(prune_by_keys(touched, probe))
        carried += [f for f in touched if f not in still]
        touched = [f for f in touched if f in still]
    survivors = None
    if touched:
        scan = _scan_files(spark, path, touched)
        in_set = (
            _in_filter(key, [k for k in probe if k is not None])
            if probe is not None and len(probe) <= 2048
            else None
        )
        if in_set is not None:
            # bounded key set: the anti-join IS a map-only NOT-IN filter
            # (null-safe — a null file key never matches an update key,
            # so it survives, exactly as the anti-join keeps it)
            survivors = scan.where(~in_set | F.col(key).isNull())
        else:
            survivors = scan.join(
                updates.select(key).distinct(), on=key, how="left_anti"
            )
    # immutable files share one schema: a single footer read replaces the
    # full datasource resolution read_version would pay
    cols_src = _footer_columns(m["files"]) or read_version(spark, path).columns
    merged = updates.select(*cols_src)
    if n_files is None:
        # copy-on-write preserves layout granularity: the rewrite holds
        # ~the touched files' data plus the batch, so it goes back into
        # ~that many files — defaulting to shuffle.partitions would
        # fragment a 1-file rewrite into 32 and grow the manifest (and
        # every later footer-pruning pass) on each upsert. A PURE APPEND
        # (no touched files) has no granularity to preserve: a bounded
        # batch (probe fit the 10k cap) packs into one file, but an
        # unbounded one keeps the shuffle.partitions default — funneling
        # an arbitrarily large insert through repartition(1) would make
        # one task write the whole batch
        n_files = max(1, len(touched)) if touched else (1 if probe is not None else None)
    if survivors is not None:
        merged = survivors.unionByName(merged)
    new_files = _write_batch(merged, path, key, n_files)
    v = m["version"] + 1
    _commit(path, carried + new_files, v)
    return v


def append_version(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    key: str,
    n_files: int = 1,
) -> int:
    """PURE-APPEND commit: write the batch's files and extend the CURRENT
    manifest by reference — no footer scan, no Bloom probes, no file
    rewrite, ever. This is the append-LOG commit for ingest streams:
    unlike ``upsert_version``, a batch whose key range overlaps existing
    files (non-monotone keys) or whose Bloom probe false-positives can
    never trigger a rewrite, so downstream monotone consumers (HLL
    register matviews) always see strictly-appended files. The caller
    owns the one-row-per-key invariant — appending an existing key
    creates a DUPLICATE row (use ``upsert_version`` for merge
    semantics). ``n_files`` defaults to 1: micro-batches are bounded;
    raise it for bulk appends. Returns the new version."""
    m = _load_manifest(path, None)
    files = _write_batch(batch, path, key, n_files)
    v = m["version"] + 1
    _commit(path, m["files"] + files, v)
    return v


def changefeed(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int,
    key: str,
    scope: str = "full",
) -> DataFrame:
    """CDC between two snapshots: (key, change_type ∈ insert/update/
    delete) via one keyed full-outer join comparing the full row (md5 of
    the canonical struct rendering — any non-key column change counts).

    ``scope="touched-files"`` diffs only the manifests' SYMMETRIC
    DIFFERENCE instead of both full snapshots — O(files the DML rewrote),
    not O(table). EXACT for keyed snapshots (the one-row-per-key
    invariant the DML paths maintain): a key whose row lives in a shared
    file is byte-identical on both sides (files are immutable), so it is
    never a change; and it cannot ALSO hold a row in a rewritten file
    without violating one-row-per-key — so every change is visible in
    the diff scan, and every key visible only in a carried-along
    compaction rewrite fingerprints equal and filters out. A table
    holding multiple rows per key breaks that argument — use "full"."""
    if scope not in ("full", "touched-files"):
        raise ValueError("scope must be 'full' or 'touched-files'")
    if scope == "touched-files":
        f0 = set(_load_manifest(path, from_version)["files"])
        f1 = set(_load_manifest(path, to_version)["files"])
        only0, only1 = sorted(f0 - f1), sorted(f1 - f0)
        old = (
            _scan_files(spark, path, only0)
            if only0
            else read_version(spark, path, from_version).where(F.lit(False))
        )
        new = (
            _scan_files(spark, path, only1)
            if only1
            else read_version(spark, path, to_version).where(F.lit(False))
        )
    else:
        old = read_version(spark, path, from_version)
        new = read_version(spark, path, to_version)
    cols = [c for c in old.columns if c != key]

    def fp(df):
        return df.select(
            F.col(key),
            F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(cols)]))).alias("_fp"),
        )

    o, n = fp(old).alias("o"), fp(new).alias("n")
    joined = o.join(n, on=key, how="full_outer")
    change = (
        F.when(F.col("o._fp").isNull(), F.lit("insert"))
        .when(F.col("n._fp").isNull(), F.lit("delete"))
        .when(F.col("o._fp") != F.col("n._fp"), F.lit("update"))
    )
    return (
        joined.select(F.col(key), change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
    )


def _pinned_view_versions(path: str) -> dict[str, int]:
    """{view_path: pinned base version} for every matview registered in
    this table's ``_views.json`` (written by create_matview) whose own
    ``_matview.json`` still exists — the pinned version is read FRESH
    from each view's meta, so a refresh that advanced a view is never
    over-pinned by a stale registry. Deleted views drop out here (and
    the registry is rewritten without them by ``vacuum``)."""
    reg = os.path.join(path, "_views.json")
    try:
        with open(reg) as fh:
            views = json.load(fh).get("views", [])
    except (OSError, ValueError):
        return {}
    pinned: dict[str, int] = {}
    for vp in views:
        try:
            with open(os.path.join(vp, "_matview.json")) as fh:
                pinned[vp] = int(json.load(fh)["base_version"])
        except (OSError, ValueError, KeyError):
            continue  # view deleted or unreadable — not a pin
    return pinned


def vacuum(path: str, keep_last: int = 2, on_pinned: str = "retain") -> dict:
    """Retire old snapshots: drop all but the newest ``keep_last``
    manifests, then delete every data file no surviving manifest
    references. Returns {"manifests_removed": n, "files_removed": n,
    "pinned_retained": {view_path: version, ...}}.

    Safe by construction: a file shared with a surviving snapshot stays
    (reference counting over manifests, not file age), and the CURRENT
    pointer is never touched. Time travel to vacuumed versions is gone —
    that is the point.

    Materialized views PIN base versions (a refresh diffs the view's
    recorded snapshot against CURRENT): views registered at
    ``create_matview`` time (``_views.json``) are honored here —
    ``on_pinned="retain"`` (default) keeps a pinned manifest and its
    files even when older than ``keep_last``, so the view's next refresh
    still finds its delta base; ``on_pinned="drop"`` vacuums it anyway
    and prints the affected view and the remedy (the view's next refresh
    raises the named rebuild error). Unregistered views (created before
    this registry existed) still get the named error at refresh time."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if on_pinned not in ("retain", "drop"):
        raise ValueError("on_pinned must be 'retain' or 'drop'")
    import re
    import sys

    versions = sorted(
        int(m.group(1))
        for f in os.listdir(_vdir(path))
        if (m := re.fullmatch(r"v(\d+)\.json", f))
    )
    drop, keep = versions[:-keep_last], versions[-keep_last:]
    pinned = _pinned_view_versions(path)
    pinned_retained: dict[str, int] = {}
    drop_set = set(drop)
    for vp, pv in sorted(pinned.items()):
        if pv in drop_set:
            if on_pinned == "retain":
                drop_set.discard(pv)
                pinned_retained[vp] = pv
            else:
                print(
                    f"vacuum: dropping base version {pv} of {path} still "
                    f"pinned by matview {vp} — its next refresh will fail; "
                    "rebuild it with create_matview (or refresh before "
                    "vacuuming)",
                    file=sys.stderr,
                )
    drop = [v for v in drop if v in drop_set]
    keep = sorted(set(keep) | set(pinned_retained.values()))
    # prune DELETED views from the registry while we hold it — and only
    # confirmed-deleted ones (ADVICE r10): an entry whose _matview.json
    # failed to read may be racing a concurrent refresh's meta rewrite;
    # deregistering it would silently lose its pin for every future
    # vacuum. A present-but-unreadable view stays registered and is
    # merely unpinned FOR THIS RUN (pinned excludes it above).
    reg = os.path.join(path, "_views.json")
    if os.path.exists(reg):
        try:
            import uuid as _uuid

            from .matview import _registry_lock

            with _registry_lock(reg):
                with open(reg) as fh:
                    registered = json.load(fh).get("views", [])
                kept_views = sorted(
                    set(pinned) | {vp for vp in registered if os.path.isdir(vp)}
                )
                tmp = reg + f".tmp-{_uuid.uuid4().hex[:8]}"
                with open(tmp, "w") as fh:
                    json.dump({"views": kept_views}, fh)
                os.replace(tmp, reg)
        except (OSError, ValueError):
            pass
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_load_manifest(path, v)["files"])
    dropped_files = 0
    for v in drop:
        for f in _load_manifest(path, v)["files"]:
            if f not in referenced and os.path.exists(f):
                os.remove(f)
                dropped_files += 1
                from .bloom import sidecar_path

                # primary .bloom plus any .bloom-<col> extras share the
                # data file's lifecycle
                for sp in [sidecar_path(f)] + glob.glob(sidecar_path(f) + "-*"):
                    if os.path.exists(sp):
                        os.remove(sp)
        os.remove(_manifest_path(path, v))
    return {
        "manifests_removed": len(drop),
        "files_removed": dropped_files,
        "pinned_retained": pinned_retained,
    }


def delete_version(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: str,
    n_files: int | None = None,
    probe_keys: list | None = None,
) -> int:
    """Keyed DELETE as a new snapshot: files whose footer key-range
    overlaps the delete set are rewritten without the deleted keys
    (LEFT ANTI on the uniform key); everything else carries over by
    reference. Completes the DML triple — upsert covers insert/update,
    this covers delete — and `changefeed` reports the removals.
    ``probe_keys``: same contract as upsert_version."""
    m = _load_manifest(path, None)
    # same one-job probe-first discipline as upsert_version: the capped
    # distinct collect yields the range AND the Bloom probe set
    from .bloom import _EXACT_STR_TYPES, _collect_keys_capped, prune_by_keys

    if probe_keys is not None and dict(keys.dtypes).get(key) not in _EXACT_STR_TYPES:
        probe_keys = None
    probe = probe_keys if probe_keys is not None else _collect_keys_capped(
        keys, key, cap=10_000
    )
    if probe is not None:
        nonnull = [k for k in probe if k is not None]
        if not nonnull:
            return m["version"]
        lo_k, hi_k = min(nonnull), max(nonnull)
    else:
        mm = keys.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
        lo_k, hi_k = mm["lo"], mm["hi"]
        if lo_k is None:
            return m["version"]
    ranges = _key_ranges(m["files"], key)
    touched = [
        f for f, (lo, hi) in ranges.items()
        if lo is None or (lo <= hi_k and hi >= lo_k)
    ]
    # same Bloom notch as upsert_version: a delete of absent keys
    # rewrites nothing
    if touched and probe is not None:
        touched = prune_by_keys(touched, probe)
    carried = [f for f in m["files"] if f not in set(touched)]
    new_files: list[str] = []
    if touched:
        scan = _scan_files(spark, path, touched)
        in_set = (
            _in_filter(key, [k for k in probe if k is not None])
            if probe is not None and len(probe) <= 2048
            else None
        )
        if in_set is not None:
            survivors = scan.where(~in_set | F.col(key).isNull())
        else:
            survivors = scan.join(
                keys.select(key).distinct(), on=key, how="left_anti"
            )
        if n_files is None:
            # same granularity-preserving default as upsert_version
            n_files = max(1, len(touched))
        new_files = _write_batch(survivors, path, key, n_files)
    v = m["version"] + 1
    _commit(path, carried + new_files, v)
    return v


def compact_version(
    spark: SparkSession,
    path: str,
    key: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_cols: list[str] | None = None,
    zorder_bits: int = 8,
    sort_extra: list[str] | None = None,
    bloom_extra: list[str] | None = None,
) -> int:
    """Manifest-aware small-file compaction: rewrite the CURRENT
    snapshot's data into ceil(bytes/target) clustered files and commit
    as a new snapshot. Old snapshots keep reading their original files
    (immutability preserved — this is compaction WITHOUT breaking time
    travel, unlike maintenance.compact_small_files' in-place swap);
    `vacuum` reclaims the fragmented files once their snapshots retire.

    ``zorder_cols`` switches the rewrite's clustering from the
    single-key range sort to the Morton curve over those columns
    (sources/zorder.py) — Delta's OPTIMIZE ZORDER BY as a snapshot
    commit: the compacted files' footers become tight in EVERY listed
    dimension, so ``read_version_box`` range lookups prune at the
    manifest level on any of them. Trade-off (same as every z-order
    table): the primary ``key``'s per-file ranges widen, so subsequent
    footer-scoped upserts/deletes on ``key`` may touch more files —
    include ``key`` in ``zorder_cols`` to keep it a pruning dimension.

    ``sort_extra``/``bloom_extra`` (ADVICE r10): tables written with a
    secondary within-file sort or extra ``.bloom-<col>`` Bloom sidecars
    (e.g. a matview's partials sidecar: key=``_file`` plus group-key
    extras) must compact with the SAME extras or the rewrite silently
    sheds them — correctness survives (a missing Bloom means "might
    contain") but the documented pruning is lost. Matview sidecars
    should use ``matview.compact_matview_sidecar``, which re-derives
    these from the view's own metadata.
    """
    import math

    if zorder_cols and (sort_extra or bloom_extra):
        raise ValueError(
            "sort_extra/bloom_extra apply to the key-clustered rewrite; "
            "zorder_cols replaces that clustering — pass one or the other"
        )
    m = _load_manifest(path, None)
    total = sum(os.path.getsize(f) for f in m["files"])
    n_after = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(*m["files"])
    if zorder_cols:
        from .zorder import zorder_clustered

        batch = os.path.join(path, "data", f"batch-{uuid.uuid4().hex[:12]}")
        zorder_clustered(df, zorder_cols, zorder_bits, n_after).write.parquet(batch)
        new_files = sorted(glob.glob(os.path.join(batch, "*.parquet")))
    else:
        new_files = _write_batch(
            df, path, key, n_after,
            sort_extra=sort_extra, bloom_extra=bloom_extra,
        )
    v = m["version"] + 1
    _commit(path, new_files, v)
    return v


def read_version_pruned(
    spark: SparkSession,
    path: str,
    key: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Key-range read that prunes at the MANIFEST level: only files whose
    footer key-range intersects [lo, hi] are handed to the scan at all
    (the exact predicate still applies on top). On a key-clustered
    snapshot this is the planner-independent guarantee that a point/range
    lookup touches O(matching files), not the table — the same
    footer-stats contract the Z-order writer exposes."""
    m = _load_manifest(path, version)
    if not m["files"]:
        return read_version(spark, path, version)
    ranges = _key_ranges(m["files"], key)
    picked = [
        f for f, (flo, fhi) in ranges.items()
        if flo is None or (flo <= hi and fhi >= lo)
    ]
    if not picked:
        return (
            _scan_files(spark, path, m["files"]).where(F.lit(False))
        )
    return _scan_files(spark, path, picked).where(F.col(key).between(lo, hi))


def read_version_keys(
    spark: SparkSession,
    path: str,
    keys: list,
    key: str,
    version: int | None = None,
) -> DataFrame:
    """Point-SET read: only files whose Bloom sidecar might contain one
    of ``keys`` (a bounded, driver-held probe set — this is the lookup
    API, not a join) reach the scan; files without a sidecar fall back
    to footer range intersection. The exact IN-predicate applies on
    top, so false positives cost a scan, never a wrong row. On a
    key-clustered snapshot a miss probe (no key present) touches ZERO
    files — the case range pruning cannot express when the keys sit
    inside some file's [min, max]."""
    from .bloom import load_sidecar, probe_values_safe

    m = _load_manifest(path, version)
    if not m["files"] or not keys:
        return read_version(spark, path, version).where(F.lit(False))
    # Sidecars hash Spark's STRING CAST of the key column; a probe whose
    # Python str() could render differently (timestamps, floats, a float
    # probe against an int column) would be a FALSE NEGATIVE — silently
    # dropped rows. Same guard as _collect_keys_capped on the write path:
    # when unsafe, skip blooms entirely and fall back to range pruning.
    dtype = _footer_spark_dtype(m["files"][0], key)
    bloom_ok = probe_values_safe(dtype, keys)
    from .bloom import _h2

    hashes = [_h2(k) for k in keys] if bloom_ok else None
    lo, hi = min(keys), max(keys)
    picked = []
    for f in m["files"]:
        b = load_sidecar(f) if bloom_ok else None
        if b is None:
            flo, fhi = _key_ranges([f], key)[f]
            if flo is None or (flo <= hi and fhi >= lo):
                picked.append(f)
        elif b.might_contain_any_hashed(hashes):
            picked.append(f)
    if not picked:
        return _scan_files(spark, path, m["files"]).where(F.lit(False))
    # one-expr IN rendering (py4j literal trap — see _in_filter); probe
    # sets are bounded driver metadata by this API's contract
    in_set = _in_filter(key, list(keys))
    if in_set is None:
        in_set = F.col(key).isin(list(keys))
    return _scan_files(spark, path, picked).where(in_set)


def read_version_box(
    spark: SparkSession,
    path: str,
    box: dict,
    version: int | None = None,
) -> DataFrame:
    """Multi-dimensional pruned read: only files whose footer min/max
    intersect EVERY range in ``box`` ({col: (lo, hi)}) reach the scan;
    the exact predicate applies on top. On a snapshot compacted with
    ``zorder_cols`` this touches O(files overlapping the box), not the
    table, for a box on ANY clustered dimension — the versioned-table
    face of the Z-order footer-stats contract (sources/zorder.py)."""
    m = _load_manifest(path, version)
    if not m["files"]:
        return read_version(spark, path, version)
    # ONE footer pass per file covers every box dimension
    ranges = _col_ranges(m["files"], list(box))
    picked = [
        f for f, per_col in ranges.items()
        if all(
            per_col[c][0] is None
            or (per_col[c][0] <= hi and per_col[c][1] >= lo)
            for c, (lo, hi) in box.items()
        )
    ]
    if not picked:
        return _scan_files(spark, path, m["files"]).where(F.lit(False))
    out = _scan_files(spark, path, picked)
    for col, (lo, hi) in box.items():
        out = out.where(F.col(col).between(lo, hi))
    return out
