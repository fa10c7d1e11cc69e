"""Versioned parquet tables: time travel, copy-on-write file sharing,
footer-scoped upserts, atomic pointer, and the CDC changefeed."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from financial_big_data_spark.sources.versioned import (
    changefeed,
    current_version,
    read_version,
    upsert_version,
    write_version,
)


@pytest.fixture()
def vpath():
    d = tempfile.mkdtemp(prefix="versioned_")
    yield os.path.join(d, "table")
    shutil.rmtree(d, ignore_errors=True)


def _base(spark, n=100):
    return spark.range(n).select(
        F.col("id"), (F.col("id") * 10).cast("double").alias("v"),
        F.concat(F.lit("name"), F.col("id")).alias("name"),
    )


def _rows(df):
    return sorted((r.id, r.v, r.name) for r in df.collect())


def test_time_travel_preserves_old_snapshot(spark, vpath):
    v1 = write_version(_base(spark), vpath, key="id", n_files=4)
    assert v1 == 1 and current_version(vpath) == 1
    before = _rows(read_version(spark, vpath))
    updates = spark.createDataFrame(
        [(3, 999.0, "patched3"), (200, 5.0, "new200")],
        "id long, v double, name string",
    )
    v2 = upsert_version(spark, vpath, updates, key="id")
    assert v2 == 2 and current_version(vpath) == 2
    # v1 reads EXACTLY as written; v2 shows the merge
    assert _rows(read_version(spark, vpath, 1)) == before
    now = dict((r.id, (r.v, r.name)) for r in read_version(spark, vpath).collect())
    assert now[3] == (999.0, "patched3")
    assert now[200] == (5.0, "new200")
    assert now[7] == (70.0, "name7")
    assert len(now) == 101


def test_upsert_shares_untouched_files(spark, vpath):
    """Copy-on-write: files outside the update key range carry over BY
    REFERENCE — same paths in both manifests, bytes untouched."""
    write_version(_base(spark), vpath, key="id", n_files=4)
    from financial_big_data_spark.sources.versioned import _load_manifest

    f1 = set(_load_manifest(vpath, 1)["files"])
    # update keys confined to the low end of the range
    updates = spark.createDataFrame(
        [(1, -1.0, "x1"), (2, -2.0, "x2")], "id long, v double, name string"
    )
    upsert_version(spark, vpath, updates, key="id")
    f2 = set(_load_manifest(vpath, 2)["files"])
    shared = f1 & f2
    assert shared, "no files carried over — footer scoping did not prune"
    assert f2 - f1, "no new files written"
    for f in shared:
        assert os.path.exists(f)


def test_upsert_correct_under_key_collisions_across_files(spark, vpath):
    write_version(_base(spark, 50), vpath, key="id", n_files=2)
    updates = spark.createDataFrame(
        [(i, float(-i), f"u{i}") for i in range(0, 50, 7)],
        "id long, v double, name string",
    )
    upsert_version(spark, vpath, updates, key="id")
    got = dict((r.id, r.v) for r in read_version(spark, vpath).collect())
    for i in range(50):
        assert got[i] == (-i if i % 7 == 0 else i * 10.0), i


def test_changefeed_classifies(spark, vpath):
    write_version(_base(spark, 10), vpath, key="id", n_files=1)
    updates = spark.createDataFrame(
        [(0, 999.0, "upd0"), (99, 1.0, "new99")], "id long, v double, name string"
    )
    upsert_version(spark, vpath, updates, key="id")
    feed = {
        r.id: r.change_type
        for r in changefeed(spark, vpath, 1, 2, key="id").collect()
    }
    assert feed == {0: "update", 99: "insert"}


def test_changefeed_detects_delete_via_replacement_snapshot(spark, vpath):
    write_version(_base(spark, 10), vpath, key="id", n_files=1)
    write_version(_base(spark, 10).where(F.col("id") != 4), vpath, key="id")
    feed = {
        r.id: r.change_type
        for r in changefeed(spark, vpath, 1, 2, key="id").collect()
    }
    assert feed == {4: "delete"}


def test_empty_update_is_noop_version(spark, vpath):
    write_version(_base(spark, 10), vpath, key="id")
    empty = spark.createDataFrame([], "id long, v double, name string")
    assert upsert_version(spark, vpath, empty, key="id") == 1
    assert current_version(vpath) == 1


def test_vacuum_reference_counts(spark, vpath):
    write_version(_base(spark), vpath, key="id", n_files=4)
    low_updates = spark.createDataFrame(
        [(1, -1.0, "x1")], "id long, v double, name string"
    )
    upsert_version(spark, vpath, low_updates, key="id")
    from financial_big_data_spark.sources.versioned import _load_manifest, vacuum

    f1 = set(_load_manifest(vpath, 1)["files"])
    f2 = set(_load_manifest(vpath, 2)["files"])
    shared, only_v1 = f1 & f2, f1 - f2
    assert shared and only_v1
    stats = vacuum(vpath, keep_last=1)
    assert stats["manifests_removed"] == 1
    assert stats["files_removed"] == len(only_v1)
    for f in shared:
        assert os.path.exists(f)          # still referenced by v2
    for f in only_v1:
        assert not os.path.exists(f)      # retired with v1
    # v2 still reads; v1 is gone
    assert len(read_version(spark, vpath).collect()) == 100
    with pytest.raises(FileNotFoundError):
        read_version(spark, vpath, 1)


def test_streaming_versioned_upsert_snapshots(spark, vpath):
    import tempfile

    from financial_big_data_spark.streaming.upsert import (
        streaming_versioned_upsert,
    )

    indir = tempfile.mkdtemp(prefix="vstream_in_")
    ckpt = tempfile.mkdtemp(prefix="vstream_ck_")
    try:
        b1 = spark.createDataFrame(
            [(1, "a", 1), (2, "b", 1)], "id long, name string, seq long"
        )
        b1.coalesce(1).write.mode("append").parquet(indir)
        stream = spark.readStream.schema(b1.schema).parquet(indir)
        q = streaming_versioned_upsert(
            stream, vpath, key="id", order="seq", checkpoint=ckpt
        )
        q.awaitTermination(120)
        v_after_b1 = current_version(vpath)

        b2 = spark.createDataFrame(
            [(2, "b-new", 2), (3, "c", 2)], "id long, name string, seq long"
        )
        b2.coalesce(1).write.mode("append").parquet(indir)
        stream2 = spark.readStream.schema(b1.schema).parquet(indir)
        q2 = streaming_versioned_upsert(
            stream2, vpath, key="id", order="seq", checkpoint=ckpt
        )
        q2.awaitTermination(120)

        now = {r.id: r.name for r in read_version(spark, vpath).collect()}
        assert now == {1: "a", 2: "b-new", 3: "c"}
        # the pre-batch-2 snapshot is still readable (time travel)
        old = {r.id: r.name for r in read_version(spark, vpath, v_after_b1).collect()}
        assert old == {1: "a", 2: "b"}
        feed = {
            r.id: r.change_type
            for r in changefeed(
                spark, vpath, v_after_b1, current_version(vpath), key="id"
            ).collect()
        }
        assert feed == {2: "update", 3: "insert"}
    finally:
        shutil.rmtree(indir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_delete_version(spark, vpath):
    write_version(_base(spark, 40), vpath, key="id", n_files=4)
    from financial_big_data_spark.sources.versioned import delete_version

    kill = spark.createDataFrame([(3,), (4,), (5,)], "id long")
    v2 = delete_version(spark, vpath, kill, key="id")
    assert v2 == 2
    ids = {r.id for r in read_version(spark, vpath).collect()}
    assert ids == set(range(40)) - {3, 4, 5}
    # time travel still has the deleted rows; changefeed reports them
    assert {r.id for r in read_version(spark, vpath, 1).collect()} == set(range(40))
    feed = {
        r.id: r.change_type
        for r in changefeed(spark, vpath, 1, 2, key="id").collect()
    }
    assert feed == {3: "delete", 4: "delete", 5: "delete"}


def test_delete_shares_untouched_files(spark, vpath):
    write_version(_base(spark), vpath, key="id", n_files=4)
    from financial_big_data_spark.sources.versioned import (
        _load_manifest,
        delete_version,
    )

    kill = spark.createDataFrame([(1,)], "id long")
    delete_version(spark, vpath, kill, key="id")
    f1 = set(_load_manifest(vpath, 1)["files"])
    f2 = set(_load_manifest(vpath, 2)["files"])
    assert f1 & f2  # high-key files carried by reference


def test_compact_version_preserves_rows_and_history(spark, vpath):
    from financial_big_data_spark.sources.versioned import (
        _load_manifest,
        compact_version,
    )

    write_version(_base(spark), vpath, key="id", n_files=8)
    before = _rows(read_version(spark, vpath))
    assert len(_load_manifest(vpath, 1)["files"]) == 8
    v2 = compact_version(spark, vpath, key="id", target_file_bytes=1 << 30)
    assert v2 == 2
    assert len(_load_manifest(vpath, 2)["files"]) == 1   # 8 -> 1
    assert _rows(read_version(spark, vpath)) == before   # content identical
    assert _rows(read_version(spark, vpath, 1)) == before  # v1 intact


def test_read_version_pruned_touches_fewer_files(spark, vpath):
    from financial_big_data_spark.sources.versioned import read_version_pruned

    write_version(_base(spark, 400), vpath, key="id", n_files=8)
    df = read_version_pruned(spark, vpath, key="id", lo=10, hi=20)
    got = sorted(r.id for r in df.collect())
    assert got == list(range(10, 21))
    # manifest-level pruning: the scan's input files are a strict subset
    files_read = {f for f in df.inputFiles()}
    from financial_big_data_spark.sources.versioned import _load_manifest

    assert len(files_read) < len(_load_manifest(vpath, 1)["files"])
    # empty-range read returns no rows, schema intact
    empty = read_version_pruned(spark, vpath, key="id", lo=10_000, hi=10_001)
    assert empty.count() == 0 and "name" in empty.columns


def test_concurrent_commit_fails_loudly(spark, vpath):
    """Two writers racing to the same version: the loser raises instead
    of silently overwriting the winner's manifest (ADVICE r4)."""
    from financial_big_data_spark.sources.versioned import (
        ConcurrentCommitError,
        _commit,
        _load_manifest,
    )

    write_version(_base(spark), vpath, key="id", n_files=2)
    winner_files = _load_manifest(vpath, 1)["files"]
    _commit(vpath, winner_files, 2)  # writer A commits v2
    with pytest.raises(ConcurrentCommitError):
        _commit(vpath, [], 2)        # writer B raced to v2 -> loud failure
    # winner's manifest intact
    assert _load_manifest(vpath, 2)["files"] == sorted(winner_files)


def test_delete_all_rows_yields_readable_empty_snapshot(spark, vpath):
    """Deleting every row commits an empty manifest that reads as zero
    rows with the prior schema (ADVICE r4: used to error on parquet())."""
    from financial_big_data_spark.sources.versioned import delete_version

    write_version(_base(spark, 10), vpath, key="id", n_files=2)
    kill = spark.range(10).select(F.col("id"))
    v2 = delete_version(spark, vpath, kill, key="id")
    empty = read_version(spark, vpath, v2)
    assert empty.count() == 0
    assert set(empty.columns) == {"id", "v", "name"}
    # and the table comes back to life on the next upsert
    revive = spark.createDataFrame([(1, 1.0, "one")], "id long, v double, name string")
    v3 = upsert_version(spark, vpath, revive, key="id")
    assert _rows(read_version(spark, vpath, v3)) == [(1, 1.0, "one")]


def test_upsert_collapses_duplicate_update_keys(spark, vpath):
    """Multi-row-per-key updates collapse to ONE deterministic
    representative so the snapshot keeps its one-row-per-key invariant
    (ADVICE r4)."""
    write_version(_base(spark, 10), vpath, key="id", n_files=1)
    dup = spark.createDataFrame(
        [(3, 1.0, "a"), (3, 2.0, "b"), (3, 2.0, "b")],
        "id long, v double, name string",
    )
    upsert_version(spark, vpath, dup, key="id")
    rows = [r for r in read_version(spark, vpath).collect() if r.id == 3]
    assert len(rows) == 1
    # deterministic winner: max by canonical JSON of non-key cols
    assert (rows[0].v, rows[0].name) == (2.0, "b")


def test_key_ranges_statless_row_group_is_conservative(spark, vpath, tmp_path):
    """A file whose key column lacks min/max statistics is treated as
    touched (None, None), not an exception (ADVICE r4)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from financial_big_data_spark.sources.versioned import _key_ranges

    f = str(tmp_path / "nostats.parquet")
    tbl = pa.table({"id": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    papq.write_table(tbl, f, write_statistics=False)
    assert _key_ranges([f], "id") == {f: (None, None)}


def test_compact_version_zorder_prunes_box_and_preserves_history(spark, vpath):
    """Z-order compaction as a snapshot commit: a small box predicate on
    EITHER clustered dimension overlaps ≤ half the compacted files (vs
    all files when key-clustered on one column only), v1 still reads
    byte-stable, and read_version_box returns exactly the box rows."""
    import numpy as np

    from financial_big_data_spark.sources.versioned import (
        _load_manifest,
        compact_version,
        read_version_box,
    )

    rng = np.random.default_rng(11)
    n = 20_000
    xs = rng.integers(0, 1_000, n).tolist()
    ys = rng.integers(0, 1_000, n).tolist()
    df = spark.createDataFrame(
        [(i, xs[i], ys[i]) for i in range(n)], "id long, x long, y long"
    )
    write_version(df, vpath, key="id", n_files=8)
    before = sorted((r.id, r.x, r.y) for r in read_version(spark, vpath).collect())

    v2 = compact_version(
        spark, vpath, key="id", target_file_bytes=20_000,
        zorder_cols=["x", "y"],
    )
    m2 = _load_manifest(vpath, v2)
    n_files = len(m2["files"])
    assert n_files >= 4  # need granularity for the pruning claim

    # a 10% x 10% box must touch a strict minority of files on the
    # z-ordered snapshot
    box = {"x": (100, 199), "y": (400, 499)}
    got = read_version_box(spark, vpath, box)
    picked = {f for f in got.inputFiles()}
    assert len(picked) <= n_files // 2, (len(picked), n_files)
    want_rows = sorted(
        (i, xs[i], ys[i]) for i in range(n)
        if 100 <= xs[i] <= 199 and 400 <= ys[i] <= 499
    )
    assert sorted((r.id, r.x, r.y) for r in got.collect()) == want_rows

    # single-dimension slices prune too (the z-order property)
    for col in ("x", "y"):
        sl = read_version_box(spark, vpath, {col: (0, 99)})
        assert len(set(sl.inputFiles())) < n_files

    # history intact: v1 reads exactly as written
    assert sorted(
        (r.id, r.x, r.y) for r in read_version(spark, vpath, 1).collect()
    ) == before


def test_pure_append_does_not_collapse_to_one_file(spark, vpath):
    """ADVICE r7 (medium): an append whose keys are all NEW (no touched
    files) must not funnel an unbounded batch through repartition(1).
    Bounded batches (capped probe) pack into one file; a batch past the
    10k-distinct-key cap falls back to the shuffle.partitions layout."""
    from financial_big_data_spark.sources.versioned import _load_manifest

    write_version(_base(spark, 100), vpath, key="id", n_files=2)
    # bounded pure append (well under the probe cap): one new file
    small = spark.range(1_000, 1_050).select(
        F.col("id"), (F.col("id") * 10).cast("double").alias("v"),
        F.concat(F.lit("name"), F.col("id")).alias("name"),
    )
    upsert_version(spark, vpath, small, key="id")
    m2 = _load_manifest(vpath, 2)
    m1_files = set(_load_manifest(vpath, 1)["files"])
    assert len([f for f in m2["files"] if f not in m1_files]) == 1
    # unbounded pure append (>10k distinct new keys): many files
    big = spark.range(100_000, 120_000).select(
        F.col("id"), (F.col("id") * 10).cast("double").alias("v"),
        F.concat(F.lit("name"), F.col("id")).alias("name"),
    )
    upsert_version(spark, vpath, big, key="id")
    m3 = _load_manifest(vpath, 3)
    new3 = [f for f in m3["files"] if f not in set(m2["files"])]
    assert len(new3) > 1
    assert read_version(spark, vpath).count() == 100 + 50 + 20_000


def test_changefeed_touched_files_scope_matches_full(spark, vpath):
    """scope='touched-files' diffs only the manifests' symmetric
    difference and must classify EXACTLY like the full two-snapshot diff
    under mixed insert/update/delete DML — including across a multi-file
    layout where most files are shared between the snapshots."""
    from financial_big_data_spark.sources.versioned import delete_version

    write_version(_base(spark, 200), vpath, key="id", n_files=8)
    updates = spark.createDataFrame(
        [(3, 999.0, "patched3"), (300, 5.0, "new300"), (301, 6.0, "new301")],
        "id long, v double, name string",
    )
    upsert_version(spark, vpath, updates, key="id")
    delete_version(spark, vpath, spark.range(50, 55).select("id"), key="id")
    v1 = current_version(vpath)

    def feed(scope):
        return {
            (r.id, r.change_type)
            for r in changefeed(spark, vpath, 1, v1, key="id", scope=scope).collect()
        }

    full, fast = feed("full"), feed("touched-files")
    assert fast == full
    assert {"insert", "update", "delete"} == {c for _, c in full}
    with pytest.raises(ValueError, match="scope"):
        changefeed(spark, vpath, 1, v1, key="id", scope="bogus")


def test_scan_files_type_mismatch_falls_back_to_inference(spark, vpath):
    """ADVICE r8: the recorded-schema scan must compare footer TYPES, not
    just names — a sidecar recording double while a carried file holds
    long must fall back to inference instead of feeding the vectorized
    reader a schema the file cannot satisfy."""
    import json

    from financial_big_data_spark.sources.versioned import (
        _load_manifest,
        _schema_path,
        _scan_files,
    )

    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 10).alias("v"),
        F.lit("x").alias("name"),
    )
    write_version(df, vpath, key="id")
    # forge a stale sidecar: claim v is double while the files hold long
    sch = json.load(open(_schema_path(vpath)))
    for f in sch["fields"]:
        if f["name"] == "v":
            f["type"] = "double"
    json.dump(sch, open(_schema_path(vpath), "w"))
    files = _load_manifest(vpath, None)["files"]
    got = _scan_files(spark, vpath, files)
    assert got.schema["v"].dataType.typeName() == "long"  # inference won
    assert got.count() == 50


def test_footer_schema_check_falls_back_only_on_expected_errors(tmp_path, monkeypatch):
    """A corrupt footer or an arrow type Spark cannot map leaves the scan to
    inference (False); any other error propagates."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.pandas.types as ptypes
    from pyspark.sql.types import LongType, StructField, StructType

    from financial_big_data_spark.sources.versioned import _footer_schema_matches

    sch = StructType([StructField("a", LongType())])
    bad = tmp_path / "bad.parquet"
    bad.write_text("not parquet")
    unsigned = tmp_path / "unsigned.parquet"
    pq.write_table(pa.table({"a": pa.array([1], pa.uint64())}), unsigned)
    good = tmp_path / "good.parquet"
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}), good)
    assert [_footer_schema_matches(str(p), sch) for p in (bad, unsigned, good)] == [
        False, False, True
    ]

    def unexpected(*args, **kwargs):
        raise RuntimeError("unexpected")

    monkeypatch.setattr(ptypes, "from_arrow_schema", unexpected)
    with pytest.raises(RuntimeError, match="unexpected"):
        _footer_schema_matches(str(good), sch)
