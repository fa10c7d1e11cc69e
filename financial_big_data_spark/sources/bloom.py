"""Per-file key Bloom filters — the pruning notch past footer key ranges.

Footer min/max ranges (``_key_ranges``) prune a key-clustered snapshot well
for RANGE predicates, but a point/set probe inside a file's range still
touches the file even when none of the probed keys exist there. A Bloom
sidecar answers "might this file contain key k?" with a bounded false-
positive rate and ZERO false negatives, so

- ``upsert_version``/``delete_version`` with a small update batch rewrite
  only files that genuinely (probably) hold a matched key — an insert of
  brand-new keys rewrites nothing;
- ``read_version_keys`` (point-set lookup) opens O(files that may match),
  not O(files whose range brackets the keys).

Layout: each immutable data file gets an immutable ``<file>.bloom``
sidecar (JSON: m bits, k hashes, n keys, base64 bitset) written right
after the batch — sidecars share the data file's lifecycle (carried by
reference across snapshots, removed by vacuum with their file). A missing
sidecar degrades to "might contain" — range pruning still applies, so
older tables keep working.

Determinism: keys canonicalize through ``str()`` and hash with
md5-double-hashing (h1 + i·h2 mod m) — pure Python on both the build side
(grouped pandas batches, one group per file — a file's keys already fit a
task) and the probe side (driver, bounded key sets only). No engine hash()
whose seed could drift between sessions.

Parameters: 10 bits/key, k=7 → ~1% false positives; a 1M-row file costs a
~1.2 MB sidecar, read only when a point probe considers the file.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

from pyspark.sql import DataFrame

from ..local import bounded_collect

BITS_PER_KEY = 10
NUM_HASHES = 7


def _h2(key) -> tuple[int, int]:
    d = hashlib.md5(str(key).encode("utf-8")).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:16], "little") | 1,  # odd step → full cycle
    )


def bloom_build(keys, bits_per_key: int = BITS_PER_KEY, k: int = NUM_HASHES) -> dict:
    """Build a serializable Bloom filter over ``keys`` (any str()-able).
    Cost is md5-bound (~0.2s per 50k keys — measured equal to a numpy
    bit-set rewrite, so the loop stays simple); the md5 family is FROZEN:
    sidecars persist across snapshots and a probe hashed differently
    would false-negative into wrong pruning."""
    n = len(keys)
    m = max(64, ((n * bits_per_key + 7) // 8) * 8)
    bits = bytearray(m // 8)
    for key in keys:
        h1, h2 = _h2(key)
        for i in range(k):
            idx = (h1 + i * h2) % m
            bits[idx >> 3] |= 1 << (idx & 7)
    return {
        "m": m,
        "k": k,
        "n": n,
        "b64": base64.b64encode(bytes(bits)).decode("ascii"),
    }


class Bloom:
    __slots__ = ("m", "k", "bits")

    def __init__(self, d: dict):
        self.m = d["m"]
        self.k = d["k"]
        self.bits = base64.b64decode(d["b64"])

    def might_contain(self, key) -> bool:
        return self.might_contain_hashed(*_h2(key))

    def might_contain_hashed(self, h1: int, h2: int) -> bool:
        for i in range(self.k):
            idx = (h1 + i * h2) % self.m
            if not (self.bits[idx >> 3] >> (idx & 7)) & 1:
                return False
        return True

    def might_contain_any(self, keys) -> bool:
        return any(self.might_contain(k) for k in keys)

    def might_contain_any_hashed(self, hashes) -> bool:
        """Probe with precomputed ``_h2`` pairs — callers testing the
        same key set against MANY files hash each key once, not once
        per file."""
        return any(self.might_contain_hashed(h1, h2) for h1, h2 in hashes)


def sidecar_path(data_file: str, col: str | None = None) -> str:
    """``<file>.bloom`` for the table's cluster key; ``<file>.bloom-<col>``
    for an EXTRA probed column (e.g. the partials sidecar's group key —
    clustered by _file for DML invalidation, group-bloomed so the
    group-scoped merge read can skip whole files)."""
    return data_file + (".bloom" if col is None else f".bloom-{col}")


def load_sidecar(data_file: str, col: str | None = None) -> Bloom | None:
    """None = no sidecar (pre-bloom file): caller must treat as 'might'."""
    try:
        with open(sidecar_path(data_file, col)) as fh:
            return Bloom(json.load(fh))
    except FileNotFoundError:
        return None


def write_bloom_sidecars(
    spark, files: list[str], key: str, col_suffix: str | None = None
) -> None:
    """One sidecar per data file, built DISTRIBUTED: the key column is
    read once, grouped by source file (``input_file_name``), and each
    group — exactly one file's keys, already task-sized by construction —
    builds its bitset in a grouped pandas batch. Only the (file, bloom)
    rows come to the driver: bounded metadata, one row per file."""
    import pandas as pd
    from pyspark.sql import functions as F

    if not files:
        return
    # Single small file: build the bitset driver-side from one pyarrow
    # column read — no Spark job. Only for key types whose Python str()
    # IS Spark's string cast (ints, strings — the same canonical-rendering
    # contract probe_values_safe enforces on the probe side); bloom_build
    # str()s raw values, so int 5 → "5" and None → "None" exactly as the
    # distributed path's cast column does. Small versioned-view upserts
    # (matview refreshes) hit this constantly; a 1-file job floor was the
    # single biggest line in their refresh profile.
    if len(files) == 1 and os.path.getsize(files[0]) < 8 * 2**20:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.ParquetFile(files[0]).schema_arrow
        if key in schema.names:
            t = schema.field(key).type
            if pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t):
                vals = pq.read_table(files[0], columns=[key])[key].to_pylist()
                b = bloom_build(vals)
                sp = sidecar_path(files[0], col_suffix)
                tmp = sp + ".tmp"
                with open(tmp, "w") as fh:
                    json.dump(b, fh)
                os.replace(tmp, sp)
                return

    def _build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        b = bloom_build(pdf["_k"].tolist())
        return pd.DataFrame([{"_f": pdf["_f"].iloc[0], "_bloom": json.dumps(b)}])

    rows = (
        spark.read.parquet(*files)
        .select(F.input_file_name().alias("_f"), F.col(key).cast("string").alias("_k"))
        .groupBy("_f")
        .applyInPandas(_build, "_f string, _bloom string")
        .collect()
    )
    from urllib.parse import unquote

    for r in rows:
        p = r["_f"]
        if p.startswith("file:"):
            # input_file_name renders a URI: strip the scheme/authority
            # AND decode the percent-escapes (space → %20, '%' → %25 ...)
            # so the sidecar lands next to the actual data file — an
            # encoded path here either failed the write loudly (missing
            # encoded directory) or stranded the sidecar where no probe
            # would ever find it
            p = unquote(p[len("file:"):])
            while p.startswith("//"):
                p = p[1:]
            if not p.startswith("/"):
                p = "/" + p
        sp = sidecar_path(p, col_suffix)
        tmp = sp + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(r["_bloom"])
        os.replace(tmp, sp)


def prune_by_keys(files: list[str], keys, col: str | None = None) -> list[str]:
    """Files that MIGHT contain at least one of ``keys`` (bounded probe
    set — the caller enforces the cap) in the cluster key (default) or
    in an extra-bloomed column ``col``. Missing sidecar → kept. Keys
    hash ONCE up front (O(keys) md5), only the bit probes are per-file."""
    hashes = [_h2(k) for k in keys]
    out = []
    for f in files:
        b = load_sidecar(f, col)
        if b is None or b.might_contain_any_hashed(hashes):
            out.append(f)
    return out


_EXACT_STR_TYPES = {
    "tinyint", "smallint", "int", "bigint", "string",
}


def probe_values_safe(dtype: str | None, keys) -> bool:
    """True iff a driver-side probe set can hash against sidecars built
    from Spark's string cast of a ``dtype`` column with ZERO false-
    negative risk: the column type must have one canonical rendering
    (``_EXACT_STR_TYPES``) AND every probe value's Python ``str()`` must
    be that rendering — ``str`` probes for string columns, true ``int``
    probes (bool excluded: ``str(True)`` is ``'True'``, Spark renders
    ``1``) for integer columns. A float probe like ``4.0`` against a
    bigint table renders ``'4.0'`` vs the engine's ``'4'`` — unsafe."""
    if dtype not in _EXACT_STR_TYPES:
        return False
    if dtype == "string":
        return all(isinstance(k, str) for k in keys)
    return all(isinstance(k, int) and not isinstance(k, bool) for k in keys)


def _collect_keys_capped(updates: DataFrame, key: str, cap: int) -> list | None:
    """The update batch's distinct keys IF there are ≤ cap of them, else
    None (fall back to range-only pruning). The cap bounds driver memory:
    the collect is explicitly a bounded-metadata move, never fact data.

    Also None for key types whose Python ``str()`` could disagree with
    Spark's string cast (timestamps, decimals, floats) — the build side
    stringifies through the engine, so only types with one canonical
    rendering may probe (a disagreement would be a FALSE NEGATIVE, i.e.
    a correctness bug, not just a missed prune)."""
    dtype = dict(updates.dtypes).get(key)
    if dtype not in _EXACT_STR_TYPES:
        return None
    rows = bounded_collect(updates.select(key).distinct(), cap)
    return None if rows is None else [r[0] for r in rows]
