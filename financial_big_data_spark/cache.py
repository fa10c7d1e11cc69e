"""Session-scoped tracked caching for plan-level persists.

Operators that persist an intermediate frame (regime feature frames,
forecasting datasets, curation stages) register it here instead of calling
``df.persist()`` bare. A long-lived session that runs many queries (the
correctness gate runs 56) would otherwise accumulate cached frames until
memory-store eviction or disk spill; ``release_tracked()`` gives callers a
single point to drop everything a finished query pinned.

Lifetime contract: a tracked cache stays valid until ``release_tracked()``
is called — callers must materialize (collect/write) any result that
depends on a tracked cache *before* releasing. The query registry
(queries.py) releases at the START of each query callable, so each driver
query runs with only its own caches pinned; bench.py's ``clearCache()``
between runs is a superset of this.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """Persist ``df`` and register it for a later bulk ``release_tracked``."""
    out = df.persist(level)
    _TRACKED.append(out)
    return out


def release_tracked(blocking: bool = False) -> int:
    """Unpersist every tracked frame; returns how many were released.

    Safe to call repeatedly and with frames from stopped sessions: their
    ``Py4JError`` is swallowed, uncounted (the JVM ContextCleaner would
    reclaim those anyway); any other error propagates.
    """
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Py4JError:
            pass
    return n
