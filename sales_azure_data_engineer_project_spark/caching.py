"""Tracked ``persist`` with a session-wide release hook.

Query builders in this package persist intermediates that are consumed
by ≥2 downstream plan branches (shingle arrays, minhash signatures,
SQ8/PQ code tables, IVF cell assignments...).  Those persists are
load-bearing — without them Spark re-runs the whole upstream pipeline
once per consumer — but a long-lived session running many queries
back-to-back would otherwise accumulate cached partitions until
eviction pressure (ADVICE r2).

Contract: builders call :func:`tracked_persist` instead of
``df.persist``; harness code (perfbench, tools/check_oracle.py, the CLI)
calls :func:`release_caches` after each query's results are
materialized.  Library users embedding queries in their own session own
the same lifetime decision: call ``release_caches()`` whenever the
frames returned by a query are no longer reachable.

A tracked persist is a plain ``persist`` at the given storage level; it
sets no session conf.

Unpersisting is deliberately non-blocking (``blocking=False``): the
JVM-side drop happens asynchronously and never stalls the next query.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` at ``MEMORY_AND_DISK`` and register it for a later
    :func:`release_caches`.

    Every cache keeps the session's columnar batch size
    (``spark.sql.inMemoryColumnarStorage.batchSize``): on the
    repository's corpora a cache holds at most a few thousand rows."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED.append(out)
    return out


def release_caches() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking=False)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
