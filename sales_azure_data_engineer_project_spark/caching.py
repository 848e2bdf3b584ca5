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

Unpersisting is deliberately non-blocking (``blocking=False``): the
JVM-side drop happens asynchronously and never stalls the next query.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []

# Serializes the batch_rows conf swap below: the batch size is a
# SESSION-global conf, so two concurrent tracked_persist(batch_rows=…)
# calls on one SparkSession could capture each other's temporary value
# as the restore target, and an unrelated concurrent persist would
# silently inherit the bounded batch size (ADVICE r9).  Today every
# builder runs on a single driver thread, so the lock is insurance for
# future parallel stage setup, not a fix for an observed race.
_BATCH_CONF_LOCK = threading.Lock()


def tracked_persist(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    *,
    batch_rows: int | None = None,
) -> DataFrame:
    """Persist ``df`` and register it for a later :func:`release_caches`.

    ``batch_rows`` bounds the columnar cache's rows-per-batch for THIS
    persist only (CacheManager captures
    ``spark.sql.inMemoryColumnarStorage.batchSize`` when the
    InMemoryRelation is created, i.e. at this ``persist`` call — the
    conf is restored immediately after).  Use it on caches whose rows
    carry ARRAY or long STRING columns: their per-batch builders grow
    by buffer DOUBLING between the memory-store's per-batch accounting
    checks, so with the 10k-row default the build's transient
    allocation spike scales with row width — measured round-9 at the
    1000× tier (5.8M docs), the minhash signature cache OOM'd a stock
    8 GB heap inside ``ColumnBuilder.ensureFreeSpace`` while the same
    build at 2000-row batches completes with the store spilling
    normally.  Scalar-column caches keep the default: more batches
    mean more per-batch metadata and slightly worse compression for no
    safety gain."""
    if batch_rows is None:
        out = df.persist(level)
    else:
        # conf swap held under _BATCH_CONF_LOCK — see its comment; note
        # the lock only serializes tracked_persist against itself, a
        # plain df.persist() on another thread during the window would
        # still inherit the bounded size (single-threaded-driver
        # assumption, documented)
        with _BATCH_CONF_LOCK:
            spark = df.sparkSession
            key = "spark.sql.inMemoryColumnarStorage.batchSize"
            prev = spark.conf.get(key)
            spark.conf.set(key, str(batch_rows))
            try:
                out = df.persist(level)
            finally:
                spark.conf.set(key, prev)
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
