"""Sweep-line operators — linear(-log) replacements for the O(n²)
pair joins users write first.  Each ships with a brute-force twin in
its registered query's DuckDB oracle AND a hypothesis property test
against Python brute force on random inputs
(tests/test_properties.py).

- ``interval_overlap_counts``: per-key count of overlapping interval
  pairs via +1/−1 boundary events and a running sum (half-open
  [start, end) semantics; ends release before same-point starts).
- ``pareto_frontier``: 2-D skyline (minimize x, maximize y) as a
  two-phase distributed prefix-max — local running max per range
  partition, partition-boundary maxima stitched by a driver-side
  prefix over ≤ #partitions scalars; never a global no-partition
  window (which would sort every row in one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["interval_overlap_counts", "pareto_frontier"]


def interval_overlap_counts(
    df: DataFrame, key_col: str, start_col: str, end_col: str
) -> DataFrame:
    """Per ``key_col``: number of intervals and number of unordered
    interval-instance pairs that overlap, treating intervals as
    half-open [start, end).  Σ(active−1) over start events counts each
    pair exactly once; tied starts see each other cumulatively, so the
    per-key SUM is invariant under any tie order."""
    iv = df.select(
        F.col(key_col).alias("_k"),
        F.col(start_col).cast("bigint").alias("_st"),
        F.col(end_col).cast("bigint").alias("_en"),
    )
    # EMPTY half-open intervals (start == end) overlap nothing, but
    # their -1 end event would sort before their own +1 start and push
    # a (running - 1) of -1 into the sum — exclude them from the sweep
    # while still counting them as intervals
    nonempty = iv.filter(F.col("_st") < F.col("_en"))
    bounds = nonempty.select(
        "_k", F.col("_st").alias("_t"), F.lit(1).alias("_d")
    ).unionByName(nonempty.select("_k", F.col("_en").alias("_t"), F.lit(-1).alias("_d")))
    w = Window.partitionBy("_k").orderBy("_t", "_d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    swept = bounds.withColumn("_running", F.sum("_d").over(w))
    pairs = (
        swept.filter(F.col("_d") == 1)
        .groupBy("_k")
        .agg(F.sum(F.col("_running") - 1).cast("bigint").alias("n_overlapping_pairs"))
    )
    counts = iv.groupBy("_k").agg(F.count(F.lit(1)).cast("bigint").alias("n_intervals"))
    return (
        counts.join(pairs, "_k", "left")
        .select(
            F.col("_k").alias(key_col),
            "n_intervals",
            F.coalesce("n_overlapping_pairs", F.lit(0)).cast("bigint").alias("n_overlapping_pairs"),
        )
    )


def pareto_frontier(
    df: DataFrame, x_col: str, y_col: str, *, num_partitions: int = 8
) -> DataFrame:
    """Rows of ``df`` on the (minimize ``x_col``, maximize ``y_col``)
    Pareto frontier: no other row has (x ≤, y ≥) with one strict.
    Identical (x, y) twins all survive; rows with NULL in either
    objective are excluded (incomparable).  Output columns = input
    columns."""
    # NULL y rows are incomparable — they can never dominate nor sit on
    # a max-y frontier; NULL x rows have no position on the x axis.
    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    # localCheckpoint, NOT persist (ADVICE r3): the collected per-
    # partition prefix maxima below are keyed by spark_partition_id —
    # if a persisted frame were evicted and recomputed, range-partition
    # sampling could assign different partition ids than the collected
    # prefix map and silently corrupt the frontier.  A checkpointed
    # block that is lost fails the job loudly instead of recomputing.
    grp = (
        base.groupBy(F.col(x_col).alias("_x"))
        .agg(F.max(F.col(y_col)).alias("_gmax"))
        .repartitionByRange(num_partitions, "_x")
        .sortWithinPartitions("_x")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = Window.partitionBy("_pid").orderBy("_x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = grp.withColumn("_lprev", F.max("_gmax").over(wloc))
    part_rows = sorted(
        (r["_pid"], r["_mx"])
        for r in grp.groupBy("_pid").agg(F.max("_gmax").alias("_mx")).collect()
    )
    # exclusive prefix max per partition, kept in the COLUMN's own type
    # (a float sentinel would collapse bigints above 2^53); partitions
    # with no predecessor simply have no map entry -> NULL
    prefix: dict[int, object] = {}
    run = None
    for pid, mx in part_rows:
        if run is not None:
            prefix[pid] = run
        run = mx if run is None or mx > run else run
    if prefix:
        pref_col = F.create_map(
            *[x for pid, mx in prefix.items() for x in (F.lit(pid), F.lit(mx))]
        )
    else:
        pref_col = None
    gprev = F.col("_lprev")
    if pref_col is not None:
        pglobal = F.element_at(pref_col, F.col("_pid"))
        gprev = (
            F.when(gprev.isNull(), pglobal)
            .when(pglobal.isNull(), gprev)
            .otherwise(F.greatest(gprev, pglobal))
        )
    frontier = (
        local.withColumn("_prev", gprev)
        .filter(F.col("_prev").isNull() | (F.col("_gmax") > F.col("_prev")))
        .select(F.col("_x"), F.col("_gmax"))
    )
    out = base.join(
        F.broadcast(frontier),
        (F.col(x_col) == F.col("_x")) & (F.col(y_col) == F.col("_gmax")),
    ).select(*df.columns)
    return out
