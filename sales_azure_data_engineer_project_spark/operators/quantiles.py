"""Exact grouped quantiles without a global sort — the GRID pattern.

``percentile_disc``-style exact quantiles over a grouped integer
column, computed scalably:

1. ONE map-side-combinable ``groupBy(group, value)`` collapses the
   corpus to the per-group DISTINCT-VALUE grid — bounded by the value
   DOMAIN (day counts, lengths, gap buckets), not by row count;
2. a window PARTITIONED by group runs the cumulative count over that
   grid (each partition is one group's value histogram — never the
   raw rows);
3. the quantile is the smallest value whose cumulative count reaches
   the rank ⌈p·n/100⌉ — one conditional MIN per requested p.

This is the engine's standard exact-quantile shape (used by the
ship-latency and repeat-purchase queries); the UNGROUPED variant with
an unbounded value domain belongs to ``prefixsum.bucketed_cumsum``
instead (two-level scan).

Parity contract (mirrored by every DuckDB oracle twin): rank
threshold is ``(p·n + 99) // 100`` (integer, truncating — equals
⌈p·n/100⌉ for positive operands), selection is ``MIN(CASE WHEN
cum ≥ rank THEN value END)``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def grid_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    ps: Sequence[int],
    *,
    count_alias: str = "n",
) -> DataFrame:
    """One row per group: ``<count_alias>`` (bigint row count) plus a
    ``p<p>`` column for each percentile in ``ps`` (exact
    percentile_disc, bigint).

    ``value_col`` must be integral (day/length/gap domains).  The
    widest shuffle is the (group, value) groupBy; the cumsum window
    partitions on the group key over the collapsed grid.
    """
    gcols = list(group_cols)
    grid = df.groupBy(*gcols, value_col).agg(F.count(F.lit(1)).alias("__c"))
    w = (
        Window.partitionBy(*gcols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        *gcols, value_col, "__c", F.sum("__c").over(w).alias("__cc")
    )
    tot = grid.groupBy(*gcols).agg(F.sum("__c").alias("__n"))
    joined = cum.join(tot, gcols) if gcols else cum.crossJoin(F.broadcast(tot))
    return (
        joined.groupBy(*gcols)
        .agg(
            F.min("__n").cast("bigint").alias(count_alias),
            *[
                F.min(
                    F.when(
                        F.col("__cc") >= F.expr(f"div({p} * __n + 99, 100)"),
                        F.col(value_col),
                    )
                )
                .cast("bigint")
                .alias(f"p{p}")
                for p in ps
            ],
        )
    )
