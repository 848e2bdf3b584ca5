"""Distributed exact prefix sums (running totals / ECDFs) without a
global window.

The naive Spark spelling of a global cumulative sum —
``F.sum(x).over(Window.orderBy(v))`` with no partitionBy — collapses
the whole relation into ONE task (Spark even warns
"No Partition Defined for Window operation"), which is the canonical
100 TB scale-killer for ECDF/running-total workloads.  This operator
computes the identical exact result with the classic two-level
scan:

1. bucket every row by a coarse, ORDER-PRESERVING key
   (``bucket = floor(order / width)``),
2. aggregate per-(group, bucket) partial sums — one map-side-combined
   groupBy whose output is tiny (#groups × #buckets rows),
3. compute exclusive bucket offsets with a window over that tiny
   relation (driver-scale, never row-scale),
4. broadcast-join the offsets back and finish with a window
   partitioned by (group, bucket) — each task scans only its bucket.

Cost: one combinable aggregate + one bounded window + one broadcast
join + one partitioned window.  No single-task stage anywhere; the
widest shuffle is the original groupBy on (group, bucket).

This generalizes the reference's running-total notebooks' semantics
(cumulative measures over an ordered dimension) to a shape that holds
at cluster scale.  Used by ``dedup_removal_bias_audit`` for its
length ECDF.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucketed_cumsum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_cols: Sequence[str],
    *,
    bucket_width: int,
) -> DataFrame:
    """Append ``cum_<c>`` inclusive running totals of each ``value_cols``
    entry, ordered by integer column ``order_col`` within each
    ``group_cols`` combination (empty ``group_cols`` = one global
    series), using the two-level scan described in the module
    docstring.

    ``order_col`` must be integral and unique per (group, order) row —
    aggregate to that grain first (an ECDF input is exactly that: one
    row per distinct value with its count).  ``bucket_width`` sets the
    coarse key; pick it so #buckets ≈ √(#distinct order values) or
    simply so the per-bucket row count fits a task comfortably.

    The input is always repartitioned by (group, bucket), even when it
    already arrives partitioned that way; a caller that has that
    distribution pays one extra exchange.
    """
    gcols = list(group_cols)
    df = df.withColumn("__bucket", F.floor(F.col(order_col) / F.lit(bucket_width)))
    # Round 11 (guide §2.4 "two operations keyed the same way can share
    # one exchange"): both consumers below — the partials groupBy and
    # the final within-bucket window — need hashpartitioning(group,
    # bucket), so establish it ONCE with an explicit repartition.  The
    # groupBy then aggregates without its own exchange, the window only
    # local-sorts, and because the two branches share an identical
    # subtree the planner emits a ReusedExchange: the input is shuffled
    # once instead of twice (it previously shuffled once into the agg
    # and once into the window).
    df = df.repartition(*gcols, "__bucket") if gcols else df.repartition("__bucket")

    # (2) tiny per-bucket partials — map-side combinable
    partials = df.groupBy(*gcols, "__bucket").agg(
        *[F.sum(c).alias(f"__p_{c}") for c in value_cols]
    )
    # (3) exclusive offsets over the bucket relation (bounded rows)
    wb = (
        Window.partitionBy(*gcols).orderBy("__bucket")
        if gcols
        else Window.orderBy("__bucket")
    )
    offsets = partials.select(
        *gcols,
        "__bucket",
        *[
            F.coalesce(
                F.sum(f"__p_{c}").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias(f"__off_{c}")
            for c in value_cols
        ],
    )
    # (4) within-bucket inclusive scan, offset by the bucket prefix
    ww = Window.partitionBy(*gcols, "__bucket").orderBy(order_col)
    out = df.join(F.broadcast(offsets), gcols + ["__bucket"])
    for c in value_cols:
        out = out.withColumn(
            f"cum_{c}",
            (
                F.sum(c).over(ww.rowsBetween(Window.unboundedPreceding, 0))
                + F.col(f"__off_{c}")
            ),
        )
    return out.drop("__bucket", *[f"__off_{c}" for c in value_cols])
