"""SCD-Type-1 MERGE (upsert) semantics without Delta.

The reference upserts gold tables with Delta MERGE
(`3(1)_Gold_dim_model.py:163-169` ``whenMatchedUpdateAll /
whenNotMatchedInsertAll``; `4_Gold_fact_sales_table.py:68-74`).
delta-spark is not on this classpath, so we implement the same
*semantics* relationally; ``versioned.VersionedTable.merge`` commits the
result as a new table version:

    merged = σ_keep(source ∪ target), one window partitioned by the merge keys

- every target row whose key matches a source row is replaced by the
  source row (== whenMatchedUpdateAll),
- every non-matching source row is appended (== whenNotMatchedInsertAll),
- every non-matching target row is kept.  A key with a NULL column never
  matches, exactly as in an equi-join, so such target rows are kept too.

Hazard H4 (SURVEY §4.3): Delta MERGE *fails* when multiple source rows
match one target key.  The merge window counts the source rows of each
key, and a count of two or more hits ``raise_error`` in that same
window: the action that writes the merge result fails before anything
is published, at no job of its own.  ``guard_unique`` is the same check
for a frame with no target; it serves ``merge_upsert(target=None)``, a
MERGE into a table never created (the pipeline creates its gold tables
empty first, so only direct ``VersionedTable`` callers reach it).  Dimension snapshots need no such
check: ``dimensions.build_scd1_dimension`` raises the same message from
its own natural-key window.

Scale notes:
- The source plan is evaluated once: source and target are unioned and
  shuffled once on the merge keys, then one sorted window decides every
  row.  At cluster scale, target AND source should be bucketed on the
  merge keys so that shuffle disappears.  Delta/Iceberg would add
  file-level pruning; the relational core is identical.
- The merge result is the whole merged table.  A partitioned
  ``VersionedTable`` hands in only the partitions the source touches,
  which bounds the rewrite (and this window) to those partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["merge_upsert", "guard_unique"]


def _duplicate_keys_message(keys: list[str]) -> str:
    return (
        f"merge source has duplicate merge keys {keys}; Delta MERGE "
        "would raise 'multiple source rows matched' (SURVEY H4). "
        "Aggregate to the merge grain first."
    )


def merge_upsert(
    target: DataFrame | None,
    source: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Relational SCD-1 merge: source wins on key match, others kept.

    ``target=None`` means no table to merge into (the reference's
    `tableExists` false branch, `3(1)_Gold_dim_model.py:171-176`): the
    result is the source rows.

    Either way, evaluating the result raises if two source rows share
    ``keys``: the check runs inside the plan, not as a job of its own.

    The source is projected onto the target's columns (H7), so a column
    new in the source is dropped, as in Delta without ``mergeSchema``.
    """
    if target is None:
        return guard_unique(source, keys)
    source = source.select(*target.columns)
    return _merge_window(
        source.withColumn("__src", F.lit(1)).unionByName(
            target.withColumn("__src", F.lit(0))
        ),
        keys,
    )


def guard_unique(df: DataFrame, keys: list[str]) -> DataFrame:
    """``df`` unchanged, but evaluating it raises if two rows share
    ``keys``: the merge window with no target to merge into.

    The check runs inside whatever action evaluates ``df`` (the
    commit's write) instead of as a job of its own.  On a frame already
    partitioned on ``keys`` (an aggregate to the merge grain, or a
    single partition) the window adds no exchange.
    """
    return _merge_window(df.withColumn("__src", F.lit(1)), keys)


def _merge_window(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Source rows (``__src`` = 1) and target rows (0) decided per key
    by one window: two or more source rows raise; a source row
    survives; a target row survives unless a source row matches its
    key, and a key with a NULL column matches nothing."""
    n_src = F.sum("__src").over(Window.partitionBy(*keys))
    unmatched = F.col("__n_src") == 0
    for k in keys:
        unmatched = unmatched | F.col(k).isNull()
    fail = F.raise_error(F.lit(_duplicate_keys_message(keys)))
    keep = (
        F.when(F.col("__n_src") > 1, fail)
        .when(F.col("__src") == 1, F.lit(True))
        .otherwise(unmatched)
    )
    return rows.withColumn("__n_src", n_src).filter(keep).drop("__src", "__n_src")

