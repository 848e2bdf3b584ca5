"""SCD-Type-1 MERGE (upsert) semantics without Delta.

The reference upserts gold tables with Delta MERGE
(`3(1)_Gold_dim_model.py:163-169` ``whenMatchedUpdateAll /
whenNotMatchedInsertAll``; `4_Gold_fact_sales_table.py:68-74`).
delta-spark is not on this classpath, so we implement the same
*semantics* relationally and commit with an atomic directory swap:

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
for a frame with no target (an initial load, a snapshot commit).
``merge_upsert(assert_unique=True)`` additionally checks eagerly, with
one job before the merge plan is returned, so the streaming writers
fail before they stage anything.

Scale notes:
- The source plan is evaluated once: source and target are unioned and
  shuffled once on the merge keys, then one sorted window decides every
  row.  At cluster scale, target AND source should be bucketed on the
  merge keys so that shuffle disappears.  Delta/Iceberg would add
  file-level pruning; the relational core is identical.
- The swap rewrites the whole table.  That is also what Delta MERGE does
  in the worst case (all files touched); partition the gold table on a
  stable column and merge per-partition for bounded rewrites at 100 TB.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["merge_upsert", "guard_unique", "merge_write_parquet", "merge_write_partitioned"]


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
    *,
    assert_unique: bool = True,
    evolve_schema: bool = False,
) -> DataFrame:
    """Relational SCD-1 merge: source wins on key match, others kept.

    ``target=None`` means initial load (`tableExists` false branch,
    `3(1)_Gold_dim_model.py:171-176`): the result is the source rows.

    Either way, evaluating the result raises if two source rows share
    ``keys`` (inside the plan); ``assert_unique`` also checks eagerly,
    before the plan is returned.

    ``evolve_schema=True`` = Delta's ``mergeSchema``/autoMerge: columns
    new in the source are added to the table (NULL for untouched target
    rows); columns missing from the source stay, NULL on inserted rows.
    Off by default — silent schema drift should be an explicit opt-in.
    """
    if assert_unique:
        dup = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(_duplicate_keys_message(keys))
    if target is None:
        return guard_unique(source, keys)
    if evolve_schema:
        source = _align_evolved(source, target)
        target = _align_evolved(target, source)
    else:
        source = source.select(*target.columns)  # align column order (H7)
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


def _align_evolved(df: DataFrame, other: DataFrame) -> DataFrame:
    """Add ``other``'s missing columns to ``df`` as typed NULLs."""
    have = set(df.columns)
    extra = [f for f in other.schema.fields if f.name not in have]
    for f in extra:
        df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return df


def merge_write_parquet(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    *,
    assert_unique: bool = True,
) -> None:
    """MERGE INTO a parquet directory with an atomic-ish swap commit.

    Reads current target (if any), computes the merged relation, writes
    to a staging dir, then swaps.  The read must be fully materialized
    before the target dir is replaced, hence the staging write.
    """
    exists = os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )
    target = spark.read.parquet(path) if exists else None
    merged = merge_upsert(target, source, keys, assert_unique=assert_unique)
    staging = f"{path}.__staging_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    if exists:
        old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        os.rename(staging, path)


def merge_write_partitioned(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
    *,
    assert_unique: bool = True,
) -> list:
    """MERGE INTO a hive-partitioned parquet table, rewriting ONLY the
    partitions the source touches.

    This is the bounded-rewrite MERGE the 100 TB gold zone needs (the
    module docstring's scale note, now implemented): ``merge_write_parquet``
    rewrites the whole table per merge — fine for dimension-sized
    tables, ruinous for a fact table where a daily batch touches 1 of
    ~2,000 date partitions.  Here:

    1. the affected partition values are the source's distinct
       ``partition_col`` values (one small collect — partitions per
       batch, not rows);
    2. the target is read with an IN-list filter on ``partition_col``
       that prunes to exactly those directories (partition pruning —
       the scan never touches the other ~1,999);
    3. the merged slice is written back via dynamic partition overwrite
       (``partitionOverwriteMode=dynamic``), which replaces only the
       partitions present in the written frame.

    ``partition_col`` must be functionally determined by the merge keys
    (a row may not move between partitions), which holds for any
    date-grained fact whose key includes the date.  Returns the list of
    partition values rewritten.
    """
    if partition_col not in source.columns:
        raise ValueError(f"source lacks partition column {partition_col!r}")
    affected = [
        r[0] for r in source.select(partition_col).distinct().collect()
    ]
    exists = os.path.isdir(path) and any(
        name.startswith(f"{partition_col}=") for name in os.listdir(path)
    )
    if exists:
        target_slice = spark.read.parquet(path).filter(
            F.col(partition_col).isin(affected)
        )
        merged = merge_upsert(
            target_slice, source, keys, assert_unique=assert_unique
        )
    else:
        merged = merge_upsert(None, source, keys, assert_unique=assert_unique)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return sorted(affected)
