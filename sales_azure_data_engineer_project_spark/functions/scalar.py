"""Named scalar helpers.

Each cites the reference use-site it generalizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["split_part", "safe_div", "dense_surrogate_key", "next_key_offset"]


def split_part(col: Column | str, delim: str, index: int) -> Column:
    """`split(col, delim)[index]` — the model_category derivation at
    `2_Silver_Notebook.py:33` (`split(col('Model_ID'),'-')[0]`)."""
    return F.split(F.col(col) if isinstance(col, str) else col, delim).getItem(index)


def safe_div(num: Column | str, den: Column | str) -> Column:
    """Division with divide-by-zero → NULL, generalizing `Rev_Per_unit`
    at `2_Silver_Notebook.py:49`.  The reference ran Spark 3 non-ANSI
    (x/0 → NULL silently); Spark 4 defaults to ANSI where `/` throws, so
    ``try_divide`` reproduces the reference semantics without turning
    ANSI off globally.  long/long → double either way."""
    num = F.col(num) if isinstance(num, str) else num
    den = F.col(den) if isinstance(den, str) else den
    return F.try_divide(num, den)


def next_key_offset(existing: DataFrame, key_col: str) -> int:
    """A2: current max surrogate key, driver-side scalar.

    Reference: ``select max(dim_model_key)`` then ``.collect()[0][0]+1``
    (`3(1)_Gold_dim_model.py:123-124`).  Returns 0 for an empty
    dimension so that the first assigned key is 1 — unlike the reference,
    whose initial-load seeding (`max_value = 1` at :120-121) starts keys
    at 1 but an incremental first-insert would start at max+1; we make
    both paths produce the same dense sequence (hazard H2).
    """
    row = existing.agg(F.max(key_col).alias("mx")).first()
    mx = row["mx"] if row is not None else None
    return int(mx) if mx is not None else 0


def dense_surrogate_key(
    df: DataFrame, key_col: str, order_cols: list[str], offset: int = 0
) -> DataFrame:
    """Deterministic dense surrogate keys, two-phase (no global window).

    Replaces the reference's ``max_value + monotonically_increasing_id()``
    (`3(1)_Gold_dim_model.py:133`) — non-dense and partition-dependent
    (hazard H2) — with keys equal to
    ``row_number() OVER (ORDER BY natural_key) + offset``: dense,
    reproducible, oracle-testable.

    Scale shape (round-3 verdict "What's wrong" #2): the obvious
    single ``Window.orderBy`` is an un-partitioned window — every row
    funnels through ONE reducer, which is fine for small dimension
    deltas but a scale killer on *initial* load, where the delta is the
    whole dimension (the reference's own dim_branch is near-unique:
    1,836 distinct keys in 1,849 rows — it grows with the fact table).
    This implementation is the classic two-phase zipWithIndex shape,
    fully distributed:

    1. ``repartitionByRange(order_cols)`` range-partitions rows so
       partition *i* holds a contiguous key range, then
       ``localCheckpoint`` PINS that partitioning (checkpoint, not
       ``persist``: an evicted-and-recomputed cache could re-sample
       different range boundaries and silently mis-map partition ids —
       a checkpointed block that is lost fails the job loudly instead).
    2. A tiny per-partition count aggregate (``spark_partition_id``)
       collects P rows to the driver, which prefix-sums them into
       per-partition starting offsets.
    3. ``row_number`` over a window PARTITIONED by the partition id —
       P parallel reducers, no global sort — plus the broadcast offset
       map yields the identical dense global sequence.

    Tie-break determinism matches the single-window version: rows that
    compare equal on all ``order_cols`` receive distinct-but-arbitrary
    keys either way (dimension natural keys are unique in practice —
    ``build_dimension`` orders by ALL natural cols for this reason).

    NOTE: unlike a pure plan builder, this function runs TWO eager
    Spark jobs at call time (the checkpoint materialization and the
    P-row count collect) — the unavoidable price of the driver-side
    prefix-sum.  Its callers pay them only where the delta can be
    large: ``scd2`` and the ``queries_core`` dense-key query.  The
    SCD-1 build (``dimensions.build_scd1_dimension``), initial load
    included, keys its new rows in the one single-partition window it
    runs over the (broadcast-sized) dimension instead, and stays lazy.
    """
    cols = [F.col(c) for c in order_cols]
    # Phase 1: range-partition and pin.  Rows with equal keys land in
    # one partition (RangePartitioner compares against boundaries), so
    # partition-id order IS global key order.
    ranged = df.repartitionByRange(*cols).localCheckpoint(eager=True)
    # Phase 2: per-partition counts -> prefix-sum offsets (P scalars).
    counts = dict(
        ranged.groupBy(F.spark_partition_id().alias("__pid")).count().collect()
    )
    starts: dict[int, int] = {}
    acc = offset
    for p in sorted(counts):
        starts[p] = acc
        acc += counts[p]
    if not starts:  # empty delta: no rows to key
        return df.withColumn(key_col, F.lit(None).cast("long"))
    offset_map = F.create_map(
        *[F.lit(x) for pair in starts.items() for x in pair]
    )
    # Phase 3: per-partition row_number + broadcast offsets.  __pid is
    # projected below the window's exchange (the exchange partitions BY
    # it), so it is evaluated against the pinned checkpoint partitions.
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            key_col,
            (
                F.row_number().over(w) + F.element_at(offset_map, F.col("__pid"))
            ).cast("long"),
        )
        .drop("__pid")
    )
