"""As-of (temporal) join — an operator Spark lacks natively.

``asof_join(left, right)`` attaches, to every left row, the most recent
right row with the same key and ``right.ts <= left.ts`` (backward
as-of; strict inequality optional).

Implementation is the scalable union-window composition, not a range
self-join and not a per-group pandas merge_asof:

    tag both sides → union → per-key window ordered by (ts, side) →
    last non-null right-payload ``last_value IGNORE NULLS`` → keep left rows

Cost: ONE shuffle on the key (the window partition), state = one row
(the running payload struct).  A range join would be O(n·m) per key;
``applyInPandas``+``merge_asof`` would serialize each key group through
Python.  This stays in whole-stage codegen end-to-end, works at any key
cardinality, and spills via the window sort — the 100 TB formulation.

Tie rule: a right row at exactly left.ts matches (``<=``); among equal
right timestamps the one latest in ``right_order`` wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "asof_join_same_source"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str,
    right_ts: str,
    payload: list[str],
    strict: bool = False,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join; payload columns arrive NULL when no right row
    precedes the left row.

    ``strict=True`` uses ``right.ts < left.ts`` (excludes simultaneous
    rows) — implemented by ordering left rows *before* right rows at
    equal timestamps.  ``right_tiebreak`` (a right-side column) makes
    the winner among equal-ts right rows deterministic — pass it
    whenever right timestamps can collide within a key.
    """
    lcols = left.columns
    clash = set(lcols) & set(payload)
    if clash:
        raise ValueError(
            f"payload columns {sorted(clash)} collide with left-side columns; "
            "alias them on the right side first"
        )
    # side ordering at equal ts encodes the tie rule: right first (0) for
    # <= semantics, left first for strict <
    right_side = F.lit(0 if not strict else 1)
    left_side = F.lit(1 if not strict else 0)

    # the tiebreak orders in its NATIVE type: an unconditional cast to
    # long would turn e.g. a string tiebreak into all-NULLs and silently
    # make the equal-ts winner nondeterministic again (ADVICE r1)
    if right_tiebreak is not None:
        tie_type = right.schema[right_tiebreak].dataType
        r_tie = F.col(right_tiebreak)
        l_tie = F.lit(None).cast(tie_type)
    else:
        r_tie = F.lit(0).cast("long")
        l_tie = F.lit(0).cast("long")
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        right_side.alias("__side"),
        r_tie.alias("__tie"),
        F.struct(*payload).alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    l = left.select(  # noqa: E741
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        left_side.alias("__side"),
        l_tie.alias("__tie"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *lcols,
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = l.unionByName(r).withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    out = merged.filter(F.col("__side") == left_side).select(
        *lcols, *[F.col(f"__match.{p}").alias(p) for p in payload]
    )
    return out


def asof_join_same_source(
    df: DataFrame,
    *,
    on: str,
    ts: str,
    is_left,
    is_right,
    left_cols: list[str],
    payload: dict[str, str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """:func:`asof_join` fast path when BOTH sides are row-subsets of
    ONE DataFrame (the ubiquitous event-stream case: clicks as-of last
    purchase from the same events table).

    The generic operator unions two filtered branches of the same
    source, which plans TWO full scans of the fact table.  Here every
    row belongs to at most one side, so one scan suffices: rows matching
    neither predicate are dropped, the side tag / payload / tiebreak are
    CASE expressions, and the same single-shuffle window does the rest.

    ``payload`` maps output column name → source column (payload values
    are taken from RIGHT rows; left rows carry NULL so the running
    ``last IGNORE NULLS`` skips them).  Ties follow ``asof_join``'s
    default ``<=`` rule: at equal timestamps right rows sort first.
    """
    right_side = F.lit(0)
    left_side = F.lit(1)
    if right_tiebreak is not None:
        tie_type = df.schema[right_tiebreak].dataType
        tie = F.when(is_right, F.col(right_tiebreak)).otherwise(
            F.lit(None).cast(tie_type)
        )
    else:
        tie = F.lit(0).cast("long")
    payload_struct = F.when(
        is_right, F.struct(*[F.col(src).alias(name) for name, src in payload.items()])
    )  # otherwise NULL
    tagged = (
        df.filter(is_left | is_right)
        .select(
            F.col(on).alias("__k"),
            F.col(ts).alias("__ts"),
            F.when(is_right, right_side).otherwise(left_side).alias("__side"),
            tie.alias("__tie"),
            payload_struct.alias("__payload"),
            *left_cols,
        )
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = tagged.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("__side") == left_side).select(
        *left_cols,
        *[F.col(f"__match.{name}").alias(name) for name in payload],
    )
