"""SCD-Type-2 dimension builder — history-preserving upserts.

The reference is SCD-1 (`3(1)_Gold_dim_model.py:167`
``whenMatchedUpdateAll`` — old attribute values are lost, SURVEY H3).
SCD-2 is the standard next tier: attribute changes CLOSE the current
row (valid_to = batch ts, is_current = false) and open a new row, so
facts can join "as of" any point in time.

Relational formulation — one lazy plan, no Delta needed:

    joined = current ⟗ src on the natural key         (one full outer join)
    per joined row: the kept row (closed if its attrs changed, else
                    unchanged or vanished, still current) and, for a new
                    or changed key, the opened row with a NULL key
    result = history ∪ those rows, keyed by ``assign_surrogate_keys``

Surrogate keys stay dense across versions (a new version of an existing
natural key gets a NEW surrogate — the point of SCD-2): opened rows key
from max(key)+1 in natural-column order, in the same window the SCD-1
build uses.  With no sink the build starts from an empty typed one, so
the initial load runs the incremental plan.

The build is a pure plan builder: it starts no Spark job.  Like the
SCD-1 build it assumes a dimension-sized frame, since the key window is
un-partitioned and every row — history included — passes through one
partition.

The batch must hold one row per natural key.  Two attribute variants
of one non-NULL key would close its current row twice and open two
current versions, so a count window over the batch raises inside the
plan instead (the ``raise_error`` pattern of ``upsert.merge_upsert``):
the action that evaluates the dimension fails, at no job of its own.
NULL natural keys are exempt, because they never match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dimensions import DimensionSpec, assign_surrogate_keys

__all__ = ["build_scd2_dimension"]

_META = ("valid_from", "valid_to", "is_current")


def build_scd2_dimension(
    src: DataFrame,
    sink: DataFrame | None,
    spec: DimensionSpec,
    *,
    batch_ts: str,
) -> DataFrame:
    """Fold one batch into an SCD-2 dimension.

    ``src``: natural key + attrs (one row per natural key — aggregate
    first; evaluating the result raises otherwise).  ``sink``: prior
    SCD-2 state or None.  ``batch_ts``: the effective timestamp
    (string, caller-provided so runs are deterministic/replayable —
    never wall-clock inside the plan).

    Output columns: key, natural cols, valid_from, valid_to (NULL =
    open), is_current.
    """
    nk = spec.nk_cols
    ts = F.lit(batch_ts)
    no_ts = F.lit(None).cast("string")
    src = _one_row_per_key(src.select(*spec.natural_cols).distinct(), nk)

    if sink is None:  # an empty typed sink: the initial load takes the same plan
        sink = src.where(F.lit(False)).select(
            F.lit(None).cast("long").alias(spec.key_col),
            *spec.natural_cols,
            ts.alias("valid_from"),
            no_ts.alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    out_cols = [spec.key_col, *spec.natural_cols, *_META]
    history = sink.filter(~F.col("is_current")).select(*out_cols)
    cur_attr = {a: f"__cur_{a}" for a in spec.attrs}
    joined = (
        sink.filter(F.col("is_current"))
        .select(
            spec.key_col,
            *nk,
            *(F.col(a).alias(cur_attr[a]) for a in spec.attrs),
            "valid_from",
        )
        .join(src.withColumn("__in_src", F.lit(True)), on=nk, how="full")
    )
    # Null natural keys never match, so they are always new or vanished.
    in_cur = F.col(spec.key_col).isNotNull()
    in_src = F.col("__in_src").isNotNull()
    same = F.lit(True)
    for a in spec.attrs:
        same = same & F.col(cur_attr[a]).eqNullSafe(F.col(a))
    changed = in_cur & in_src & ~same

    # A current row is kept: closed if the batch changed it, otherwise
    # unchanged or vanished (MERGE never deletes) and still current.
    kept = F.when(in_cur, F.struct(
        spec.key_col,
        *nk,
        *(F.col(cur_attr[a]).alias(a) for a in spec.attrs),
        "valid_from",
        F.when(changed, ts).alias("valid_to"),
        (~changed).alias("is_current"),
    ))
    # A new or changed natural key opens a version, keyed below.
    opened = F.when(in_src & (~in_cur | changed), F.struct(
        F.lit(None).cast("long").alias(spec.key_col),
        *spec.natural_cols,
        ts.alias("valid_from"),
        no_ts.alias("valid_to"),
        F.lit(True).alias("is_current"),
    ))
    rows = joined.select(
        F.inline(F.filter(F.array(kept, opened), lambda r: r.isNotNull()))
    )
    return assign_surrogate_keys(
        history.unionByName(rows), spec.key_col, spec.natural_cols
    )


def _one_row_per_key(src: DataFrame, nk: list[str]) -> DataFrame:
    """``src`` unchanged, but evaluating it raises if two rows share a
    natural key with no NULL column."""
    dup = F.col("__n") > 1
    for c in nk:
        dup = dup & F.col(c).isNotNull()
    fail = F.raise_error(
        F.lit(
            f"SCD-2 batch has two rows for one natural key {nk}; "
            "aggregate to one row per key first."
        )
    )
    return (
        src.withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(*nk)))
        .filter(F.when(dup, fail).otherwise(F.lit(True)))
        .drop("__n")
    )
