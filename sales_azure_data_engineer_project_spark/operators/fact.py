"""Star-schema fact assembly.

Reference: `4_Gold_fact_sales_table.py:18-81` — read silver + 4 gold
dims, chain 4 left equi-joins to swap natural keys for surrogate keys
(:46-49), project measures + keys (:50-51), then MERGE on the composite
4-key condition (:71).

Hazard H4: the reference's merge key (model,branch,dealer,date) is NOT
unique per fact row — two sales of the same combo collide in Delta
MERGE.  We resolve it the way §7 prescribes: **aggregate to the merge
grain** before upserting (sum measures).  The pre-aggregation is also
the right scale move: map-side partial aggregation shrinks the shuffle.

Scale notes:
- All dimension joins are explicitly ``F.broadcast`` — dimensions are
  orders of magnitude smaller than the fact at every scale the star
  model is designed for.  Four broadcast joins = zero shuffles for the
  lookup phase; the only shuffle is the final grain aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dimensions import DimensionSpec

__all__ = ["build_fact", "aggregate_to_grain"]


def build_fact(
    silver: DataFrame,
    dims: dict[str, tuple[DataFrame, DimensionSpec]],
) -> DataFrame:
    """Replace natural keys with surrogate keys via broadcast left joins.

    ``dims`` maps dim name → (dimension DataFrame, spec).  Left joins so
    fact rows are never dropped (reference J2; fact rowcount == silver
    rowcount is a §5 property test).
    """
    out = silver
    key_cols: list[str] = []
    for _, (dim_df, spec) in dims.items():
        lookup = dim_df.select(*spec.nk_cols, spec.key_col)
        out = out.join(F.broadcast(lookup), on=spec.nk_cols, how="left")
        key_cols.append(spec.key_col)
    # Case-insensitive measure resolution (hazard H5: the reference selects
    # Rev_Per_Unit against silver's Rev_Per_unit at 4_fact:50).
    lower_map = {c.lower(): c for c in out.columns}
    proj = [
        F.col(lower_map[m.lower()]).alias(m)
        for m in ("Revenue", "Units_Sold", "Rev_Per_Unit")
    ]
    return out.select(*proj, *key_cols)


def aggregate_to_grain(fact: DataFrame, grain: list[str]) -> DataFrame:
    """Collapse the fact to its merge grain (hazard H4 resolution).

    Re-derives ratio measures after summing (sum(Revenue)/sum(Units)),
    which is the only grain-consistent definition of Rev_Per_Unit.
    """
    out = fact.groupBy(*grain).agg(
        F.sum("Revenue").alias("Revenue"), F.sum("Units_Sold").alias("Units_Sold")
    )
    return out.withColumn(
        "Rev_Per_Unit", F.try_divide(F.col("Revenue"), F.col("Units_Sold"))
    ).select("Revenue", "Units_Sold", "Rev_Per_Unit", *grain)
