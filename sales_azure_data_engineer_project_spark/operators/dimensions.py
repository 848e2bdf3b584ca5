"""Generic SCD-1 dimension builder.

The reference's core IP: four near-identical notebooks
(`3(1)_Gold_dim_model.py` .. `3(4)_Gold_dim_date.py`, lines 44-176 in
each) that each do:

  1. DISTINCT-project natural key + attributes from silver   (:44-46, P1)
  2. read current sink (or empty-typed frame via ``where 1=0``) (:59-68, P7)
  3. LEFT JOIN source→sink on the natural key               (:79, J1)
  4. split isNotNull (existing) / isNull (new)              (:92,102, P6)
  5. max-key scalar + ``monotonically_increasing_id``       (:120-133, A2/H2)
  6. union old+new                                          (:146, U1/H7)
  7. Delta MERGE or initial saveAsTable                     (:163-176, S7/S6)

This module is the idiomatic-Spark generalization, one parameterized
function that takes three steps on the initial load and on every later
one alike:

  a. DISTINCT-project natural key + attributes from silver (step 1)
  b. FULL OUTER JOIN source→sink on the natural key: existing ∪ new ∪
     vanished in one join, with no null-split and no union (steps 2-4, 6);
     with no committed sink, the sink is the source's own empty typed
     frame (step 2's ``where 1=0``)
  c. ``assign_surrogate_keys`` keys the new rows densely from
     max(existing)+1, in natural-column order, in one window (step 5;
     hazard H2)

and leaves step 7 to the caller, which commits the result as a
snapshot.  The hand-rolled variant is preserved in ``queries_core`` as
an oracle-checked query so parity with the reference's exact operator
chain stays tested.

Scale notes:
- The build is a pure plan builder: it starts no Spark job.  The
  whole dimension — existing ∪ new ∪ vanished — is evaluated once,
  by the action that commits it, from one scan of silver and one scan
  of the sink joined by one full outer join on the natural key
  (shuffled on that key: a full outer join cannot broadcast).
- The key offset (the sink's max key) and the running count of new
  rows come from one un-partitioned window, so every row of the
  resulting dimension — existing, new and vanished — passes through a
  single partition.  That assumes a dimension fits the broadcast
  threshold, the same assumption ``fact.build_fact`` makes when it
  broadcasts every dimension.  The commit's key-uniqueness window
  (``upsert.guard_unique``) then needs no exchange of its own: a single
  partition already holds each key's rows together.  The initial load
  makes the same assumption: there the new rows are the whole dimension.
- ``assign_surrogate_keys`` is the engine's one surrogate-key
  algorithm.  ``scd2.build_scd2_dimension`` keys its opened versions
  with it too, and so shares the single-partition assumption, history
  rows included.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["DimensionSpec", "assign_surrogate_keys", "build_scd1_dimension"]


@dataclass(frozen=True)
class DimensionSpec:
    """One gold dimension (e.g. dim_model: key over Model_ID+model_category).

    ``natural_key`` may be a single column or a composite (tuple) — the
    reference only has single-column keys, but the real calendar
    dimension (hazard H1: Date_ID does not determine Day/Month/Year)
    needs the (Year, Month, Day) composite.
    """

    name: str                       # e.g. "dim_model"
    key_col: str                    # e.g. "dim_model_key"
    natural_key: str | tuple[str, ...]  # e.g. "Model_ID" or ("Year","Month","Day")
    attrs: tuple[str, ...] = field(default_factory=tuple)  # e.g. ("model_category",)

    @property
    def nk_cols(self) -> list[str]:
        nk = self.natural_key
        return list(nk) if isinstance(nk, tuple) else [nk]

    @property
    def natural_cols(self) -> list[str]:
        return [*self.nk_cols, *self.attrs]


def build_scd1_dimension(
    silver: DataFrame, sink: DataFrame | None, spec: DimensionSpec
) -> DataFrame:
    """Compute the post-merge state of one SCD-1 dimension.

    ``sink`` is the current gold dimension (None on initial load).
    Returns the full new dimension: existing rows keep their surrogate
    keys but take CURRENT attribute values from silver (SCD-1 update,
    reference behavior per hazard H3); new natural keys get dense keys
    starting at max(existing)+1.  That already is the MERGE result, so
    callers commit it as a snapshot (``VersionedTable.overwrite``).
    """
    nk = spec.nk_cols
    src = silver.select(*spec.natural_cols).distinct()  # P1

    # Reference parity: the src dedup is DISTINCT over (nk, attrs) —
    # `select Distinct Dealer_ID, DealerName` (`3(3)_Gold_dim_dealer.py:44`)
    # — NOT one row per natural key.  If the input violates the nk→attrs
    # FD, the initial load legitimately creates one dim row (and one
    # surrogate) per variant, exactly like the reference.  (The
    # reference's own CSVs do not violate the FD — every
    # Dealer_ID/Branch_ID maps to one name — but synthetic dirt can.)
    # Key-assignment therefore orders by ALL natural cols so variants
    # sort deterministically.
    #
    # Incremental edge case, also reference parity: when a batch carries
    # a NEW attribute variant of a natural key that already exists in
    # the sink, the nk-join below hands both variants the sink's one
    # surrogate, and the commit aborts on the duplicate key
    # (``upsert.guard_unique`` in the write plan) — the same "multiple
    # source rows matched" failure Delta's MERGE raises in the reference.
    # Fail-fast is the contract; callers that want collapse-to-one-variant
    # semantics should pre-aggregate silver.  The converse — a sink
    # holding several keys for one natural key (initial-load variants)
    # and a batch with one variant — keeps every key, each taking the
    # batch's attributes.
    order_cols = spec.natural_cols

    if sink is None:  # S9 tableExists branch: the table was never committed
        # an empty typed sink (`3(1)_Gold_dim_model.py:59-68` ``where 1=0``)
        sink = src.where(F.lit(False)).select(
            F.lit(None).cast("long").alias(spec.key_col), *spec.natural_cols
        )

    # The rest is one lazy plan, for an empty sink as for any other.  The
    # full outer join on the natural key yields existing (both sides),
    # new (source only) and vanished (sink only — MERGE never deletes,
    # no whenNotMatchedBySource in the reference) rows at once.  Null
    # natural keys never match, as in the reference's join.
    in_src = "__in_src"
    sink_attr = {a: f"__sink_{a}" for a in spec.attrs}
    joined = src.withColumn(in_src, F.lit(True)).join(
        sink.select(
            spec.key_col, *nk, *(F.col(a).alias(sink_attr[a]) for a in spec.attrs)
        ),
        on=nk,
        how="full",
    )
    # Attributes come from the source row when there is one (SCD-1
    # update, whenMatchedUpdateAll :167), otherwise from the sink.
    from_src = F.col(in_src).isNotNull()
    joined = joined.select(
        spec.key_col,
        *nk,
        *(F.when(from_src, F.col(a)).otherwise(F.col(sink_attr[a])).alias(a)
          for a in spec.attrs),
    )
    # New natural keys (no sink key) are keyed after the sink's max key.
    return assign_surrogate_keys(joined, spec.key_col, order_cols)


def assign_surrogate_keys(df: DataFrame, key_col: str, order_cols: list[str]) -> DataFrame:
    """Key the rows of ``df`` whose ``key_col`` is NULL (hazard H2).

    Each gets max(``key_col``) over the keyed rows plus a running count
    of NULL-key rows in ``order_cols`` order (asc, nulls first), so new
    keys are dense from max+1 and reproducible; with no keyed row they
    key from 1.  Keyed rows keep their keys.  Both come from the same
    un-partitioned window, so every row passes through one partition:
    ``df`` must be dimension-sized.  ``key_col`` comes first in the
    result, the other columns follow in ``df``'s order.
    """
    is_new = F.col(key_col).isNull()
    w = Window.orderBy(*order_cols)
    offset = F.max(key_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    n_new = F.sum(is_new.cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    new_key = F.coalesce(offset, F.lit(0)) + n_new
    key = F.when(is_new, new_key).otherwise(F.col(key_col))
    rest = [c for c in df.columns if c != key_col]
    return df.select(key.cast("long").alias(key_col), *rest)
