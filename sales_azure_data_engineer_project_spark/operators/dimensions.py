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

This module is the idiomatic-Spark generalization: one parameterized
function, left_semi/left_anti instead of the hand-rolled join+null-split,
dense deterministic ``row_number`` surrogate keys (hazard H2), and
``unionByName`` (hazard H7).  The hand-rolled variant is preserved in
``queries_core`` as an oracle-checked query so parity with the
reference's exact operator chain stays tested.

Scale notes:
- The semi/anti joins broadcast the *existing-dimension key set* when it
  is small, else shuffle on the natural key — Catalyst/AQE decides.
- The incremental build is a pure plan builder: it starts no Spark job.
  The whole dimension — existing ∪ new ∪ vanished — is evaluated once,
  by the action that commits it.
- Incremental surrogate assignment is one ``row_number`` window over the
  new-keys delta (small by definition), never the full dimension, offset
  by an in-plan ``max`` over the sink.  The initial load, where the delta
  is the whole dimension, keys with the two-phase ``dense_surrogate_key``
  instead (two eager jobs, no single-reducer window).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import dense_surrogate_key

__all__ = ["DimensionSpec", "build_scd1_dimension"]


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
    # semantics should pre-aggregate silver.
    order_cols = spec.natural_cols

    if sink is None:  # S9 tableExists branch: the table was never committed
        keyed = dense_surrogate_key(src, spec.key_col, order_cols, offset=0)
        return keyed.select(spec.key_col, *spec.natural_cols)

    # A committed sink, possibly empty: every branch below is a lazy
    # plan, and an empty sink simply keys every source row as new from 1.
    sink_keys = sink.select(spec.key_col, *nk)

    # Existing natural keys: surrogate from sink, attributes from src
    # (== reference's isNotNull branch :92 + whenMatchedUpdateAll :167).
    existing = src.join(sink_keys, on=nk, how="inner").select(
        spec.key_col, *spec.natural_cols
    )

    # New natural keys (== isNull branch :102): dense keys from max+1, in
    # the order dense_surrogate_key uses (natural cols asc, nulls first).
    new = src.join(sink_keys, on=nk, how="left_anti")
    offset = F.coalesce(sink.select(F.max(spec.key_col)).scalar(), F.lit(0))
    new_key = F.row_number().over(Window.orderBy(*order_cols)) + offset
    new_keyed = new.select(new_key.cast("long").alias(spec.key_col), *spec.natural_cols)

    # Keep sink rows whose natural key vanished from this batch's source:
    # MERGE never deletes (no whenNotMatchedBySource in the reference).
    vanished = sink.join(src.select(*nk), on=nk, how="left_anti")
    vanished = vanished.select(spec.key_col, *spec.natural_cols)

    return existing.unionByName(new_keyed).unionByName(vanished)  # U1, H7
