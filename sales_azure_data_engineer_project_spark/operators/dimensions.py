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
function that takes the same steps on the initial load and on every
later one:

  a. project the batch's natural key + attributes from silver with a
     NULL surrogate key, and union the sink's ``(key, natural cols)``
     (steps 1-2; the pipeline creates each dimension empty before its
     first load, so on the initial load the sink is that empty table,
     the reference's ``where 1=0`` frame)
  b. ``coalesce(1)`` + DISTINCT: every row of the dimension in one
     partition, each source variant once (step 1's DISTINCT, P1)
  c. one window partitioned by the natural key decides every row:
     existing, new and vanished at once, with no join, no null-split and
     no union of the two halves (steps 3-4, 6)
  d. ``assign_surrogate_keys`` keys the new rows densely from
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
  of the sink.
- Every dimension is assumed to be broadcast-sized, the same
  assumption ``fact.build_fact`` makes when it broadcasts every
  dimension, so the plan moves it into one partition up front.  A
  single-partition child already satisfies the DISTINCT, both windows
  and the write, so the committed plan has no exchange: one dimension
  commit is one stage, one job and one task per batch, and the silver
  scan feeding it is that one task.  The initial load makes the same
  assumption: there the new rows are the whole dimension.
- Keys stay unique without a separate check: new keys are max + a
  running count, sink keys were unique when committed, and the one
  case that would hand a key to two rows (a new attribute variant of a
  natural key the sink holds) raises inside step c's window.
- ``assign_surrogate_keys`` is the engine's one surrogate-key
  algorithm.  ``scd2.build_scd2_dimension`` keys its opened versions
  with it too, and so shares the single-partition assumption, history
  rows included.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .upsert import _duplicate_keys_message

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

    ``sink`` is the current gold dimension: on the initial load, the
    empty table the pipeline created (so that load runs this same plan),
    or None for a caller with no table at all.
    Returns the full new dimension: existing rows keep their surrogate
    keys but take CURRENT attribute values from silver (SCD-1 update,
    reference behavior per hazard H3); new natural keys get dense keys
    starting at max(existing)+1.  That already is the MERGE result, so
    callers commit it as a snapshot (``VersionedTable.overwrite``).
    Evaluating it raises if the batch holds two attribute variants of a
    natural key the sink holds (H4), so that commit publishes nothing.
    """
    # Each step is one select of SQL expressions: building a plan costs a
    # py4j round trip per Column call, and a string costs one.
    key = _ident(spec.key_col)
    nk = [_ident(c) for c in spec.nk_cols]
    attrs = [_ident(a) for a in spec.attrs]
    cols = [key, *nk, *attrs]
    # Source rows carry a NULL key; sink rows their committed one.
    rows = silver.selectExpr(f"CAST(NULL AS BIGINT) AS {key}", *nk, *attrs)
    if sink is not None:  # union the committed dimension
        rows = rows.union(sink.selectExpr(*cols))
    # One partition for the whole dimension, so nothing below shuffles.
    # Reference parity: the source dedup is DISTINCT over (nk, attrs) —
    # `select Distinct Dealer_ID, DealerName` (`3(3)_Gold_dim_dealer.py:44`)
    # — NOT one row per natural key.  If the input violates the nk→attrs
    # FD, the initial load legitimately creates one dim row (and one
    # surrogate) per variant, exactly like the reference.  (The
    # reference's own CSVs do not violate the FD — every
    # Dealer_ID/Branch_ID maps to one name — but synthetic dirt can.)
    # Key assignment therefore orders by ALL natural cols so variants
    # sort deterministically.
    rows = rows.coalesce(1).distinct()  # P1

    # One window per natural key decides every row.  A key the sink does
    # not hold keeps all its source variants as new rows.  A key the sink
    # holds keeps its sink rows (MERGE never deletes, no
    # whenNotMatchedBySource in the reference); with exactly one source
    # variant they take its attributes (whenMatchedUpdateAll :167).  Two
    # or more source variants of such a key would hand its surrogate to
    # each, so the commit aborts — the "multiple source rows matched"
    # failure Delta's MERGE raises in the reference.  Fail-fast is the
    # contract; callers that want collapse-to-one-variant semantics
    # should pre-aggregate silver.  A sink holding several keys for one
    # natural key (initial-load variants) and a batch with one variant
    # keeps every key, each taking the batch's attributes.  A NULL
    # natural-key column never matches, as in the reference's join, so
    # both sides of such a key are kept as they are.
    by_nk = f"OVER (PARTITION BY {', '.join(nk)})"
    counted = rows.selectExpr(
        *cols,
        f"sum(CAST({key} IS NULL AS BIGINT)) {by_nk} AS __n_src",
        f"count({key}) {by_nk} AS __n_sink",
        *(f"max(CASE WHEN {key} IS NULL THEN {a} END) {by_nk} AS __src_{i}"
          for i, a in enumerate(attrs)),
    )
    matched = " AND ".join(["__n_sink > 0", *(f"{c} IS NOT NULL" for c in nk)])
    fail = f"raise_error({_string(_duplicate_keys_message(spec.nk_cols))})"
    kept = counted.where(
        f"CASE WHEN {matched} THEN CASE WHEN __n_src > 1 THEN {fail}"
        f" ELSE {key} IS NOT NULL END ELSE true END"
    ).selectExpr(
        key,
        *nk,
        *(f"CASE WHEN {matched} AND __n_src = 1 THEN __src_{i} ELSE {a} END AS {a}"
          for i, a in enumerate(attrs)),
    )
    # New natural keys (no sink key) are keyed after the sink's max key.
    return assign_surrogate_keys(kept, spec.key_col, spec.natural_cols)


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
    key = _ident(key_col)
    order = ", ".join(_ident(c) for c in order_cols)
    rows_from_first = f"ORDER BY {order} ROWS BETWEEN UNBOUNDED PRECEDING AND"
    offset = f"coalesce(max({key}) OVER ({rows_from_first} UNBOUNDED FOLLOWING), 0)"
    n_new = f"sum(CAST({key} IS NULL AS BIGINT)) OVER ({rows_from_first} CURRENT ROW)"
    return df.selectExpr(
        f"CAST(coalesce({key}, {offset} + {n_new}) AS BIGINT) AS {key}",
        *(_ident(c) for c in df.columns if c != key_col),
    )


def _ident(col: str) -> str:
    """``col`` as a SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def _string(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"
