"""Bin packing for training-sequence assembly.

Two packing strategies ship in the engine:

- **concat-and-chop** (``pipeline_pack_sequences`` in
  ``queries_extensions``): pure windows, zero Python — documents are
  concatenated in doc_id order within each shard and cut every 512
  tokens.  Maximum fill, but documents straddle cut boundaries.
- **first-fit-decreasing** (this module): no document is ever split —
  each shard packs its documents into the fewest bins a greedy FFD
  pass achieves (≤ 11/9·OPT + 1, Johnson 1973).  FFD is inherently
  sequential WITHIN a shard (bin state mutates per placement), which
  makes it the engine's honest ``applyInPandas`` case: shards are
  independent and parallel, the per-shard pass is an Arrow-batched
  pandas function, and nothing touches the driver.

Scale shape: ONE hash-partition Exchange(shard) → grouped Arrow pass.
Shard count is the parallelism knob (a production corpus uses
thousands); per-shard state is one open-bin list bounded by the
shard's own bin count.  Documents longer than the budget get a
dedicated overflow bin and are flagged rather than silently split.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_first_fit_decreasing(
    df: DataFrame,
    *,
    budget: int,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    shard_col: str = "shard",
) -> DataFrame:
    """Assign each document to a bin of capacity ``budget`` within its
    shard via first-fit-decreasing.  Returns (shard, id, len, bin_idx,
    overflow) — ``overflow`` marks docs longer than the budget, which
    occupy a bin alone.

    Deterministic: docs are processed by (length DESC, id ASC) and bins
    probed in creation order, so reruns and shard-level retries place
    every doc identically.
    """
    b = int(budget)
    if b <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    out_schema = (
        f"{shard_col} long, {id_col} long, {len_col} long, "
        "bin_idx long, overflow boolean"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [len_col, id_col], ascending=[False, True], kind="mergesort"
        )
        fills: list[int] = []  # fill level per open bin, creation order
        rows = []
        for rid, ln in zip(pdf[id_col], pdf[len_col]):
            ln = int(ln)
            if ln > b:
                fills.append(b)  # overflow bin: full, nothing joins it
                rows.append((rid, ln, len(fills) - 1, True))
                continue
            for i, f in enumerate(fills):
                if f + ln <= b:
                    fills[i] = f + ln
                    rows.append((rid, ln, i, False))
                    break
            else:
                fills.append(ln)
                rows.append((rid, ln, len(fills) - 1, False))
        shard = pdf[shard_col].iloc[0]
        return pd.DataFrame(
            {
                shard_col: [shard] * len(rows),
                id_col: [r[0] for r in rows],
                len_col: [r[1] for r in rows],
                "bin_idx": [r[2] for r in rows],
                "overflow": [r[3] for r in rows],
            }
        )

    return df.select(shard_col, id_col, len_col).groupBy(shard_col).applyInPandas(
        pack, out_schema
    )


def packing_report(assigned: DataFrame, *, budget: int) -> DataFrame:
    """Per-shard packing summary over ``pack_first_fit_decreasing``
    output: bin count, token mass, fill rate (permille of bin
    capacity used), and overflow count — the numbers compared against
    concat-and-chop's fill/straddle trade.

    An overflow doc occupies one bin marked completely full, so its
    fill contribution is capped at ``budget`` (not its raw token
    count) — fill_permille stays in [0, 1000] even when oversize docs
    exist, keeping the rate comparable against concat-and-chop's."""
    bins = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        (F.max("bin_idx") + 1).alias("n_bins"),
        F.sum(F.when(F.col("overflow"), 1).otherwise(0)).alias("n_overflow"),
        F.sum(
            F.when(F.col("overflow"), F.lit(int(budget))).otherwise(F.col("n_tok"))
        ).alias("fill_tokens"),
    )
    return bins.select(
        "shard",
        "n_docs",
        "n_tokens",
        "n_bins",
        "n_overflow",
        F.expr(f"div(1000 * fill_tokens, {int(budget)} * n_bins)").alias(
            "fill_permille"
        ),
    ).orderBy("shard")
