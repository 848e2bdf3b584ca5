"""Iterative graph operators — connected components for dedup clustering.

Near-dup detection yields PAIRS; acting on them (keep one doc per
duplicate group) needs the transitive closure: connected components.
This is the canonical *iterative* Spark algorithm (same loop shape as
GraphX's CC / large-scale label propagation):

    labels ← id
    repeat: label(v) ← min(label(v), min over neighbors' labels)
    until fixpoint

Each round is one shuffle (join + min-aggregate); rounds = graph
diameter (tiny for dup clusters, which are near-cliques).  Results are
persisted per round and the previous round unpersisted, so lineage
stays O(1) — without that, iteration k would replay all k-1 prior
joins (the classic iterative-Spark trap).

Driver involvement is one scalar per round: each round's aggregate
carries the node's OWN previous label alongside the min (the self row
is tagged before the union), so ``changed = Σ(new < own)`` falls out of
the same groupBy — no join of new-vs-old labels (an extra shuffle) and
no "previous round" state, which means no separate initialization
action either (an earlier revision compared per-round label SUMs,
paying one extra driver action before the loop to seed the baseline).
``changed == 0`` IS the fixpoint, directly.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components"]

# Rounds run at most.  A label travels one hop per round, so in a
# component of diameter above this some nodes keep a label that is not
# the component's least id.
_MAX_ROUNDS = 25


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Label every node with min(id) of its connected component.

    ``nodes``: one column ``id`` (isolated nodes allowed).
    ``edges``: undirected ``(src, dst)`` pairs (one direction suffices;
    symmetrized here).  Returns (id, component) with component = least
    member id, for components of diameter up to ``_MAX_ROUNDS``.
    """
    # persist the edge list: it is re-joined EVERY round, and without
    # this the entire upstream lineage (for dedup clustering, the whole
    # shingle/Jaccard pipeline) would re-execute per iteration.
    # Symmetrize with ONE explode, not union-of-two-selects: a union
    # references `edges` twice, so the first materialization would run
    # the (expensive, partially uncached) upstream pair-computation
    # twice — explode scans it once.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("s"), F.col("dst").alias("d")
                    ),
                    F.struct(
                        F.col("dst").alias("s"), F.col("src").alias("d")
                    ),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Size the LOOP's shuffle width from the measured edge count.  AQE
    # cannot re-plan across an iterative driver loop, and a tiny dup
    # graph (thousands of edges) pays full-width shuffle scheduling
    # every round — measured 1-1.5 s/round at 32 partitions for a
    # 2,364-edge graph, pure task overhead.  One partition per ~2M
    # edges, capped at the session's configured width, so a
    # cluster-scale graph keeps full parallelism while a small one
    # collapses to a single partition (which satisfies every clustering
    # requirement → the per-round join/agg plan exchange-free).  The
    # count also materializes sym's cache, which round 1 needs anyway.
    spark = nodes.sparkSession
    n_edges = sym.count()
    conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    loop_parts = max(1, min(conf_parts, n_edges // 2_000_000 + 1))
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        # localCheckpoint (not persist) per round: persist keeps the
        # FULL logical plan — round k's plan nests all k-1 prior
        # join/agg rounds, so analysis+optimization time grows linearly
        # and dominates (measured: round 5 on a 6-node chain took 2.6×
        # round 1).  localCheckpoint materializes to executor storage
        # AND truncates lineage, keeping every round's plan O(1).  On a
        # multi-executor cluster with dynamic allocation, swap for
        # reliable checkpoint(dir) — same contract, survives executor
        # loss.
        labels = nodes.select(
            F.col("id"), F.col("id").alias("component")
        ).localCheckpoint(eager=False)

        def one_round(lbl: DataFrame) -> DataFrame:
            # tag the self row so the groupBy can recover the node's
            # previous label next to the min — the convergence scalar
            # rides the round's one aggregation for free
            self_rows = lbl.select(
                "id", "component", F.lit(True).alias("is_self")
            )
            neighbor_labels = sym.join(lbl, sym.d == lbl.id, "inner").select(
                F.col("s").alias("id"), "component", F.lit(False).alias("is_self")
            )
            return (
                self_rows.unionByName(neighbor_labels)
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.max(F.when(F.col("is_self"), F.col("component"))).alias("own"),
                )
            )

        # One action per round (measured round 3: chaining TWO rounds
        # per action halves driver round-trips but runs a redundant
        # propagation round past the fixpoint — a wash locally and a
        # strict loss at scale, where one extra full-shuffle round costs
        # far more than one driver action; rejected).
        for _ in range(_MAX_ROUNDS):
            new_labels = one_round(labels).localCheckpoint(eager=False)
            # one action per round: materializes the checkpoint AND
            # returns the convergence scalar
            changed = new_labels.agg(
                F.sum((F.col("component") < F.col("own")).cast("long")).alias("c")
            ).collect()[0][0]
            labels = new_labels.select("id", "component")
            if not changed:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)
        # the returned labels are localCheckpoint-materialized (each
        # round's collect forces them), so the edge cache is dead weight
        # from here — free it instead of leaking one cached frame per
        # clustering call (ADVICE r2).
        sym.unpersist(blocking=False)
    return labels
