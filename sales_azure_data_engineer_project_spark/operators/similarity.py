"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- **brute-force cosine top-k** — the correctness baseline: broadcast
  the (small) query set, score every (query, candidate) pair with a
  JVM-side fold, rank per query.  Exact; cost O(|Q|·N·d).  At 100 TB
  the candidate scan is embarrassingly parallel and the broadcast keeps
  it shuffle-free until the final per-query top-k (a tiny shuffle of
  k·|Q| rows thanks to the rank-filter pushdown).
- **sign-LSH bucketed** — the scale path: hash vectors into 2^b
  coordinate-hyperplane sign buckets, join queries to candidates within
  the same bucket only.  Recall < 1, cost ∝ bucket occupancy.  (A
  production variant uses random hyperplanes; coordinate planes keep
  the oracle deterministic without a seeded RNG.)

Arithmetic contract: element-wise fold over doubles in index order —
bit-identical to DuckDB's ``list_dot_product`` (verified empirically),
so exact-threshold comparisons are portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..caching import tracked_persist

__all__ = [
    "as_double_vec",
    "dot",
    "with_norm",
    "cosine_topk",
    "sq8_codes",
    "sq8_topk",
    "pq_fit_codes",
    "pq_adc_topk",
    "sign_bucket",
]


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i as a strict left fold (stable summation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = as_double_vec(vec_col)
    return df.withColumn("_v", v).withColumn("_norm", F.sqrt(dot(F.col("_v"), F.col("_v"))))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Output: (query_id, neighbor_id, cos_sim double, rk int), self-pairs
    excluded, ties broken by neighbor id.
    """
    cand = with_norm(vectors, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    )
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )
    scored = (
        cand.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def sq8_quant_expr(v: Column) -> Column:
    """The SQ8 quantization map as a reusable expression: requires
    broadcast scalar columns ``mn``/``mx`` in scope (see ``sq8_codes``).
    Shared by every consumer so the quantization arithmetic — and
    therefore oracle parity — is defined in exactly one place."""
    return F.transform(
        v,
        lambda x: F.least(
            F.lit(255),
            F.greatest(
                F.lit(0),
                # greatest(range, ε) guards the degenerate all-equal
                # corpus: mx == mn would otherwise divide by zero and
                # silently yield NULL codes (ADVICE r2); with the guard
                # every value maps to code 0 — a valid constant corpus.
                F.floor(
                    (x - F.col("mn"))
                    * F.lit(256.0)
                    / F.greatest(F.col("mx") - F.col("mn"), F.lit(1e-12))
                ).cast("int"),
            ),
        ),
    )


def sq8_stats(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Global (mn, mx) range aggregate for SQ8 — one tiny broadcastable
    frame."""
    v = as_double_vec(vec_col)
    return df.select(
        F.min(F.array_min(v)).alias("mn"), F.max(F.array_max(v)).alias("mx")
    )


def sq8_codes(
    df: DataFrame, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar-quantize vectors to 8-bit codes over the global value range.

    The compression tier of production ANN (FAISS's SQ8): each dimension
    maps to ``floor((x − min) · 256 / (max − min))`` clamped to [0, 255]
    — 4 bytes/float → 1 byte/dim, so a 100 TB float corpus scans as
    25 TB and distance math runs in exact integer arithmetic (which is
    also what makes a DuckDB oracle bit-exact; float SQ variants could
    not be hash-compared).  The range statistic is ONE tiny aggregate
    broadcast to the quantization map — no shuffle of the vectors.

    Output: (id, codes array<int>).
    """
    return df.crossJoin(F.broadcast(sq8_stats(df, vec_col=vec_col))).select(
        F.col(id_col), sq8_quant_expr(as_double_vec(vec_col)).alias("codes")
    )


def sq8_topk(
    codes: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Top-k per query by integer dot product in the quantized domain.

    Same shape as ``cosine_topk`` (broadcast queries, scan candidates,
    rank-filter per query) but the score is Σ qa_i·qb_i over the 8-bit
    codes — BIGINT-exact, order-independent.  Output: (query_id,
    neighbor_id, approx_dot, rk)."""
    cand = codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("cv")
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col("codes").alias("qv"))
    idot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_dot", idot)
        .select("query_id", "neighbor_id", "approx_dot")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def pq_fit_codes(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    max_iter: int = 5,
    tol: float = 0.0,
) -> tuple[DataFrame, list[list[list[float]]]]:
    """Product quantization (FAISS ``PQ``): split each vector into ``m``
    subvectors, k-means each subspace to ``k`` centroids, store each
    vector as ``m`` small codes.  At 64 dims / m=4 / k=16 a float vector
    compresses 256 B → 4 B (64×) — the representation that makes
    billion-vector indexes fit in memory; finer-grained than SQ8 (which
    quantizes scalars independently) because codewords capture
    subvector correlations.

    Training is one FUSED Lloyd's loop: every iteration is a single
    Arrow pass that assigns and partial-sums ALL ``m`` subspaces at
    once (≤ m·k rows per batch reach the driver), instead of m
    independent fits — m× fewer driver-loop jobs, the dominant cost of
    iterative Spark at small-to-medium scale (measured 12 jobs → 3 for
    m=4, iters=3).  Seeds = subvectors of the first ``k`` vectors by id
    (TakeOrdered, no full sort); encoding is one chained
    argmin-assignment plan over the SQL fold tier (bitwise equal to the
    Arrow tier — see kmeans module docstring).  ``tol=0.0`` default:
    movement < 0 is never true, so EXACTLY ``max_iter`` updates run — a
    replayable iteration count is what lets an unrolled SQL oracle
    reproduce the codebooks.  Returns (codes frame: (id, c0..c{m-1}),
    codebooks[m][k][subdim])."""
    import math

    import numpy as np
    import pandas as pd

    from .kmeans import _dists_fold_order, assign_clusters

    head = df.orderBy(id_col).limit(k).select(as_double_vec(vec_col).alias("v")).collect()
    dim = len(head[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m

    # ONE persisted projection feeds every iteration AND the final
    # encode — unpersisted, each scan would re-read parquet and re-run
    # the double cast (measured 8.2 s → 4.2 s at sf0.1 for m=4, k=16).
    base = df.select(F.col(id_col), as_double_vec(vec_col).alias("_v")).transform(tracked_persist)
    codebooks: list[list[list[float]]] = [
        [list(r["v"][j * subdim : (j + 1) * subdim]) for r in head]
        for j in range(m)
    ]
    for _ in range(max_iter):
        C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]

        def part(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf["_v"].to_list(), dtype=np.float64)
                rows = []
                for j in range(m):
                    Xj = X[:, j * subdim : (j + 1) * subdim]
                    a = _dists_fold_order(Xj, C[j]).argmin(1)
                    rows.extend(
                        (j, c, int((a == c).sum()), Xj[a == c].sum(axis=0).tolist())
                        for c in range(k)
                        if (a == c).any()
                    )
                yield pd.DataFrame(rows, columns=["j", "c", "n", "s"])

        counts = [[0] * k for _ in range(m)]
        acc = [[[0.0] * subdim for _ in range(k)] for _ in range(m)]
        for r in base.mapInPandas(
            part, "j int, c int, n long, s array<double>"
        ).collect():
            j, c = r["j"], r["c"]
            counts[j][c] += r["n"]
            acc[j][c] = [a + x for a, x in zip(acc[j][c], r["s"])]
        movement = 0.0
        for j in range(m):
            for c in range(k):
                if counts[j][c]:
                    new = [s / counts[j][c] for s in acc[j][c]]
                    movement = max(movement, math.dist(codebooks[j][c], new))
                    codebooks[j][c] = new
        if movement < tol:
            break

    coded = base
    for j in range(m):
        sub = F.slice("_v", j * subdim + 1, subdim)
        coded = (
            assign_clusters(coded.withColumn("_sub", sub), codebooks[j], vec_col="_sub")
            .withColumnRenamed("cluster", f"c{j}")
            .drop("_sub")
        )
    return coded.select(id_col, *[f"c{j}" for j in range(m)]), codebooks


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_neighbors: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    full-precision; per (query, subspace, codeword) inner products form
    a lookup table — |Q|·m·k doubles, broadcast — and scoring a
    candidate is ``m`` table lookups + adds, NEVER a d-dim float scan.
    The scan side touches only the 4-byte codes: at 100 TB this is the
    difference between scanning codes and scanning vectors.

    Output: (query_id, neighbor_id, approx_ip, rk)."""
    m = len(codebooks)
    q_rows = queries.select(
        F.col(id_col).alias("qid"), as_double_vec(vec_col).alias("v")
    ).collect()
    spark = codes.sparkSession
    subdim = len(codebooks[0][0])
    lut_rows = []
    for r in q_rows:
        qv = list(r["v"])
        lut = [
            [
                sum(qv[j * subdim + t] * c[t] for t in range(subdim))
                for c in codebooks[j]
            ]
            for j in range(m)
        ]
        lut_rows.append((int(r["qid"]), lut))
    lutdf = spark.createDataFrame(lut_rows, "query_id long, lut array<array<double>>")
    score = sum(
        [
            F.element_at(F.element_at("lut", j + 1), F.col(f"c{j}") + 1)
            for j in range(m)
        ],
        F.lit(0.0),
    )
    scored = (
        codes.join(F.broadcast(lutdf), F.col("query_id") != F.col(id_col))
        .withColumn("approx_ip", score)
        .select(
            "query_id", F.col(id_col).alias("neighbor_id"), "approx_ip"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k_neighbors)
        .orderBy("query_id", "rk")
    )


def sign_bucket(vec_col: Column | str, bits: int = 4) -> Column:
    """Coordinate-hyperplane sign bucket: '1'/'0' per leading dimension."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.concat(
        *[
            F.when(F.element_at(v, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )
