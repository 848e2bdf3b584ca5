"""Lloyd's k-means over embedding columns — the trained coarse
quantizer for IVF-style ANN (``similarity_ann_ivf`` uses a fixed-stride
stand-in so its oracle stays deterministic; this is the real thing).

Iterative Spark formulation:
  1. centroids ← k seed vectors the caller picks (deterministic seeding;
     k-means++ would need a seeded RNG — avoided so runs are replayable)
  2. assign: broadcast centroids, argmin squared-L2 per vector (one
     narrow pass, no shuffle)
  3. update: mean of assigned vectors per cluster from per-batch
     partial sums — never raw vectors to the driver
  4. repeat until movement < tol or max_iter

Only the k×d centroid matrix ever reaches the driver (it must: it is
broadcast back).  Cost per iteration = one scan emitting ≤ k rows per
batch — the textbook scalable layout.

Two assignment tiers: the built-in-function fold (oracle-exact,
interpreted — higher-order lambdas skip codegen) and an Arrow-batched
numpy pass that fuses assignment with the iteration's partial sums
(~3× faster per pass on 64-dim vectors; the fit loop always uses it).
Both tiers accumulate distances in the SAME index order, so they are
bitwise interchangeable — which is what lets a SQL oracle replay
Arrow-trained codebooks exactly when the inputs are integer-valued
(exact partial sums).  The fit is flat: every corpus in the repository
derives k ≤ 32, so each point is compared with every centroid.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import as_double_vec

__all__ = ["kmeans_fit", "assign_clusters"]


def _centroid_struct(centroids: list[list[float]]):
    """Centroids as a literal array-of-arrays column."""
    return F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])


def assign_clusters(df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding") -> DataFrame:
    """Add ``cluster`` = argmin squared-L2 distance to ``centroids``.

    Built-in-function formulation (fold per centroid) — engine-exact and
    plan-transparent, but higher-order lambdas are INTERPRETED, so for
    dense vector math the Arrow tier below is ~3× faster per pass; this
    one remains the reference semantics."""
    v = as_double_vec(vec_col)
    cents = _centroid_struct(centroids)
    # dist_i = Σ (x_j - c_ij)²  computed as a fold per centroid
    dists = F.transform(
        cents,
        lambda c: F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    cluster = F.array_position(dists, F.array_min(dists)) - 1
    return df.withColumn("cluster", cluster.cast("int"))


def _dists_fold_order(X, C):
    """Squared-L2 distances accumulated dimension-by-dimension in index
    order — each output element computes ``((0 + t0) + t1) + ...`` with
    t_j = (x_j − c_j)², exactly the float64 rounding sequence of the SQL
    fold in ``assign_clusters``.  (numpy's ``.sum(-1)`` uses an 8-way
    unrolled pairwise reduction whose rounding differs in the last ulp —
    enough to flip an argmin on a near-tie and break oracle
    reproducibility; the loop below is still fully vectorized over
    N×k, just sequential over d.)

    Cost note: the d-sequential loop streams ~3 full (N×k) float64
    arrays per dimension — memory-traffic-bound, which is cheap at the
    k ≤ 32 every corpus derives and is the price of oracle replay.
    """
    import numpy as np

    D = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(X.shape[1]):
        diff = X[:, j, None] - C[None, :, j]
        D += diff * diff
    return D


def assign_clusters_arrow(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Arrow-batched numpy assignment: same contract as
    ``assign_clusters``, with the argmin vectorized over the whole batch
    instead of per-row interpreted lambdas.  Distances accumulate in
    fold order (see ``_dists_fold_order``), so this tier is bitwise
    identical to the SQL reference — ties included."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
        + ", cluster int"
    )

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            D = _dists_fold_order(X, C)
            pdf = pdf.copy()
            pdf["cluster"] = D.argmin(1).astype("int32")
            yield pdf

    return df.mapInPandas(part, out_schema)


def _iteration_sums_arrow(
    df: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    """One Lloyd's iteration's partial sums, fused into the assignment
    pass: per Arrow batch emit (cluster, n, element-wise vector sum) —
    k rows per batch instead of N·d posexplode rows."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    k = C.shape[0]

    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf[vec_col].to_list(), dtype=np.float64)
            D = _dists_fold_order(X, C)
            a = D.argmin(1)
            rows = [
                (c, int((a == c).sum()), X[a == c].sum(axis=0).tolist())
                for c in range(k)
                if (a == c).any()
            ]
            yield pd.DataFrame(rows, columns=["cluster", "n", "s"])

    return df.mapInPandas(part, "cluster int, n long, s array<double>")


def kmeans_fit(
    df: DataFrame,
    seeds: list[list[float]],
    *,
    vec_col: str = "embedding",
    max_iter: int = 10,
    tol: float = 1e-6,
) -> list[list[float]]:
    """Fit k-means from the ``len(seeds)`` initial centroids ``seeds``;
    returns the centroids.

    Deterministic given deterministic seeds: the caller picks them
    (a deterministic prefix of its frame, fetched once — sorting the
    frame inside the fit would re-run the sort on every iteration).

    Each iteration is one Arrow pass (``_iteration_sums_arrow``):
    assignment and per-batch partial sums fused, ≤ k rows per batch to
    the driver.  Its fold-order distances keep the fit replayable by
    an unrolled SQL oracle.
    """
    centroids = [list(c) for c in seeds]
    k = len(centroids)
    dim = len(centroids[0])

    # the per-iteration partial-sum shuffle carries at most k·dim rows —
    # full session width (32+) is pure task-scheduling overhead inside a
    # driver loop AQE can't re-plan (same trap as graph.connected_components)
    spark = df.sparkSession
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(max(1, min(int(prev_conf), 4)))
    )
    try:
        for _ in range(max_iter):
            counts = [0] * k
            acc = [[0.0] * dim for _ in range(k)]
            for r in _iteration_sums_arrow(df, centroids, vec_col).collect():
                c = r["cluster"]
                counts[c] += r["n"]
                acc[c] = [a + x for a, x in zip(acc[c], r["s"])]
            new_centroids = [list(c) for c in centroids]
            for c in range(k):
                if counts[c]:
                    new_centroids[c] = [s / counts[c] for s in acc[c]]
            movement = max(
                math.dist(a, b) for a, b in zip(centroids, new_centroids)
            )
            centroids = new_centroids
            if movement < tol:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)
    return centroids
