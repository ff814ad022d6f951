"""PageRank instance weighting over per-group similarity graphs.

Deterministic Spark analog of the reference's influence weighting
(/root/reference/src/influence/PageRank.java:25,68-185): documents are
grouped (per item/product in the reference; any group column here),
each large-enough group gets a k-NN similarity digraph whose edge
weights are a softmax over each node's top-k dot-product neighbors
(constructSparseGraph :69-97), and the power iteration

    r_i' = α/N + (1-α) · Σ_{j→i} T[j,i] · r_j,   then L2-normalize r'

runs from the uniform 1/√N start (calcPageRank :129-166). The final
instance weight is 1 + 10·r (:168).

Deviations, documented: fixed iteration count instead of the
maxIter/delta test; neighbor ties break by (sim desc, id asc) (the
Java bounded queue leaves equal-similarity order unspecified); a
single ``min_group_size`` threshold instead of the reference's
streaming quirk (>10 for every group except >5 for the last one in
file order — an artifact of its sequential reader, not a semantic);
dot products round to 6 dp before ranking/softmax so the SQL oracle
ranks and weighs identically.

Scale shape: groups are bounded (per-item review sets), so the whole
graph of one group is one task's state. A single
``groupBy(group).applyInPandas`` pass hands each group to a numpy
kernel that builds the n×n dot matrix, the top-k softmax edges and
every power iteration in memory — no pair join, window, per-iteration
join or cache. The matrix is O(n²) per group, so the group size is a
declared bound: ``MAX_GROUP_SIZE`` raises before anything n×n is
allocated. Groups above it need candidate generation from the ANN path
(ops/similarity.py) in place of the exhaustive pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

# The kernel holds n×n float64 matrices (the dot fold's sum and its
# per-dimension product, the rounding temporaries, the sort order):
# n² × 8 B each, so 4,096 rows → 134 MB per matrix; one 4,096-row group
# of 64-dim vectors peaks about 640 MB above the worker's base and takes
# about 7 s on one core. The bound sits above sf1's largest group (2,500
# docs per source). Read on the driver at call time, so a test can
# lower it.
MAX_GROUP_SIZE = 4_096


def _round6(x: np.ndarray) -> np.ndarray:
    """round(x, 6) half away from zero, as SQL ``round`` does."""
    t = np.abs(x) * 1e6
    f = np.floor(t)
    return np.copysign(f + (t - f >= 0.5), x) / 1e6


def _group_ranks(
    A: np.ndarray, top_k: int, alpha: float, iterations: int
) -> np.ndarray:
    """Final L2-normalized ranks of one group; rows of ``A`` in id order."""
    n, dim = A.shape
    # sequential fold over dimensions from 0.0: the same additions, in
    # the same order, as similarity._dot's aggregate(zip_with(...))
    S = np.zeros((n, n))
    prod = np.empty((n, n))
    for d in range(dim):
        S += np.outer(A[:, d], A[:, d], out=prod)
    del prod
    S = -_round6(S)
    np.fill_diagonal(S, np.inf)
    k = min(top_k, n - 1)
    # stable sort of -s: (s desc, dst asc), as rows are in id order
    dst = np.argsort(S, axis=1, kind="stable")[:, :k]
    e = np.exp(-np.take_along_axis(S, dst, axis=1))
    w = (e / e.sum(axis=1, keepdims=True)).ravel()
    src = np.repeat(np.arange(n), k)
    dst = dst.ravel()
    r = np.full(n, 1.0 / np.sqrt(n))
    for _ in range(iterations):
        infl = np.bincount(dst, weights=w * r[src], minlength=n)
        r = alpha / n + (1.0 - alpha) * infl
        r = r / np.sqrt(np.sum(r * r))
    return r


def pagerank_instance_weights(
    vectors: DataFrame,
    top_k: int = 5,
    alpha: float = 0.15,
    iterations: int = 3,
    min_group_size: int = 10,
    group_col: str = "grp",
    id_col: str = "id",
    vec_col: str = "vec",
) -> DataFrame:
    """vectors(group, id, vec) → (group, id, rank6, weight6)."""
    V = vectors.select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    ).where(F.col("g").isNotNull())
    schema = StructType(
        [V.schema["g"], V.schema["id"], StructField("r", DoubleType())]
    )
    bound = MAX_GROUP_SIZE

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n <= min_group_size:
            return pdf.iloc[:0, :2].assign(r=0.0)
        if n > bound:
            raise ValueError(
                f"pagerank_instance_weights: group {pdf['g'].iloc[0]!r} "
                f"has {n} rows, above MAX_GROUP_SIZE={bound}; each group "
                f"is ranked from exhaustive n×n similarity matrices "
                f"({n * n * 8 / 1e6:.0f} MB each at this size). Take each "
                f"node's neighbor candidates from the ANN candidate seam "
                f"(ops/similarity.py ann_ivf_topk / ann_lsh_topk_batch) "
                f"for larger groups."
            )
        pdf = pdf.sort_values("id", kind="stable")
        A = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {
                "g": pdf["g"].to_numpy(),
                "id": pdf["id"].to_numpy(),
                "r": _group_ranks(A, top_k, alpha, iterations),
            }
        )

    r = V.groupBy("g").applyInPandas(kernel, schema=schema)
    return r.select(
        F.col("g").alias(group_col),
        F.col("id").alias(id_col),
        F.round(F.col("r"), 6).alias("rank6"),
        F.round(F.lit(1.0) + F.lit(10.0) * F.col("r"), 6).alias("weight6"),
    )
