"""RankNet — pairwise logistic L2R, Spark-native batch training.

The reference trains RankNet (logistic regression over preference-pair
feature differences, /root/reference/src/Ranker/RankNet.java:17-120,
loss Σ log(1+exp(-βᵀx)) + λ/2·||β||², x = fv(better) - fv(worse)) with
LBFGS, and LambdaRank's OT_PAIR mode optimizes the same objective by
mini-batch SGD (/root/reference/src/Ranker/LambdaRank.java:93-201).

Spark-first re-expression: deterministic FULL-BATCH gradient descent —
each iteration is ONE aggregation job over the pair-difference table
(the model is tiny: RankFVSize doubles ride as literals in the plan;
the data never moves to the driver, only the 10 gradient sums do).
This is the standard distributed-LR shape: at 10^12 pairs each
iteration is a map-side partial aggregate + a 10-double reduce, no
shuffle of the feature rows at all.

Deliberate deviations from the reference, pinned for reproducibility
(the reference draws random initial weights and random SGD step sizes,
which no distributed rerun could reproduce): β₀ = 0 and a deterministic
step schedule μ_t = lr·shrinkage^t. The objective and gradient are the
reference's exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_feature_diffs(
    pairs: DataFrame,
    features: DataFrame,
    feature_cols: list[str],
    query_col: str = "query_id",
    doc_col: str = "doc_id",
) -> DataFrame:
    """x = fv(better) - fv(worse) per preference pair — the training row
    of RankNet.train (RankNet.java:96-118 consumes exactly these
    difference vectors). Two joins keyed (query, doc); at scale the
    features side is the big table and pairs are bounded per query, so
    both joins shuffle on the same (query, doc) key."""
    b = features.select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("better_doc"),
        *[F.col(c).alias(f"_b_{c}") for c in feature_cols],
    )
    w = features.select(
        F.col(query_col).alias("query_id"),
        F.col(doc_col).alias("worse_doc"),
        *[F.col(c).alias(f"_w_{c}") for c in feature_cols],
    )
    out = pairs.join(b, ["query_id", "better_doc"]).join(
        w, ["query_id", "worse_doc"]
    )
    return out.select(
        "query_id",
        "better_doc",
        "worse_doc",
        *[
            (F.col(f"_b_{c}") - F.col(f"_w_{c}")).alias(c)
            for c in feature_cols
        ],
    )


def _margin_expr(feature_cols: list[str], beta: list[float]):
    """βᵀx as a left-associated sum of literal·column products — the
    same association order the SQL oracle unrolls, so margins agree
    bit-for-bit given equal inputs."""
    terms = [F.col(c) * F.lit(b) for c, b in zip(feature_cols, beta)]
    return reduce(lambda a, t: a + t, terms)


def ranknet_train(
    pair_diffs: DataFrame,
    feature_cols: list[str],
    lambda_: float = 1.0,
    lr: float = 0.5,
    iters: int = 15,
    shrinkage: float = 0.9,
) -> list[float]:
    """Full-batch GD on the RankNet objective; returns β.

    Per iteration: margin m = βᵀx; ∂L/∂β = Σ (-1/(1+exp(m)))·x (the
    gradient of log(1+exp(-m))), averaged over pairs, plus λ·β
    (LambdaRank.java:186-190's regularized mean-gradient step);
    β ← β - μ_t·g with μ_t = lr·shrinkage^t.
    """
    pair_diffs = pair_diffs.cache()
    n = pair_diffs.count()
    if n == 0:
        pair_diffs.unpersist()
        return [0.0] * len(feature_cols)
    beta = [0.0] * len(feature_cols)
    for t in range(iters):
        m = _margin_expr(feature_cols, beta)
        sig = F.lit(-1.0) / (F.lit(1.0) + F.exp(m))
        row = pair_diffs.agg(
            *[F.sum(sig * F.col(c)).alias(f"g_{c}") for c in feature_cols]
        ).collect()[0]
        mu = lr * (shrinkage ** t)
        beta = [
            b - mu * (float(row[f"g_{c}"] or 0.0) / n + lambda_ * b)
            for b, c in zip(beta, feature_cols)
        ]
    pair_diffs.unpersist()
    return beta


def ranknet_misorder(
    pair_diffs: DataFrame, feature_cols: list[str], beta: list[float]
) -> int:
    """Number of preference pairs the model ranks wrong (margin <= 0) —
    the reference's misorder diagnostic (LambdaRank.java:129-163)."""
    m = _margin_expr(feature_cols, beta)
    return pair_diffs.filter(m <= 0).count()
