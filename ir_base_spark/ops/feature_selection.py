"""Feature selection over a labeled corpus — DF / CHI / IG / MI scoring,
per the reference selectors (the percentile slice is
ops/textops.term_percentile_slice)
(/root/reference/src/Analyzer/FeatureSelector.java:64-169, chi statistic
/root/reference/src/utils/Utils.java:900-907).

Inputs: a documents table and a labels table (doc_id, label). Stats are
the reference's per-class DF arrays (_stat.m_DF) re-expressed as a
(term × class) grid DataFrame: distinct-term-per-doc explode → join
labels → groupBy(term, label) count, completed with zero rows via a
terms × classes cross join (classes is tiny and broadcast). All scoring
is Catalyst column algebra; one shuffle on term.

Formulas follow the reference LITERALLY, including MI's
``ln(A·N / n_c · DF)`` (FeatureSelector.java:139-141 multiplies by the
term's total DF where the textbook formula divides — parity over
textbook).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import simple_tokens


def _round6(col):
    # portable rounding (see textops.quality_score)
    return F.floor(col * 1000000.0 + 0.5) / 1000000.0


def term_class_grid(documents: DataFrame, labels: DataFrame) -> DataFrame:
    """(term, label, df_tc, df, n_c, n) — complete grid incl. zero cells."""
    doc_terms = simple_tokens(documents).distinct()
    tc = (
        doc_terms.join(labels, "doc_id")
        .groupBy("term", "label")
        .agg(F.count(F.lit(1)).alias("df_tc"))
    )
    classes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_c"))
    n = labels.count()
    terms_df = tc.groupBy("term").agg(F.sum("df_tc").alias("df"))
    grid = (
        terms_df.crossJoin(F.broadcast(classes))
        .join(tc, ["term", "label"], "left")
        .withColumn("df_tc", F.coalesce(F.col("df_tc"), F.lit(0)))
        .withColumn("n", F.lit(n))
    )
    return grid


def _df_window(min_df: int, max_df_frac: float):
    # reference filter is strict on both ends (FeatureSelector.java:96,148)
    return (F.col("df") > min_df) & (F.col("df") < F.col("n") * max_df_frac)


def chi_square_terms(
    documents: DataFrame,
    labels: DataFrame,
    min_df: int = 1,
    max_df_frac: float = 0.8,
) -> DataFrame:
    """(term, score): class-size-weighted average chi-square
    (FeatureSelector.CHI :147-169; Utils.ChiSquare :900-907)."""
    g = term_class_grid(documents, labels).filter(_df_window(min_df, max_df_frac))
    A = F.col("df_tc").cast("double")
    B = F.col("df") - A
    C = F.col("n_c") - A
    D = F.col("n") - F.col("df") - F.col("n_c") + A
    x2 = (
        F.col("n") * (A * D - B * C) * (A * D - B * C)
        / F.col("n_c") / (B + D) / F.col("df") / (C + D)
    )
    return (
        g.withColumn("w", x2 * F.col("n_c") / F.col("n"))
        .groupBy("term")
        .agg(_round6(F.sum("w")).alias("score"))
    )


def info_gain_terms(
    documents: DataFrame,
    labels: DataFrame,
    min_df: int = 1,
    max_df_frac: float = 0.8,
) -> DataFrame:
    """(term, score): information gain, literal port of
    FeatureSelector.IG (:74-116) — zero-probability cells are skipped
    exactly where the reference guards ``!= 0``."""
    g = term_class_grid(documents, labels).filter(_df_window(min_df, max_df_frac))
    pr_ci = F.col("n_c") / F.col("n")
    pr_t = F.col("df") / F.col("n")
    pr_cit = (F.col("df_tc") / F.col("n_c")) * pr_ci / pr_t
    pr_citnot = (
        ((F.col("n_c") - F.col("df_tc")) / F.col("n_c")) * pr_ci / (1.0 - pr_t)
    )
    ent_c = F.when(pr_ci > 0, -pr_ci * F.log(pr_ci)).otherwise(0.0)
    cit_term = F.when(pr_cit != 0, pr_cit * F.log(pr_cit)).otherwise(0.0)
    citnot_term = F.when(pr_citnot != 0, pr_citnot * F.log(pr_citnot)).otherwise(0.0)
    return (
        g.groupBy("term")
        .agg(
            _round6(
                F.sum(ent_c)
                + F.first(pr_t) * F.sum(cit_term)
                + (1.0 - F.first(pr_t)) * F.sum(citnot_term)
            ).alias("score")
        )
    )


def mutual_info_terms(
    documents: DataFrame,
    labels: DataFrame,
    min_df: int = 1,
    max_df_frac: float = 0.8,
) -> DataFrame:
    """(term, score): average mutual information, literal port of
    FeatureSelector.MI (:119-144) including its ``· DF`` quirk; classes
    with df_tc = 0 produce -inf exactly as ``Math.log(0)`` does."""
    g = term_class_grid(documents, labels).filter(_df_window(min_df, max_df_frac))
    it_ci = F.log(
        F.col("df_tc").cast("double") * F.col("n") / F.col("n_c") * F.col("df")
    )
    pr_ci = F.col("n_c") / F.col("n")
    return g.groupBy("term").agg(F.sum(it_ci * pr_ci).alias("score"))
