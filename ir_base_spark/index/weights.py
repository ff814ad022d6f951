"""Per-(doc, term) weighting schemes — the reference's setFeatureValues.

Implements all schemes of /root/reference/src/Analyzer/Analyzer.java:
189-326 as pure Catalyst column expressions (whole-stage codegen, no
Python in the hot path):

- TF          (Analyzer.java:292-311): raw counts.
- TFIDF       (:193-213): (tf/doc_len) · ln((N+1)/DF).
- TFIDF-sublinear (:214-234): (1+log10 tf) · (1+log10(N/DF)).
- BM25        (:235-263): k1=1.5, b=0.75,
              IDF = ln((N−DF+0.5)/(DF+0.5)),
              w = IDF · tf·(k1+1)/(k1·(1−b+b·dl/navg)+tf).
- PLN         (:264-291): s=0.5 pivoted length norm.

plus L1/L2 per-doc normalization (Analyzer.java:316-321) as window
aggregates. The per-doc avgIDF quality feature (:211-212) is ranking
feature f9 in ops/l2r.py.

The terms dictionary join is a broadcast hash join when the dictionary
fits (Catalyst decides; we hint) — the reference's token→id HashMap probe
(/root/reference/src/Analyzer/DocAnalyzer.java:377-423).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

K1 = 1.5  # Analyzer.java:236
B = 0.75  # Analyzer.java:237
PLN_S = 0.5  # Analyzer.java:268


def _idf_bm25(n_docs: int):
    return F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5))


def set_feature_values(
    raw_postings: DataFrame,
    terms: DataFrame,
    n_docs: int,
    avg_doc_len: float,
    scheme: str = "BM25",
    norm: int = 0,
) -> DataFrame:
    """raw postings (conv_id, turn_idx, term, tf, doc_len) → weighted
    postings (conv_id, turn_idx, term_id, weight).

    Joining against the dictionary is also the CV-freeze semi-join: terms
    pruned from the dictionary drop out of every doc vector here
    (DocAnalyzer.java:406-420 analog).
    """
    joined = raw_postings.join(F.broadcast(terms), "term", "inner")

    scheme_u = scheme.upper()
    if scheme_u == "TF":
        w = F.col("tf")
    elif scheme_u == "TFIDF":
        w = (F.col("tf") / F.col("doc_len")) * F.log(
            F.lit(float(n_docs) + 1.0) / F.col("df")
        )
    elif scheme_u in ("TFIDF-SUBLINEAR", "TFIDF_SUBLINEAR"):
        w = (F.lit(1.0) + F.log10(F.col("tf"))) * (
            F.lit(1.0) + F.log10(F.lit(float(n_docs)) / F.col("df"))
        )
    elif scheme_u == "BM25":
        nlen = F.col("doc_len") / F.lit(float(avg_doc_len))
        w = _idf_bm25(n_docs) * (
            F.col("tf") * (K1 + 1.0) / (F.lit(K1) * (1.0 - B + B * nlen) + F.col("tf"))
        )
    elif scheme_u == "PLN":
        nlen = F.col("doc_len") / F.lit(float(avg_doc_len))
        w = (
            (F.lit(1.0) + F.log(F.lit(1.0) + F.log(F.col("tf"))))
            / (F.lit(1.0 - PLN_S) + F.lit(PLN_S) * nlen)
        ) * F.log(F.lit(float(n_docs) + 1.0) / F.col("df"))
    else:
        raise ValueError(f"unknown weighting scheme: {scheme}")

    out = joined.select(
        "conv_id", "turn_idx", "term_id", w.cast("double").alias("weight")
    )
    if norm == 0:
        return out
    doc_w = Window.partitionBy("conv_id", "turn_idx")
    if norm == 1:
        denom = F.sum(F.abs(F.col("weight"))).over(doc_w)
    elif norm == 2:
        denom = F.sqrt(F.sum(F.col("weight") * F.col("weight")).over(doc_w))
    else:
        raise ValueError(f"unknown norm: {norm}")
    return out.withColumn(
        "weight",
        F.when(denom > 0, F.col("weight") / denom).otherwise(F.col("weight")),
    )

