"""M1 query path: BM25 top-k with pure DataFrame operations.

Query = sparse dot product of the raw-TF query vector against the
weighted doc vectors (/root/reference/src/utils/Utils.java:380-399),
executed the inverted-index way (SURVEY §2.3 "All-pairs similarity"):

  prepare   = on the driver, each query gets an int ``qix`` and each of
              its terms a ``slot``: the rank of its term_id in the query,
  candidates = weighted postings ⋈ broadcast (qix, term_id, slot, qw),
  score     = Σ qw·weight per doc, accumulated in ascending-term_id order
              (canonical float order — bit-stable vs the oracle),
  top-k     = per-query window row_number() <= k, ordered by
              score desc, then (conv_id, turn_idx) asc — the formalized
              MyPriorityQueue tie contract
              (/root/reference/src/structures/MyPriorityQueue.java:40-52).

Plan shape: one exchange, hashpartitioning(qix), serves both the fold (a
codegen HashAggregate of ``sum(if(slot = j, c, null))`` per slot, no
arrays) and the window. The window keeps ``rank <= kmax``, a literal, so
Spark cuts each query with a WindowGroupLimit; a broadcast join to each
query's own k cuts the rest.

The slot fold IS the ordered fold ``((0 + c_a) + c_b) + …``: a doc has at
most one contribution per slot, and the score adds the slots in slot
(= term_id) order from +0.0, adding +0.0 for each slot the doc lacks.
The accumulator is never −0.0 (round-to-nearest gives −0.0 only for
−0.0 + −0.0), and adding ±0.0 to any other double leaves it bit-for-bit
unchanged.

This path is the rank-identity anchor; wand.py is the scale path over
compressed blocks.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..text.analyze import term_counts


def analyze_query_terms(
    spark: SparkSession,
    queries: pd.DataFrame,
    ngrams: int = 1,
    analyzer: str = "reference",
) -> DataFrame:
    """queries(query_id, query_text, k) → DF(query_id, term, qw, k).

    Query analysis runs on the driver (query sets are small) through the
    SAME analysis chain as documents — raw TF as query-side weights
    (SURVEY §2.5).
    """
    rows = []
    for qid, text, k in zip(
        queries["query_id"], queries["query_text"], queries["k"]
    ):
        for term, tf in sorted(
            term_counts(text or "", ngrams=ngrams, analyzer=analyzer).items()
        ):
            rows.append((qid, term, float(tf), int(k)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "term", "qw", "k"]),
        schema="query_id string, term string, qw double, k int",
    )


def _scores(index, query_terms: DataFrame):
    """→ (DF(qix, conv_id, turn_idx, score) hash-partitioned on qix,
    local DF(qix, query_id, k), largest k). The batch's terms are looked
    up on the driver (query sets are small, SURVEY §7.1) by one job: a
    ``term IN (…)`` filter written as one SQL string of binary literals
    (any term text; ``isin`` made one py4j call per term, ~0.1 s per
    100-query batch). Terms not in the dictionary drop out."""
    spark = query_terms.sparkSession
    qt = pd.DataFrame(query_terms.collect(), columns=query_terms.columns)
    if qt.duplicated(["query_id", "term"]).any():
        raise ValueError(
            "M1 query_terms hold a (query_id, term) pair more than once, so "
            "the term order of its score fold is undefined; each term of a "
            "query must be one row. Build the batch with analyze_query_terms."
        )
    if (qt.groupby("query_id")["k"].nunique() > 1).any():
        raise ValueError(
            "M1 query_terms give one query two different k values; every "
            "row of a query must carry its one k. Build the batch with "
            "analyze_query_terms."
        )
    terms = ", ".join(
        f"CAST(X'{t.encode().hex()}' AS STRING)" for t in sorted(set(qt["term"]))
    )
    ids = index.terms.filter(F.expr(f"term IN ({terms})")).select(
        "term", "term_id"
    ).collect() if terms else []
    qt = qt.merge(pd.DataFrame(ids, columns=["term", "term_id"]), on="term")
    qt["qix"] = pd.factorize(qt["query_id"], sort=True)[0]
    qt = qt.sort_values(["qix", "term_id"])
    qt["slot"] = qt.groupby("qix").cumcount()
    qk = qt.drop_duplicates("qix")
    q = spark.createDataFrame(
        qt[["qix", "term_id", "slot", "qw"]],
        schema="qix int, term_id long, slot int, qw double",
    )
    contrib = (
        index.weights.join(F.broadcast(q), "term_id")
        .select("qix", "conv_id", "turn_idx", "slot", (F.col("qw") * F.col("weight")).alias("c"))
        .repartition(max(1, min(len(qk), spark.sparkContext.defaultParallelism)), "qix")
    )
    # rounded up to a multiple of 8: the generated aggregate code depends
    # on the slot count, and compiling a new count cost 0.7-1.4 s on the
    # first batch that needed it (an empty slot adds +0.0)
    n_slots = 8 * (int(qt["slot"].max()) // 8 + 1) if len(qt) else 8
    score = "0D"
    for j in range(n_slots):
        score = f"({score} + coalesce(s{j}, 0D))"
    scores = contrib.groupBy("qix", "conv_id", "turn_idx").agg(
        *[F.expr(f"sum(if(slot = {j}, c, null)) AS s{j}") for j in range(n_slots)]
    ).select("qix", "conv_id", "turn_idx", F.expr(score).alias("score"))
    qk_df = spark.createDataFrame(
        qk[["qix", "query_id", "k"]], schema="qix int, query_id string, k int"
    )
    return scores, F.broadcast(qk_df), int(qk["k"].max()) if len(qk) else 0


def score_all(index, query_terms: DataFrame) -> DataFrame:
    """→ DF(query_id, conv_id, turn_idx, k, score): every candidate doc
    (>= 1 matching term) with its full BM25 dot-product score."""
    scores, qk, _ = _scores(index, query_terms)
    return scores.join(qk, "qix").select("query_id", "conv_id", "turn_idx", "k", "score")


def topk_search(index, query_terms: DataFrame) -> DataFrame:
    """→ DF(query_id, rank, conv_id, turn_idx, score), ranks 1..k."""
    scores, qk, kmax = _scores(index, query_terms)
    w = Window.partitionBy("qix").orderBy(
        F.col("score").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kmax)
        .join(qk, "qix")
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "conv_id", "turn_idx", "score")
    )
