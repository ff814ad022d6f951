"""M1's slot-sum fold is bit-identical to the term_id-ordered fold.

The oracle is the ordered fold as one array expression: collect each
(query, doc) group's (term_id, qw·weight) pairs, sort them by term_id and
add them left to right from 0.0. Scores are compared with ``==``, not
within a tolerance. The corpus is built so that the compared groups hold
3 or more matched terms, negative-IDF terms (df > N/2) and, for one
query, more than 20 matched terms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from ir_base_spark.index.build import build_index
from ir_base_spark.query.dataframe_bm25 import (
    analyze_query_terms,
    score_all,
    topk_search,
)

WORDS = (
    "apple banana cherry garden harbor island jungle kettle lantern meadow "
    "nectar orchard pepper quartz river saddle timber velvet willow zephyr "
    "anchor beacon canyon ember forest glacier hollow ivory jasper kernel"
).split()
# in every doc but a few, so its BM25 IDF is negative
COMMON = "orbit"
OOV = "zzzunknownzzz qqqnotaword"


def _corpus() -> pd.DataFrame:
    rng = np.random.default_rng(11)
    rows = []
    for c in range(10):
        for t in range(4):
            n = int(rng.integers(4, 10))
            words = list(rng.choice(WORDS[:18], size=n))
            if (c, t) == (0, 0):
                words = WORDS[:25] + words
            if (c * 4 + t) % 7:
                words.append(COMMON)
            rows.append((f"conv-{c:03d}", t, " ".join(words)))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])


def _queries() -> pd.DataFrame:
    rng = np.random.default_rng(5)
    ks = [1, 10, 25, 100]
    rows = [
        ("q-long", " ".join(WORDS[:25]) + " " + OOV, 100),
        ("q-neg", f"{COMMON} apple banana cherry", 10),
        ("q-oov", OOV, 25),
    ]
    for i in range(12):
        words = list(rng.choice(WORDS[:18], size=int(rng.integers(3, 7))))
        if i % 2:
            words.append(COMMON)
        rows.append((f"q-{i:02d}", " ".join(words), ks[i % 4]))
    return pd.DataFrame(rows, columns=["query_id", "query_text", "k"])


def _ordered_fold(index, query_terms):
    """(query_id, conv_id, turn_idx, k) → score as the term_id-ordered
    fold, plus each group's matched-term count and smallest contribution."""
    qt = query_terms.join(
        F.broadcast(index.terms.select("term", "term_id")), "term", "inner"
    ).select("query_id", "term_id", "qw", "k")
    contrib = index.weights.join(F.broadcast(qt), "term_id").select(
        "query_id", "conv_id", "turn_idx", "k",
        F.struct(F.col("term_id"), (F.col("qw") * F.col("weight")).alias("c")).alias("tc"),
    )
    return contrib.groupBy("query_id", "conv_id", "turn_idx", "k").agg(
        F.aggregate(
            F.array_sort(F.collect_list("tc")), F.lit(0.0), lambda acc, x: acc + x["c"]
        ).alias("score"),
        F.count("*").alias("n_terms"),
        F.min(F.col("tc")["c"]).alias("min_c"),
    )


@pytest.fixture(scope="module")
def batch(spark):
    return analyze_query_terms(spark, _queries())


@pytest.fixture(scope="module", params=[0, 2], ids=["norm0", "norm2"])
def index(spark, request):
    return build_index(spark, spark.createDataFrame(_corpus()), norm=request.param)


def test_score_all_equals_ordered_fold(spark, index, batch):
    want = _ordered_fold(index, batch).collect()
    # the groups cover what the fold order matters for
    assert max(r["n_terms"] for r in want) >= 20
    assert sum(r["n_terms"] >= 3 for r in want) >= 10
    assert any(r["n_terms"] >= 3 and r["min_c"] < 0 for r in want)
    got = sorted(tuple(r) for r in score_all(index, batch).collect())
    assert got == sorted(tuple(r)[:5] for r in want)


def test_topk_equals_ordered_fold_ranked(spark, index, batch):
    """A batch mixing k in {1, 10, 25, 100} and an all-OOV query."""
    assert set(_queries()["k"]) == {1, 10, 25, 100}
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("conv_id").asc(), F.col("turn_idx").asc()
    )
    want = (
        _ordered_fold(index, batch)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "conv_id", "turn_idx", "score")
        .collect()
    )
    got = topk_search(index, batch).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert "q-oov" not in {r["query_id"] for r in got}
    assert {r["query_id"] for r in got if r["rank"] > 1} >= {"q-long", "q-neg"}


def test_all_oov_batch_is_empty(spark, index):
    qt = analyze_query_terms(
        spark, pd.DataFrame({"query_id": ["q-oov"], "query_text": [OOV], "k": [10]})
    )
    assert topk_search(index, qt).collect() == []
    assert score_all(index, qt).collect() == []
    assert topk_search(index, qt).columns == [
        "query_id", "rank", "conv_id", "turn_idx", "score"
    ]


def _query_terms(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "term", "qw", "k"]),
        schema="query_id string, term string, qw double, k int",
    )


def test_duplicate_query_term_rows_raise(spark, index):
    qt = _query_terms(spark, [("q", "appl", 1.0, 10), ("q", "appl", -1.0, 10)])
    with pytest.raises(ValueError, match="analyze_query_terms"):
        topk_search(index, qt)


def test_two_k_values_in_one_query_raise(spark, index):
    qt = _query_terms(spark, [("q", "appl", 1.0, 10), ("q", "banana", 1.0, 25)])
    with pytest.raises(ValueError, match="analyze_query_terms"):
        score_all(index, qt)
