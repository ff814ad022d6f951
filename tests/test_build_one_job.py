"""The in-memory build_index runs ONE Spark job, the tokenize checkpoint.

An Observation on the checkpoint gives the postings count (the bound that
picks build_dictionary's one-partition rank against
dictionary.SMALL_RANK_ROWS) and, unpruned, the corpus constants. The
one-partition rank must assign the ids the distributed two-phase rank
assigns, and the observed constants must equal corpus_stats over the
doc-head rows, compared with ``==``.
"""

from __future__ import annotations

import random
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from ir_base_spark.index import dictionary
from ir_base_spark.index.build import build_index
from ir_base_spark.index.dictionary import (
    build_dictionary,
    corpus_stats,
    prefix_offsets,
)
from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, score_all
from tests.test_wand import _run_in_job_group as _jobs


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_unpruned_build_is_one_job(spark, fixture_small):
    t = spark.createDataFrame(fixture_small.transcripts)
    idx, jobs = _jobs(spark, lambda: build_index(spark, t))
    assert jobs == 1
    assert idx.n_docs > 0 and idx.avg_doc_len > 0.0


@pytest.mark.parametrize(
    "kw", [{"norm": 0}, {"norm": 2}, {"min_df": 3, "max_df": 500}],
    ids=["norm0", "norm2", "pruned"],
)
def test_distributed_rank_route_gives_same_index(
    spark, fixture_small, monkeypatch, kw
):
    """SMALL_RANK_ROWS = 0 sends build_index down the two-phase rank
    (read at call time: the patched build runs more than one job). Its
    terms, weights and score_all rows equal the one-partition route's."""
    t = spark.createDataFrame(fixture_small.transcripts)
    qt = analyze_query_terms(spark, fixture_small.queries)
    small = build_index(spark, t, **kw)
    monkeypatch.setattr(dictionary, "SMALL_RANK_ROWS", 0)
    dist, jobs = _jobs(spark, lambda: build_index(spark, t, **kw))
    assert jobs > 1
    assert (small.n_docs, small.avg_doc_len) == (dist.n_docs, dist.avg_doc_len)
    for name in ("terms", "weights"):
        assert _rows(getattr(small, name)) == _rows(getattr(dist, name)), name
    assert _rows(score_all(small, qt)) == _rows(score_all(dist, qt))


def test_observed_constants_equal_corpus_stats(spark, fixture_small):
    """None, empty and stopword-only texts give no doc head; a
    min_distinct_terms=2 build drops short turns as well. Either way the
    observed (n_docs, avg_doc_len) equal corpus_stats over the doc-head
    rows. An empty input gives (0, 0.0) and does not block."""
    pdf = fixture_small.transcripts.copy()
    pdf.loc[pdf.index[::9], "text"] = None
    pdf.loc[pdf.index[4::9], "text"] = ""
    pdf.loc[pdf.index[5::9], "text"] = "the of and"
    pdf.loc[pdf.index[6::9], "text"] = "kettle lantern kettle"
    t = spark.createDataFrame(pdf)
    seen = []
    for mdt in (0, 2):
        idx = build_index(spark, t, min_distinct_terms=mdt)
        assert (idx.n_docs, idx.avg_doc_len) == corpus_stats(idx.doc_lens)
        seen.append(idx.n_docs)
    assert 0 < seen[1] < seen[0] < len(pdf)

    empty = spark.createDataFrame([], t.schema)
    with ThreadPoolExecutor(1) as pool:
        idx = pool.submit(build_index, spark, empty).result(timeout=300)
    assert (idx.n_docs, idx.avg_doc_len) == (0, 0.0)
    assert idx.terms.collect() == []


def test_small_route_dense_ids_on_ties(spark):
    """600 terms over 4 df values: the window-free one-partition rank
    numbers them 0..n-1 in (df desc, term asc) order, as the range route
    does, unpruned and pruned; an empty stats frame gives no rows."""
    rng = random.Random(3)
    stats = [(f"w{i:04d}", rng.choice((1, 2, 3, 4)), 0) for i in range(600)]
    rng.shuffle(stats)
    sdf = spark.createDataFrame(stats, "term string, df long, ttf long")
    sdf = sdf.repartition(4)
    for lo, hi in ((1, None), (2, 3)):
        small = build_dictionary(sdf, min_df=lo, max_df=hi, rows=len(stats))
        assert "Window" not in small._jdf.queryExecution().optimizedPlan().toString()
        kept = sorted(
            (r for r in stats if r[1] >= lo and (hi is None or r[1] <= hi)),
            key=lambda r: (-r[1], r[0]),
        )
        want = [(r[0], i, r[1], r[2]) for i, r in enumerate(kept)]
        got = sorted(map(tuple, small.collect()), key=lambda r: r[1])
        assert got == want
        pruned = sdf.filter(sdf.df >= lo)
        if hi is not None:
            pruned = pruned.filter(pruned.df <= hi)
        ref = prefix_offsets(
            pruned, [F.col("df").desc(), F.col("term").asc()], None,
            "term_id", None,
        ).select("term", "term_id", "df", "ttf")
        assert _rows(ref) == sorted(want)
    assert build_dictionary(sdf.limit(0), rows=0).collect() == []
