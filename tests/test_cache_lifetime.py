"""The M1 index builders and the iterative ops own their cache
lifetimes: neither the in-memory build_index, finalize_lite nor
pagerank_instance_weights leaves an entry in the session's
CacheManager, so a caller never has to clearCache() after them."""

from __future__ import annotations

import pytest

from ir_base_spark.index.build import build_index
from ir_base_spark.index.manifest import finalize_lite, resumable_build
from ir_base_spark.ops.pagerank import pagerank_instance_weights
from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, score_all


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("min_df", [1, 3])
def test_build_index_leaves_no_cache(spark, fixture_small, min_df):
    t = spark.createDataFrame(fixture_small.transcripts)
    q = analyze_query_terms(spark, fixture_small.queries)
    spark.catalog.clearCache()
    rows = score_all(build_index(spark, t, min_df=min_df), q).collect()
    assert rows
    assert _cache_empty(spark)


@pytest.mark.parametrize("min_df", [1, 3])
def test_finalize_lite_leaves_no_cache(spark, fixture_small, tmp_path, min_df):
    root = str(tmp_path / "idx")
    resumable_build(
        spark, spark.createDataFrame(fixture_small.transcripts), root,
        num_partitions=4,
    )
    spark.catalog.clearCache()
    idx, base = finalize_lite(spark, root, min_df=min_df)
    assert idx.n_docs > 0 and base.count() > 0
    assert _cache_empty(spark)


def test_pagerank_leaves_no_cache(spark):
    rows = [(g, i, [float(i % 4), float(i % 3), 1.0]) for g in "ab" for i in range(12)]
    df = spark.createDataFrame(rows, "grp string, id long, vec array<double>")
    spark.catalog.clearCache()
    assert len(pagerank_instance_weights(df, min_group_size=10).collect()) == 24
    assert _cache_empty(spark)
