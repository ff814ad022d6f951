"""Physical-plan assertions: the optimizations we rely on are actually
in the plan (broadcast joins, parquet filter pushdown, bounded top-k,
no row-at-a-time Python)."""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf_dir():
    return "/root/testdata/sf0.001"


def test_pricing_summary_pushes_filter(spark, sf_dir):
    from ir_base_spark.ops.relational import pricing_summary

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = _plan(pricing_summary(li))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    from ir_base_spark.ops.relational import revenue_by_nation

    df = revenue_by_nation(
        spark.read.parquet(f"{sf_dir}/customer.parquet"),
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
        spark.read.parquet(f"{sf_dir}/nation.parquet"),
        spark.read.parquet(f"{sf_dir}/region.parquet"),
    )
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_global_topk_is_bounded_heap(spark, sf_dir):
    from __spark_entry__ import q_bm25_topk_docs

    plan = _plan(q_bm25_topk_docs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_row_at_a_time_python(spark, sf_dir):
    """Every hot-path plan must use Arrow (MapInPandas / FlatMapGroupsIn
    Pandas), never BatchEvalPython (pickled row-at-a-time UDF)."""
    from __spark_entry__ import q_bm25_topk_docs
    from ir_base_spark.index.build import build_index
    from ir_base_spark.index.tokenize import tokenize_turns
    from ir_base_spark.ops.textops import simhash64, token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plans = [
        _plan(token_counts(docs)),
        _plan(simhash64(docs)),
        _plan(q_bm25_topk_docs(spark, sf_dir)),
    ]
    t = docs.selectExpr(
        "cast(doc_id as string) conv_id", "cast(0 as int) turn_idx", "text"
    )
    idx = build_index(spark, t, analyzer="simple")
    plans.append(_plan(idx.weights))
    plans.append(_plan(tokenize_turns(t, analyzer="simple")))
    for plan in plans:
        assert "BatchEvalPython" not in plan
    # tokenizer is Arrow-NATIVE (mapInArrow — the batch never even
    # becomes pandas); plan node name differs across Spark versions
    assert any(m in plans[-1] for m in ("MapInArrow", "PythonMapInArrow"))


def test_dictionary_join_is_broadcast(spark, sf_dir):
    from ir_base_spark.index.build import build_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.selectExpr(
        "cast(doc_id as string) conv_id", "cast(0 as int) turn_idx", "text"
    )
    idx = build_index(spark, t, analyzer="simple")
    assert "BroadcastHashJoin" in _plan(idx.weights)


def test_simhash_no_row_blowup(spark, sf_dir):
    """simhash64 must not explode(sequence(0,63)) the token stream."""
    from ir_base_spark.ops.textops import simhash64

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(simhash64(docs))
    assert "Generate explode(sequence" not in plan.replace("\n", " ")


def test_topk_entries_have_no_unpartitioned_window(spark, sf_dir):
    """Bounded top-k entries rank window-free (rank_bounded): any Window
    left in the plan must be partitioned (the two-phase _pid rank)."""
    from __spark_entry__ import q_bm25_topk_docs
    from ir_base_spark.ops.similarity import cosine_topk
    from ir_base_spark.ops.textops import lm_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for df in (
        q_bm25_topk_docs(spark, sf_dir),
        lm_topk(docs, ["spark"], k=5),
        cosine_topk(emb, 0, k=5),
    ):
        plan = _plan(df)
        for line in plan.splitlines():
            if "Window [" in line:
                assert "windowspecdefinition(_pid" in line, line


def test_m1_topk_plan_one_exchange_no_arrays(spark, sf_dir, tmp_path):
    """The executed M1 top-k plan folds without arrays (a HashAggregate,
    no ObjectHashAggregate / collect_list / array_sort), hash-partitions
    the candidates exactly once, and cuts each query with a
    WindowGroupLimit. The index is read back from parquet so that the
    plan holds the candidate path only (no dictionary-build exchanges)."""
    from types import SimpleNamespace

    import pandas as pd

    from ir_base_spark.index.build import build_index
    from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.selectExpr(
        "cast(doc_id as string) conv_id", "cast(0 as int) turn_idx", "text"
    )
    idx = build_index(spark, t, analyzer="simple")
    for name in ("terms", "weights"):
        getattr(idx, name).write.parquet(str(tmp_path / name))
    index = SimpleNamespace(
        terms=spark.read.parquet(str(tmp_path / "terms")),
        weights=spark.read.parquet(str(tmp_path / "weights")),
    )
    texts = [r["text"] for r in docs.limit(3).collect()]
    queries = pd.DataFrame({
        "query_id": ["a", "b", "c"],
        "query_text": [" ".join(x.split()[:4]) for x in texts],
        "k": [1, 5, 10],
    })
    df = topk_search(index, analyze_query_terms(spark, queries, analyzer="simple"))
    assert df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    for node in ("ObjectHashAggregate", "collect_list", "array_sort"):
        assert node not in plan, node
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "WindowGroupLimit" in plan
