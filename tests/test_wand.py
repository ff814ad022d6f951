"""Term-run block index + MaxScore: rank identity vs oracle and M1 path."""

from __future__ import annotations

import glob
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from ir_base_spark.index.blocks import (
    encode_shards_from_postings,
    read_shard_lists,
)
from ir_base_spark.index.build import build_index
from ir_base_spark.index.manifest import (
    build_single_shard_index,
    finalize_lite,
    open_index,
    resumable_build,
)
from ir_base_spark.oracle import build_oracle_index, search_all
from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search
from ir_base_spark.query.wand import ALGOS, wand_topk_sharded
from tests.test_rank_identity import _compare, _oracle_docs


def _expected(fixture):
    t, q = fixture.transcripts, fixture.queries
    return search_all(
        build_oracle_index(_oracle_docs(t)),
        list(zip(q["query_id"], q["query_text"], q["k"])),
    )


def _sharded_root(spark, transcripts, root, partitions, **finalize_kw):
    """The production route: resumable build → metadata finalize →
    per-shard path-based run encode."""
    resumable_build(spark, spark.createDataFrame(transcripts), root,
                    num_partitions=partitions)
    finalize_lite(spark, root, **finalize_kw)
    return encode_shards_from_postings(spark, root)


def _by_rank(rows):
    return {(r["query_id"], r["rank"]): (r["conv_id"], r["turn_idx"], r["score"])
            for r in rows}


def _doc_labels(spark, root) -> list:
    """(doc_id, conv_id, turn_idx) per postings doc head, with the
    kernel's labelling rule doc_id = base[conv_id] + turn_idx."""
    heads = spark.read.parquet(root + "/postings").filter("is_doc_head = 1")
    return [
        tuple(r) for r in heads.join(spark.read.parquet(root + "/base"), "conv_id")
        .selectExpr("base + turn_idx AS doc_id", "conv_id", "turn_idx")
        .collect()
    ]


def _decoded_weights(spark, root) -> dict:
    """{(term, conv_id, turn_idx): weight} read through
    blocks.read_shard_lists from every shard of the index at ``root``."""
    term = {r["term_id"]: r["term"]
            for r in spark.read.parquet(root + "/terms").collect()}
    label = {d: (c, t) for d, c, t in _doc_labels(spark, root)}
    out = {}
    for path in glob.glob(os.path.join(root, "blocks", "*", "blocks.parquet")):
        for tid, (ids, ws, _bound) in read_shard_lists(root, path, term).items():
            for d, w in zip(ids.tolist(), ws.tolist()):
                out[(term[tid], *label[d])] = w
    return out


def _m1_weights(index) -> dict:
    """{(term, conv_id, turn_idx): weight} of the M1 index."""
    rows = index.weights.join(index.terms.select("term", "term_id"), "term_id")
    return {(r["term"], r["conv_id"], r["turn_idx"]): r["weight"]
            for r in rows.collect()}


def _assert_weights_match(decoded: dict, reference: dict) -> None:
    assert set(decoded) == set(reference)
    worst = max(abs(decoded[k] - reference[k]) for k in reference)
    assert worst < 1e-12, worst


def test_wand_rank_identity(spark, fixture_small, tmp_path):
    """The in-query route (one shard) is rank-identical to the
    single-node oracle."""
    root = str(tmp_path / "single")
    rep = build_single_shard_index(
        spark, spark.createDataFrame(fixture_small.transcripts), root
    )
    assert rep["shards"] == 1 and rep["blocks"] > 0
    qt = analyze_query_terms(spark, fixture_small.queries)
    _compare(wand_topk_sharded(spark, root, qt).collect(),
             _expected(fixture_small))


def test_wand_matches_m1_bitwise(spark, fixture_small, tmp_path):
    """WAND and the M1 DataFrame path accumulate in the same canonical
    order → identical scores (well under tolerance) and identical ranks."""
    t = fixture_small.transcripts
    q = fixture_small.queries.head(20)
    sdf = spark.createDataFrame(t)
    qt = analyze_query_terms(spark, q)
    m1 = _by_rank(topk_search(build_index(spark, sdf), qt).collect())

    root = str(tmp_path / "single")
    build_single_shard_index(spark, sdf, root)
    wd = _by_rank(wand_topk_sharded(spark, root, qt).collect())

    assert set(m1) == set(wd)
    for key in m1:
        assert m1[key][:2] == wd[key][:2], key
        assert abs(m1[key][2] - wd[key][2]) < 1e-12, key


def test_sharded_pipeline_rank_identity(spark, fixture_small, tmp_path):
    """Full production path: resumable build → metadata finalize →
    per-shard pyarrow run encode → sharded WAND. Must be
    rank-identical to the single-node oracle."""
    root = str(tmp_path / "sharded")
    rep = _sharded_root(spark, fixture_small.transcripts, root, 8)
    assert rep["shards"] >= 1 and rep["blocks"] > 0
    # doc-id ranges must never overlap (per-partition base offsets)
    labels = _doc_labels(spark, root)
    assert len(labels) == len({d for d, _c, _t in labels})

    qt = analyze_query_terms(spark, fixture_small.queries)
    _compare(wand_topk_sharded(spark, root, qt).collect(),
             _expected(fixture_small))


def _assert_rows_match(got: dict, want: dict) -> None:
    """Same (query_id, rank) keys, same labels, |Δscore| < 1e-9."""
    assert set(got) == set(want)
    for key in want:
        assert got[key][:2] == want[key][:2], key
        assert abs(got[key][2] - want[key][2]) < 1e-9, key


def test_algo_names_run_one_kernel(spark, fixture_small, tmp_path):
    """Every accepted ``algo`` name returns the same rows, equal to the
    M1 DataFrame path over the same root; an unknown name raises."""
    root = str(tmp_path / "algos")
    _sharded_root(spark, fixture_small.transcripts, root, 4)
    qt = analyze_query_terms(spark, fixture_small.queries)
    m1 = _by_rank(topk_search(open_index(spark, root), qt).collect())
    rows = {
        algo: _by_rank(wand_topk_sharded(spark, root, qt, algo=algo).collect())
        for algo in ALGOS
    }
    assert set(ALGOS) == {"auto", "maxscore", "taat", "wand"}
    for algo in ALGOS:
        assert rows[algo] == rows["auto"], algo
        _assert_rows_match(rows[algo], m1)
    with pytest.raises(ValueError, match="unknown algo"):
        wand_topk_sharded(spark, root, qt, algo="cursor")


def test_k_zero_query_in_batch(spark, fixture_small, tmp_path):
    """A k = 0 query returns no rows and leaves the rest of its batch
    intact: the batch equals M1 ``topk_search``."""
    root = str(tmp_path / "kzero")
    _sharded_root(spark, fixture_small.transcripts, root, 4)
    q = fixture_small.queries
    q = pd.concat(
        [q, pd.DataFrame({"query_id": ["q-k0"],
                          "query_text": [q["query_text"].iloc[0]],
                          "k": [0]})],
        ignore_index=True,
    )
    qt = analyze_query_terms(spark, q)
    got = _by_rank(wand_topk_sharded(spark, root, qt).collect())
    assert not [key for key in got if key[0] == "q-k0"]
    m1 = _by_rank(topk_search(open_index(spark, root), qt).collect())
    _assert_rows_match(got, m1)


def test_direct_postings_blocks_identical(spark, fixture_small, tmp_path):
    """Every posting weight decoded from the TF-payload blocks equals
    the M1 index's weight for the same (term, conv_id, turn_idx), and
    the block route is rank-identical to the oracle."""
    root = str(tmp_path / "direct")
    _sharded_root(spark, fixture_small.transcripts, root, 4)
    m1 = build_index(spark, spark.createDataFrame(fixture_small.transcripts))
    _assert_weights_match(_decoded_weights(spark, root), _m1_weights(m1))

    qt = analyze_query_terms(spark, fixture_small.queries)
    _compare(wand_topk_sharded(spark, root, qt).collect(),
             _expected(fixture_small))


@pytest.mark.parametrize("norm", [1, 2])
def test_norm_rank_identity(spark, fixture_small, tmp_path, norm):
    """Per-doc L1/L2 norms folded into the block encoder: decoded
    weights and top-k match M1 ``build_index(norm=n)``."""
    t = fixture_small.transcripts
    root = str(tmp_path / f"norm{norm}")
    _sharded_root(spark, t, root, 4, norm=norm)
    m1 = build_index(spark, spark.createDataFrame(t), norm=norm)
    _assert_weights_match(_decoded_weights(spark, root), _m1_weights(m1))

    qt = analyze_query_terms(spark, fixture_small.queries)
    want = _by_rank(topk_search(m1, qt).collect())
    got = _by_rank(wand_topk_sharded(spark, root, qt).collect())
    assert set(want) == set(got)
    for key in want:
        assert abs(want[key][2] - got[key][2]) < 1e-9, key
        assert want[key][:2] == got[key][:2], key


def test_unscorable_block_files_raise(spark, fixture_small, tmp_path):
    """A block shard without its _doclen.npz sidecar, or a block file
    without the tfv2 TF-payload stamp (unstamped, or stamped with the
    older tfv1), fails with an error naming the file and the fix — never
    a silent mis-score."""
    root = str(tmp_path / "broken")
    build_single_shard_index(
        spark, spark.createDataFrame(fixture_small.transcripts), root
    )
    shard = os.path.join(root, "blocks", "partition_id=0")
    qt = analyze_query_terms(spark, fixture_small.queries.head(3))

    os.remove(os.path.join(shard, "_doclen.npz"))
    with pytest.raises(Exception, match="_doclen.npz is missing"):
        wand_topk_sharded(spark, root, qt).collect()

    path = os.path.join(shard, "blocks.parquet")
    tbl = pq.read_table(path)
    for meta in (None, {b"sg_payload": b"tfv1"}):
        pq.write_table(tbl.replace_schema_metadata(meta), path)
        with pytest.raises(Exception, match="not a TF-payload block file"):
            wand_topk_sharded(spark, root, qt).collect()


def test_pruned_root_one_answer(spark, fixture_small, tmp_path):
    """A min_df/max_df-pruned root answers the same through block WAND
    and through the read-only M1 view (open_index) as M1
    build_index(min_df, max_df); the M1 query leaves stats.json
    untouched, so a later WAND run returns the same rows."""
    t = fixture_small.transcripts
    root = str(tmp_path / "pruned")
    _sharded_root(spark, t, root, 4, min_df=3, max_df=500)
    qt = analyze_query_terms(spark, fixture_small.queries)
    ref = build_index(spark, spark.createDataFrame(t), min_df=3, max_df=500)
    want = _by_rank(topk_search(ref, qt).collect())

    stats_path = os.path.join(root, "stats.json")
    with open(stats_path, "rb") as fh:
        stats_before = fh.read()
    mtime_before = os.stat(stats_path).st_mtime_ns
    wand_before = _by_rank(wand_topk_sharded(spark, root, qt).collect())
    m1 = _by_rank(topk_search(open_index(spark, root), qt).collect())
    with open(stats_path, "rb") as fh:
        assert fh.read() == stats_before
    assert os.stat(stats_path).st_mtime_ns == mtime_before
    wand_after = _by_rank(wand_topk_sharded(spark, root, qt).collect())

    assert wand_after == wand_before
    for got in (wand_before, m1):
        assert set(got) == set(want)
        for key in want:
            assert got[key][:2] == want[key][:2], key
            assert abs(got[key][2] - want[key][2]) < 1e-9, key


def test_reader_runs_across_row_groups(spark, tmp_path):
    """A one-shard index of 200 conversations holds more than 4096 term
    runs, so its file spans two row groups. Reading terms from both
    sides of the boundary in one call equals reading each term alone,
    bit for bit, and every decoded weight matches M1."""
    from ir_base_spark.fixtures import make_fixture

    sdf = spark.createDataFrame(
        make_fixture(n_conversations=200, seed=42).transcripts
    )
    root = str(tmp_path / "runs")
    build_single_shard_index(spark, sdf, root)
    path = os.path.join(root, "blocks", "partition_id=0", "blocks.parquet")
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups == 2
    cut = meta.row_group(0).num_rows
    tids = pq.read_table(path, columns=["term_id"])["term_id"].to_pylist()
    pick = tids[cut - 20: cut + 20]

    together = read_shard_lists(root, path, pick)
    assert list(together) == pick
    for t in pick:
        ids, ws, bound = read_shard_lists(root, path, [t])[t]
        assert (together[t][0] == ids).all()
        assert (together[t][1] == ws).all()  # bit-identical
        assert together[t][2] == bound == ws.max()
    _assert_weights_match(
        _decoded_weights(spark, root), _m1_weights(build_index(spark, sdf))
    )


def test_query_cli_uses_root_build_params(spark, fixture_small, tmp_path):
    """A root records how it was built: open_index reports its ngrams
    and analyzer, and the query CLI analyzes queries with them, so both
    engines equal the in-memory build_index with the same params."""
    t, q = fixture_small.transcripts, fixture_small.queries
    sdf = spark.createDataFrame(t)
    bigram = str(tmp_path / "bigram")
    resumable_build(spark, sdf, bigram, num_partitions=4, ngrams=2)
    finalize_lite(spark, bigram)
    encode_shards_from_postings(spark, bigram)
    simple = str(tmp_path / "simple")
    build_single_shard_index(spark, sdf, simple, analyzer="simple")
    roots = ((bigram, {"ngrams": 2}), (simple, {"analyzer": "simple"}))
    for root, kw in roots:
        idx = open_index(spark, root)
        assert (idx.ngrams, idx.analyzer) == (
            kw.get("ngrams", 1), kw.get("analyzer", "reference"))

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from jobs.query import run_query

    for root, kw in roots:
        ref = build_index(spark, sdf, **kw)
        want = _by_rank(
            topk_search(ref, analyze_query_terms(spark, q, **kw)).collect()
        )
        for engine in ("wand", "dataframe"):
            got = _by_rank(run_query(spark, root, q, engine).collect())
            _assert_rows_match(got, want)


def _run_in_job_group(spark, fn):
    """→ (fn(), number of Spark jobs fn ran), read back through the
    status tracker once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"wand-jobs-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_cross_shard_ties_merge_on_doc_order(spark, fixture_small, tmp_path):
    """Identical turns spread over the 4 shards score exactly alike; k
    cuts inside that tie group, so each shard's own top-k holds losers.
    The merged rows equal M1 ``topk_search`` and keep the smallest
    (conv_id, turn_idx) — the MyPriorityQueue tie rule."""
    t = fixture_small.transcripts.copy()
    convs = sorted(t["conv_id"].unique())[::5]
    tie = t["conv_id"].isin(convs) & (t["turn_idx"] == 0)
    t.loc[tie, "text"] = "zyxtie quokkatie zyxtie"
    root = str(tmp_path / "ties")
    _sharded_root(spark, t, root, 4)
    q = pd.DataFrame({"query_id": ["q-tie5", "q-tie7"],
                      "query_text": ["zyxtie", "zyxtie quokkatie"],
                      "k": [5, 7]})
    qt = analyze_query_terms(spark, q)

    stem = qt.filter("query_id = 'q-tie5'").first()["term"]
    tid = spark.read.parquet(root + "/terms").filter(
        f"term = '{stem}'").first()["term_id"]
    shards = glob.glob(os.path.join(root, "blocks", "*", "blocks.parquet"))
    holding = [p for p in shards if read_shard_lists(root, p, [tid])]
    assert len(shards) == 4 and len(holding) >= 3

    got = _by_rank(wand_topk_sharded(spark, root, qt).collect())
    _assert_rows_match(got, _by_rank(
        topk_search(open_index(spark, root), qt).collect()))
    for qid, k in (("q-tie5", 5), ("q-tie7", 7)):
        rows = [got[(qid, r)] for r in range(1, k + 1)]
        assert [(c, ti) for c, ti, _ in rows] == [(c, 0) for c in convs[:k]]
        assert len({s for _, _, s in rows}) == 1
    assert len(got) == 12


def test_one_scan_job_per_call(spark, fixture_small, tmp_path):
    """A call plus its collect runs at most two Spark jobs; a batch
    whose terms are all outside the dictionary returns no rows with the
    five-column schema and runs no job beyond reading its query terms."""
    root = str(tmp_path / "jobs")
    _sharded_root(spark, fixture_small.transcripts, root, 4)
    qt = analyze_query_terms(spark, fixture_small.queries)
    rows, n_jobs = _run_in_job_group(
        spark, lambda: wand_topk_sharded(spark, root, qt).collect())
    assert rows and n_jobs <= 2

    absent = analyze_query_terms(spark, pd.DataFrame(
        {"query_id": ["qa", "qb"], "query_text": ["zzqxv", "qqzvx wwxzq"],
         "k": [5, 10]}))
    _, n_read = _run_in_job_group(spark, absent.collect)
    df, n_jobs = _run_in_job_group(
        spark, lambda: wand_topk_sharded(spark, root, absent))
    rows, n_collect = _run_in_job_group(spark, df.collect)
    assert rows == [] and n_jobs == n_read and n_collect == 0
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("query_id", "string"), ("rank", "int"), ("conv_id", "string"),
        ("turn_idx", "int"), ("score", "double")]


def test_merge_bound_raises_before_scan(spark, fixture_small, tmp_path,
                                        monkeypatch):
    """A batch whose Σk × shard count exceeds MAX_MERGE_ROWS raises an
    error naming Σk, the shard count and the fix, and runs no Spark job."""
    from ir_base_spark.query import wand

    root = str(tmp_path / "bound")
    _sharded_root(spark, fixture_small.transcripts, root, 4)
    q = fixture_small.queries.head(2).assign(k=[10, 15])
    qt = analyze_query_terms(spark, q)
    monkeypatch.setattr(wand, "MAX_MERGE_ROWS", 99)

    def call():
        with pytest.raises(ValueError, match=r"Σk = 25 × 4 shards = 100 rows.*"
                           r"MAX_MERGE_ROWS = 99\. Split the batch or lower k"):
            wand_topk_sharded(spark, root, qt)

    _, n_jobs = _run_in_job_group(spark, call)
    assert n_jobs == 0
    monkeypatch.setattr(wand, "MAX_MERGE_ROWS", 100)
    assert wand_topk_sharded(spark, root, qt).count() > 0
