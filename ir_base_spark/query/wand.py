"""Chunked-MaxScore top-k over the doc-sharded on-disk term-run index.

The scale query path (SURVEY §7.1 step 6): document-space-sharded
retrieval over the shard files ``blocks.encode_shards_from_postings``
writes. Each task reads only the matched terms' runs of its shards
(no posting bytes shuffle) through ``blocks.read_shard_lists``, which
owns the format and returns each term's doc ids, exact weights and
score bound, and
runs EVERY query of the batch over those lists with one kernel, chunked
MaxScore (``_maxscore_query``), and an independent bounded top-k per
query. A tiny global merge (<= k rows per query per shard) takes the
final top-k. Candidate generation, pruning, and scoring never leave the
executor.

Correctness contract (rank identity with oracle + M1 path):
- full evaluation accumulates qw·w in ascending term_id order (canonical
  float order, SURVEY §7.3);
- top-k orders by (score desc, doc_id asc) — so ties keep the smallest
  (conv_id, turn_idx), the MyPriorityQueue contract
  (/root/reference/src/structures/MyPriorityQueue.java:40-52);
- upper bounds are clamped at 0 (BM25 IDF goes negative when
  DF > N/2, and a negative addend would break MaxScore's prefix-sum
  pruning argument);
- prune comparisons are tie-conservative (skip only when strictly below
  the threshold) so score-equal docs that win by doc-id tie-break are
  never pruned;
- a query with k < 1 returns no rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _maxscore_query(
    lists: list[tuple[int, float, np.ndarray, np.ndarray, float]],
    k: int,
    chunk: int = 4096,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k for ONE query over decoded lists via chunked MaxScore.

    ``lists`` = [(term_id, qw, ids, ws, ub)] in ascending term_id. The
    candidate stream is the doc-ordered union of the ESSENTIAL lists
    only — the non-essential prefix (smallest clamped upper bounds whose
    sum is <= the current threshold θ) cannot lift any doc above θ, and
    a doc tying θ exactly loses the doc-id tie-break to the (earlier,
    smaller-id) incumbent, so exclusion is exact, not approximate.
    Candidates are exactly scored VECTORIZED per chunk: one searchsorted
    gather per term in ascending term_id order, so per-element float
    accumulation order matches the M1 path. θ only grows, so the
    non-essential prefix only widens. Python-interpreter work is per
    chunk, not per posting.

    Returns (doc_ids, scores) of the final pool, unordered beyond the
    pool invariant (caller ranks); empty when k < 1.
    """
    if k < 1:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    nt = len(lists)
    ubs = np.array([ub for _, _, _, _, ub in lists])
    by_ub = sorted(range(nt), key=lambda i: (ubs[i], i))
    prefix_ub = np.cumsum(ubs[by_ub])
    ptrs = [0] * nt
    pool_docs = np.empty(0, dtype=np.int64)
    pool_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    full = False

    while True:
        ne = (
            int(np.searchsorted(prefix_ub, theta, side="right")) if full else 0
        )
        essential = [
            i for i in by_ub[ne:] if ptrs[i] < len(lists[i][2])
        ]
        if not essential:
            break
        # chunk upper doc bound: each essential list advances <= chunk
        d_hi = min(
            int(lists[i][2][min(ptrs[i] + chunk, len(lists[i][2])) - 1])
            for i in essential
        )
        parts = []
        for i in essential:
            ids = lists[i][2]
            j = int(np.searchsorted(ids, d_hi, side="right"))
            if j > ptrs[i]:
                parts.append(ids[ptrs[i]: j])
                ptrs[i] = j
        if not parts:
            break
        cand = np.unique(np.concatenate(parts)) if len(parts) > 1 else parts[0]
        # exact scores, ascending term_id accumulation (canonical order)
        acc = np.zeros(cand.shape[0], dtype=np.float64)
        for tid, qw, ids, ws, _ub in lists:
            idx = np.searchsorted(ids, cand)
            idx_c = np.minimum(idx, len(ids) - 1)
            match = ids[idx_c] == cand
            if match.any():
                acc[match] += qw * ws[idx_c[match]]
        pool_docs = np.concatenate([pool_docs, cand])
        pool_scores = np.concatenate([pool_scores, acc])
        if pool_docs.shape[0] >= k:
            if pool_docs.shape[0] > k:
                order = np.lexsort((pool_docs, -pool_scores))[:k]
                pool_docs = pool_docs[order]
                pool_scores = pool_scores[order]
            theta = float(pool_scores.min())
            full = True
    return pool_docs, pool_scores


def _score_shard(
    lists: dict[int, tuple[np.ndarray, np.ndarray, float]],
    queries: list[tuple[str, int, list[tuple[int, float]]]],
) -> pd.DataFrame:
    """Every query of the batch over one shard's matched term lists
    (``lists`` = {term_id: (doc ids, weights, bound)}, as
    blocks.read_shard_lists returns them) → (query_id, doc_id, score,
    k), <= k rows per query."""
    out = {"query_id": [], "doc_id": [], "score": [], "k": []}
    for query_id, k, terms in queries:
        qlists = [
            (tid, qw, *lists[tid][:2], max(0.0, qw * lists[tid][2]))
            for tid, qw in terms  # already ascending term_id
            if tid in lists
        ]
        if not qlists:
            continue
        docs, scores = _maxscore_query(qlists, k)
        if docs.shape[0] == 0:
            continue
        order = np.lexsort((docs, -scores))[:k]
        for i in order:
            out["query_id"].append(query_id)
            out["doc_id"].append(int(docs[i]))
            out["score"].append(float(scores[i]))
            out["k"].append(k)
    return pd.DataFrame(out)


def _prepare_queries(terms: DataFrame, query_terms: DataFrame):
    """query_terms ⋈ dictionary → (queries list, sorted distinct term ids);
    the query set is small by contract (SURVEY §7.1) and rides in the
    kernel closure."""
    qt_pd = (
        query_terms.join(
            F.broadcast(terms.select("term", "term_id")), "term", "inner"
        )
        .select("query_id", "term_id", "qw", "k")
        .toPandas()
    )
    if len(qt_pd) == 0:
        return [], []
    queries = [
        (qid, int(g["k"].iloc[0]), sorted(zip(g["term_id"].astype(int), g["qw"])))
        for qid, g in qt_pd.groupby("query_id", sort=True)
    ]
    return queries, sorted(int(t) for t in set(qt_pd["term_id"]))


# accepted ``algo`` names; all run the one shard kernel
ALGOS = ("auto", "maxscore", "taat", "wand")


def wand_topk_sharded(
    spark,
    index_root: str,
    query_terms: DataFrame,
    algo: str = "auto",
) -> DataFrame:
    """query_terms(query_id, term, qw, k) → (query_id, rank, conv_id,
    turn_idx, score): chunked MaxScore over the doc-sharded on-disk
    term-run index (blocks.encode_shards_from_postings layout) — the
    engine's one block query path. Queries with k < 1 return no rows.

    ``algo`` is kept for API compatibility only (``bench.py`` passes
    "wand" and "taat", perfbench's forced-algo check passes every name
    in ALGOS): every name in ALGOS runs the same kernel and returns the
    same rows; any other name raises ValueError.

    Each task gets one shard PATH; blocks.read_shard_lists reads only
    the matched terms' runs and returns their decoded lists, and the
    kernel runs every query of the batch over them. Matched posting bytes
    never shuffle and never cross the JVM→Python socket: the only rows
    Spark moves are <= k results per (query, shard). The doc_id →
    (conv_id, turn_idx) label is resolved IN-KERNEL
    (blocks.label_docs, doc_id = base[conv] + turn by construction) — a
    final join against the full turn-level docs table would rescan 10^N
    rows per batch to label <= k·|queries| results. The final merge is
    just the bounded per-query rank window.
    """
    import glob as _glob
    import os as _os

    if algo not in ALGOS:
        raise ValueError(f"unknown algo {algo!r}; expected one of {ALGOS}")
    if not _os.path.isdir(_os.path.join(index_root, "base")):
        raise FileNotFoundError(
            f"{index_root}/base/ sidecar missing — finalize the index with "
            "manifest.finalize_lite to write the conversation-base sidecar."
        )
    terms = spark.read.parquet(_os.path.join(index_root, "terms"))
    queries, term_ids = _prepare_queries(terms, query_terms)
    if not queries:
        return spark.createDataFrame(
            [],
            "query_id string, rank int, conv_id string, turn_idx int, score double",
        )
    shard_files = sorted(
        _glob.glob(_os.path.join(index_root, "blocks", "partition_id=*", "*.parquet"))
    )
    if not shard_files:
        raise FileNotFoundError(
            f"no sharded block files under {index_root}/blocks/"
            "partition_id=*/; encode the index with "
            "encode_shards_from_postings"
        )
    # fuse shard files into ~2 tasks per core: one task per FILE pays
    # the python-worker round trip per shard (measured ~0.15s each — at
    # 4 cores the 32-task read floor alone was 1.6s, dominating batch
    # latency); the kernel loop already streams multiple paths per
    # task, and shard uniformity (test_skew) bounds straggler risk.
    # sc.parallelize slices the path list into EXACTLY even contiguous
    # chunks — a repartition() would round-robin from a random offset
    # per input partition, and the resulting collisions (one task with
    # 3-4 shards, others empty) were the measured batch straggler
    n_tasks = max(
        1, min(len(shard_files), spark.sparkContext.defaultParallelism * 2)
    )
    fdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in shard_files], n_tasks
        ),
        "path string",
    )

    def shard_kernel(batches):
        from ..index.blocks import label_docs, read_shard_lists

        for pdf in batches:
            for path in pdf["path"]:
                out = _score_shard(
                    read_shard_lists(index_root, path, term_ids), queries
                )
                if len(out) == 0:
                    continue
                out["conv_id"], out["turn_idx"] = label_docs(
                    index_root, out["doc_id"].to_numpy()
                )
                yield out

    local = fdf.mapInPandas(
        shard_kernel,
        "query_id string, doc_id long, score double, k int, "
        "conv_id string, turn_idx int",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
    )
    return topk.select("query_id", "rank", "conv_id", "turn_idx", "score")
