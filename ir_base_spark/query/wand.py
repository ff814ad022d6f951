"""Chunked-MaxScore top-k over the doc-sharded on-disk term-run index.

The scale query path (SURVEY §7.1 step 6): document-space-sharded
retrieval over the shard files ``blocks.encode_shards_from_postings``
writes. A call is eager and runs ONE Spark job over the index:
- the driver maps the query terms to term ids, reading only those
  terms from ``terms/`` (a pyarrow ``term in`` filter);
- the scan job: each task reads only the matched terms' runs of its
  shards through ``blocks.read_shard_lists`` (the format's one
  reader), runs EVERY query of the batch over them with one kernel,
  chunked MaxScore (``_maxscore_query``), and emits a bounded top-k
  per query, labeled in-task (``blocks.label_docs``). Posting bytes
  never leave the executor;
- the driver merges the <= k rows per (query, shard) with one lexsort
  (``_merge_topk``); nothing shuffles. ``MAX_MERGE_ROWS`` bounds them.
Errors, such as an unscorable shard file, raise at call time.

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

import glob
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from ..index.blocks import label_docs, read_shard_lists


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


def _prepare_queries(index_root: str, query_terms: DataFrame):
    """query_terms → (queries list, sorted distinct term ids) on the
    driver (query sets are small by contract, SURVEY §7.1), reading only
    the batch's own terms from ``terms/``, never the whole dictionary."""
    qt = pd.DataFrame(query_terms.collect(), columns=query_terms.columns)
    if len(qt) == 0:
        return [], []
    ids = pq.read_table(
        os.path.join(index_root, "terms"), columns=["term", "term_id"],
        filters=[("term", "in", sorted(set(qt["term"])))],
    ).to_pandas()
    qt = qt.merge(ids, on="term")
    queries = [
        (qid, int(g["k"].iloc[0]), sorted(zip(g["term_id"].astype(int), g["qw"])))
        for qid, g in qt.groupby("query_id", sort=True)
    ]
    return queries, sorted(int(t) for t in set(qt["term_id"]))


# the result schema; an Arrow table becomes a local relation, so the
# returned frame collects without a Spark job
_SCHEMA = pa.schema([
    ("query_id", pa.string()), ("rank", pa.int32()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("score", pa.float64()),
])


def _merge_topk(parts: list[pd.DataFrame]) -> pa.Table:
    """The shards' <= k rows per query → the final top-k of each query:
    one lexsort on (query_id, score desc, doc_id asc); rank is the
    position within the query."""
    if not parts:
        return _SCHEMA.empty_table()
    rows = pd.concat(parts, ignore_index=True)
    qcode = pd.factorize(rows["query_id"], sort=True)[0]
    order = np.lexsort((rows["doc_id"], -rows["score"], qcode))
    qcode = qcode[order]
    rows = rows.iloc[order].assign(
        rank=np.arange(len(qcode)) - np.searchsorted(qcode, qcode) + 1
    )
    rows = rows[rows["rank"] <= rows["k"]]
    return pa.Table.from_pandas(rows[_SCHEMA.names], schema=_SCHEMA, preserve_index=False)


# accepted ``algo`` names; all run the one shard kernel
ALGOS = ("auto", "maxscore", "taat", "wand")

# bound on the rows the driver merge collects: Σk over the batch's
# scorable queries × shard count (each shard emits <= k rows per query)
MAX_MERGE_ROWS = 1_000_000


def wand_topk_sharded(
    spark,
    index_root: str,
    query_terms: DataFrame,
    algo: str = "auto",
) -> DataFrame:
    """query_terms(query_id, term, qw, k) → (query_id, rank, conv_id,
    turn_idx, score), a local DataFrame: the engine's one block query
    path (module docstring). Queries with k < 1 return no rows, and a
    batch none of whose terms is in the dictionary runs no scan.

    ``algo`` is kept for API compatibility only (``bench.py`` passes
    "wand" and "taat", perfbench's forced-algo check passes every name
    in ALGOS): every name in ALGOS runs the same kernel and returns the
    same rows; any other name raises ValueError. A batch whose Σk ×
    shard count exceeds MAX_MERGE_ROWS raises ValueError before the
    scan job.
    """
    if algo not in ALGOS:
        raise ValueError(f"unknown algo {algo!r}; expected one of {ALGOS}")
    if not os.path.isdir(os.path.join(index_root, "base")):
        raise FileNotFoundError(
            f"{index_root}/base/ sidecar missing — finalize the index with "
            "manifest.finalize_lite to write the conversation-base sidecar."
        )
    queries, term_ids = _prepare_queries(index_root, query_terms)
    if not queries:
        return spark.createDataFrame(_SCHEMA.empty_table())
    shard_files = sorted(
        glob.glob(os.path.join(index_root, "blocks", "partition_id=*", "*.parquet"))
    )
    if not shard_files:
        raise FileNotFoundError(
            f"no sharded block files under {index_root}/blocks/"
            "partition_id=*/; encode the index with "
            "encode_shards_from_postings"
        )
    sum_k = sum(max(k, 0) for _, k, _ in queries)
    if sum_k * len(shard_files) > MAX_MERGE_ROWS:
        raise ValueError(
            f"wand_topk_sharded: Σk = {sum_k} × {len(shard_files)} shards = "
            f"{sum_k * len(shard_files)} rows exceeds the driver merge's "
            f"MAX_MERGE_ROWS = {MAX_MERGE_ROWS}. Split the batch or lower k."
        )
    # ~2 tasks per core, each an EXACTLY even contiguous slice of the
    # paths (one task per file would pay a Python task's fixed cost,
    # ~0.05 s on 4 cores, per shard; repartition() collides shards into
    # straggler tasks). An RDD job:
    # mapInPandas over a path DataFrame paid a second python pass per
    # task (scan 0.83 → 0.43 s on 600 conversations, 4 cores).
    sc = spark.sparkContext
    n_tasks = min(len(shard_files), 2 * sc.defaultParallelism)

    def shard_kernel(paths):
        for path in paths:
            out = _score_shard(read_shard_lists(index_root, path, term_ids), queries)
            if len(out):
                out["conv_id"], out["turn_idx"] = label_docs(
                    index_root, out["doc_id"].to_numpy()
                )
                yield out

    parts = sc.parallelize(shard_files, n_tasks).mapPartitions(shard_kernel).collect()
    return spark.createDataFrame(_merge_topk(parts))
