"""Block-max WAND top-k over the doc-sharded on-disk block index.

The scale query path (SURVEY §7.1 step 6): document-space-sharded
retrieval over the shard files ``blocks.encode_shards_from_postings``
writes. Each task reads only the matched terms' blocks of its shards
(no block bytes shuffle) and runs EVERY query of the batch over them
with a shared per-shard block-decode cache and an independent bounded
top-k per query. A tiny global merge (<= k rows per query per shard)
takes the final top-k. Candidate generation, pruning, and scoring never
leave the executor.

Correctness contract (rank identity with oracle + M1 path):
- full evaluation accumulates qw·w in ascending term_id order (canonical
  float order, SURVEY §7.3);
- top-k orders by (score desc, doc_id asc) — so ties keep the smallest
  (conv_id, turn_idx), the MyPriorityQueue contract
  (/root/reference/src/structures/MyPriorityQueue.java:40-52);
- upper bounds are clamped at 0 (BM25 IDF goes negative when
  DF > N/2, and a negative addend would break WAND's prefix-sum
  pruning argument);
- prune comparisons are tie-conservative (skip only when strictly below
  the threshold) so score-equal docs that win by doc-id tie-break are
  never pruned.

The per-posting cursor DAAT kernel these scorers replaced lives on in
``tests/wand_oracle.py`` as the fuzz-test reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.blocks import decode_postings_block, decode_postings_run


def _bmw_query(
    lists: list[tuple],
    k: int,
    cache: dict,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact top-k for ONE query via VECTORIZED block-max WAND.

    ``lists`` = [(term_id, qw, firsts, lasts, maxws, gaps, wbytes,
    meta, ub)] in ascending term_id. A window-at-a-time numpy
    formulation of the per-posting cursor kernel (kept as the fuzz
    reference in tests/wand_oracle.py) that keeps BOTH of block-max
    WAND's pruning levers while doing O(#blocks), not O(#postings),
    Python work:

    - essential-list selection (MaxScore): the non-essential prefix of
      UB-sorted lists whose clamped-UB prefix sum is <= θ contributes
      no candidates — a doc found only there scores <= θ and loses the
      doc-id tie-break to the (earlier, doc-ordered) incumbent;
    - true block-max skipping: each window is [cur, nearest essential
      block boundary]; if the sum over ALL lists of their max block
      score overlapping the window is strictly below θ, the window is
      skipped without decoding a single payload byte.

    Windows advance in doc order, candidates are scored exactly with
    one searchsorted gather per term in ascending term_id order (the
    canonical float accumulation order shared by M1/TAAT/MaxScore), and
    blocks decode lazily through the shared per-shard ``cache`` keyed (term_id, block_idx) so a batch of queries decodes
    each block at most once.
    """
    nt = len(lists)
    ubs = np.array([L[8] for L in lists])
    by_ub = sorted(range(nt), key=lambda i: (ubs[i], i))
    prefix_ub = np.cumsum(ubs[by_ub])
    pool_docs = np.empty(0, dtype=np.int64)
    pool_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    full = False
    cur = min(int(L[2][0]) for L in lists)

    def _decoded(i: int, bi: int):
        L = lists[i]
        key = (L[0], bi)
        hit = cache.get(key)
        if hit is None:
            hit = decode_postings_block(L[2][bi], L[5][bi], L[6][bi], L[7])
            cache[key] = hit
        return hit

    def _overlap(i: int, lo: int, hi: int) -> tuple[int, int]:
        """Block index range [b_lo, b_hi) overlapping doc range [lo, hi]."""
        L = lists[i]
        b_lo = int(np.searchsorted(L[3], lo, side="left"))
        b_hi = int(np.searchsorted(L[2], hi, side="right"))
        return b_lo, b_hi

    while True:
        ne = (
            int(np.searchsorted(prefix_ub, theta, side="right")) if full else 0
        )
        # nearest essential block boundary >= cur defines the window
        window_end = None
        for i in by_ub[ne:]:
            lasts = lists[i][3]
            b = int(np.searchsorted(lasts, cur, side="left"))
            if b < len(lasts):
                le = int(lasts[b])
                if window_end is None or le < window_end:
                    window_end = le
        if window_end is None:
            break
        if full:
            # shallow block-max validation over ALL lists, no decode
            bm = 0.0
            for i in range(nt):
                b_lo, b_hi = _overlap(i, cur, window_end)
                if b_hi > b_lo:
                    m = float(lists[i][4][b_lo:b_hi].max())
                    v = lists[i][1] * m
                    if v > 0.0:
                        bm += v
            if bm < theta:  # tie-conservative: skip only strictly below
                cur = window_end + 1
                continue
        # candidates: essential-list postings within the window
        parts = []
        for i in by_ub[ne:]:
            b_lo, b_hi = _overlap(i, cur, window_end)
            for b in range(b_lo, b_hi):
                ids, _ws = _decoded(i, b)
                s = int(np.searchsorted(ids, cur, side="left"))
                e = int(np.searchsorted(ids, window_end, side="right"))
                if e > s:
                    parts.append(ids[s:e])
        if not parts:
            cur = window_end + 1
            continue
        cand = np.unique(np.concatenate(parts)) if len(parts) > 1 else np.unique(parts[0])
        # exact scores: ascending term_id accumulation (canonical order)
        acc = np.zeros(cand.shape[0], dtype=np.float64)
        for i in range(nt):
            b_lo, b_hi = _overlap(i, cur, window_end)
            if b_hi <= b_lo:
                continue
            blocks = [_decoded(i, b) for b in range(b_lo, b_hi)]
            if len(blocks) == 1:
                ids, ws = blocks[0]
            else:
                ids = np.concatenate([b[0] for b in blocks])
                ws = np.concatenate([b[1] for b in blocks])
            idx = np.searchsorted(ids, cand)
            idx_c = np.minimum(idx, len(ids) - 1)
            match = ids[idx_c] == cand
            if match.any():
                acc[match] += lists[i][1] * ws[idx_c[match]]
        pool_docs = np.concatenate([pool_docs, cand])
        pool_scores = np.concatenate([pool_scores, acc])
        if pool_docs.shape[0] >= k:
            if pool_docs.shape[0] > k:
                order = np.lexsort((pool_docs, -pool_scores))[:k]
                pool_docs = pool_docs[order]
                pool_scores = pool_scores[order]
            theta = float(pool_scores.min())
            full = True
        cur = window_end + 1
    return pool_docs, pool_scores


def _bmw_bucket(
    arrays: dict[int, tuple],
    queries: list[tuple[str, int, list[tuple[int, float]]]],
    out: dict,
) -> None:
    """Vectorized block-max WAND batch scorer over one bucket — the
    default selective path (algo="wand"). Rank-identical to the cursor
    reference kernel (tests/wand_oracle.py), TAAT, MaxScore and M1 (same accumulation order,
    same (score desc, doc asc) tie-break, tie-conservative pruning);
    shares one (term_id, block) decode cache across the whole batch."""
    cache: dict = {}
    for query_id, k, terms in queries:
        lists = []
        for tid, qw in terms:  # already ascending term_id
            arr = arrays.get(tid)
            if arr is None:
                continue
            firsts, lasts, maxws, gaps, wbytes, meta = arr
            ub = max(0.0, qw * float(maxws.max()))
            lists.append((tid, qw, firsts, lasts, maxws, gaps, wbytes, meta, ub))
        if not lists:
            continue
        docs, scores = _bmw_query(lists, k, cache)
        if docs.shape[0] == 0:
            continue
        order = np.lexsort((docs, -scores))[:k]
        for i in order:
            out["query_id"].append(query_id)
            out["doc_id"].append(int(docs[i]))
            out["score"].append(float(scores[i]))
            out["k"].append(k)


def _taat_bucket(
    arrays: dict[int, tuple],
    queries: list[tuple[str, int, list[tuple[int, float]]]],
    out: dict,
) -> None:
    """Vectorized term-at-a-time scorer over one bucket's decoded lists.

    Exact (no pruning) and rank-identical to WAND/M1: contributions
    accumulate in ascending term_id order per doc (each vectorized
    ``acc[idx] += qw*w`` pass IS one term's addend, and terms are
    visited sorted), and top-k selection uses the same
    (score desc, doc_id asc) tie-break. A dense accumulator spans only
    the bucket's local doc range (bounded by the doc-shard width), so
    memory is O(bucket), never O(corpus). ~100x less Python-interpreter
    work than DAAT WAND for large query batches — the batch path; WAND
    remains the selective/interactive path (it decodes fewer blocks).
    """
    decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    lo = None
    hi = None
    for tid, (firsts, lasts, maxws, gaps, wbytes, meta) in arrays.items():
        ids, ws = decode_postings_run(firsts, lasts, gaps, wbytes, meta)
        decoded[tid] = (ids, ws)
        tlo = int(ids[0])
        thi = int(ids[-1])
        lo = tlo if lo is None or tlo < lo else lo
        hi = thi if hi is None or thi > hi else hi
    if lo is None:
        return
    width = hi - lo + 1
    acc = np.zeros(width, dtype=np.float64)
    touched = np.zeros(width, dtype=bool)
    for query_id, k, terms in queries:
        matched = [
            (tid, qw) for tid, qw in terms if tid in decoded
        ]  # terms already term_id-ascending
        if not matched:
            continue
        acc.fill(0.0)
        touched.fill(False)
        for tid, qw in matched:
            ids, ws = decoded[tid]
            idx = ids - lo
            acc[idx] += qw * ws
            touched[idx] = True
        cand = np.flatnonzero(touched)
        scores = acc[cand]
        if len(cand) > k:
            part = np.argpartition(scores, len(scores) - k)[len(scores) - k:]
            # among the k largest by score, ties must keep SMALLEST doc:
            # argpartition's boundary choice is arbitrary, so re-select
            # exactly: sort all candidates tied with the boundary score
            thresh = scores[part].min()
            keep = np.flatnonzero(scores >= thresh)
            order = np.lexsort((cand[keep], -scores[keep]))[:k]
            sel = keep[order]
        else:
            order = np.lexsort((cand, -scores))
            sel = order
        for i in sel:
            out["query_id"].append(query_id)
            out["doc_id"].append(int(cand[i]) + lo)
            out["score"].append(float(scores[i]))
            out["k"].append(k)


def _decode_full_lists(arrays: dict[int, tuple], tids, cache: dict):
    """Concatenated (ids, ws) per term with a shard-level cache — each
    term's blocks decode ONCE per shard no matter how many queries in
    the batch touch it."""
    out = {}
    for tid in tids:
        hit = cache.get(tid)
        if hit is None:
            firsts, lasts, maxws, gaps, wbytes, meta = arrays[tid]
            hit = decode_postings_run(firsts, lasts, gaps, wbytes, meta)
            cache[tid] = hit
        out[tid] = hit
    return out


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
    accumulation order matches the scalar WAND/TAAT/M1 paths. θ only
    grows, so the non-essential prefix only widens. ~block_size× less
    Python-interpreter work than the cursor DAAT kernel on batch loads.

    Returns (doc_ids, scores) of the final pool, unordered beyond the
    pool invariant (caller ranks).
    """
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


def _maxscore_bucket(
    arrays: dict[int, tuple],
    queries: list[tuple[str, int, list[tuple[int, float]]]],
    out: dict,
) -> None:
    """Chunked-MaxScore batch scorer over one bucket — the vectorized
    selective batch path (algo="maxscore"). Rank-identical to WAND/TAAT
    (same accumulation order, same (score desc, doc asc) tie-break,
    tie-conservative pruning)."""
    cache: dict = {}
    for query_id, k, terms in queries:
        matched = [(tid, qw) for tid, qw in terms if tid in arrays]
        if not matched:
            continue
        decoded = _decode_full_lists(arrays, [t for t, _ in matched], cache)
        lists = []
        for tid, qw in matched:  # already ascending term_id
            ids, ws = decoded[tid]
            maxws = arrays[tid][2]
            ub = max(0.0, qw * float(maxws.max()))
            lists.append((tid, qw, ids, ws, ub))
        docs, scores = _maxscore_query(lists, k)
        if docs.shape[0] == 0:
            continue
        order = np.lexsort((docs, -scores))[:k]
        for i in order:
            out["query_id"].append(query_id)
            out["doc_id"].append(int(docs[i]))
            out["score"].append(float(scores[i]))
            out["k"].append(k)


_SCORERS = {
    "wand": _bmw_bucket,
    "taat": _taat_bucket,
    "maxscore": _maxscore_bucket,
}


def _make_bucket_kernel(
    queries: list[tuple[str, int, list[tuple[int, float]]]],
    algo: str = "wand",
):
    """Kernel factory: every query runs over one shard's matched blocks.
    algo="wand": vectorized block-max WAND (selective queries skip whole
    blocks without decoding, O(#blocks) Python work); algo="taat":
    vectorized term-at-a-time full evaluation (large batches — decode
    once, no per-posting Python); algo="maxscore": chunked
    essential-list pruning. All are rank-identical."""
    if algo not in _SCORERS:
        raise ValueError(
            f"unknown algo {algo!r}; expected auto or one of {sorted(_SCORERS)}"
        )
    scorer = _SCORERS[algo]

    def kernel(pdf: pd.DataFrame, meta_for) -> pd.DataFrame:
        arrays: dict[int, tuple] = {}
        for term_id, g in pdf.groupby("term_id", sort=True):
            g = g.sort_values("block_seq")
            arrays[int(term_id)] = (
                g["first_doc"].to_numpy(dtype=np.int64),
                g["last_doc"].to_numpy(dtype=np.int64),
                g["max_weight"].to_numpy(dtype=np.float64),
                g["doc_gaps"].tolist(),
                g["weights"].tolist(),
                meta_for(int(term_id)),
            )
        out = {"query_id": [], "doc_id": [], "score": [], "k": []}
        scorer(arrays, queries, out)
        return pd.DataFrame(out)

    return kernel


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


def wand_topk_sharded(
    spark,
    index_root: str,
    query_terms: DataFrame,
    algo: str = "wand",
) -> DataFrame:
    """query_terms(query_id, term, qw, k) → (query_id, rank, conv_id,
    turn_idx, score): block-max WAND over the doc-sharded on-disk block
    index (blocks.encode_shards_from_postings layout) — the engine's one
    block query path. ``algo`` picks the shard scorer (wand, taat,
    maxscore) or ``auto`` by batch size; all are rank-identical.

    Each task gets one shard PATH; the kernel reads only the matched
    terms' blocks via a pyarrow ``term_id in (...)`` predicate (block
    files are term-sorted with small row groups, so row-group statistics
    prune most of the file), then runs every query over the shard with
    the shared decode cache. Matched block bytes never shuffle and never
    cross the JVM→Python socket: the only rows Spark moves are <= k
    results per (query, shard). The doc_id → (conv_id, turn_idx) label
    is resolved IN-KERNEL by a searchsorted against the worker-cached
    conversation-base sidecar (doc_id = base[conv] + turn by
    construction) — a final join against the full turn-level docs
    table would rescan 10^N rows per batch to label <= k·|queries|
    results. The final merge is just the bounded per-query rank window.
    """
    import glob as _glob
    import os as _os

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
    if algo == "auto":
        # DAAT block-max WAND wins when pruning can skip most blocks
        # (few selective queries, blocks decode lazily); a batch
        # amortizes decode across queries, so the vectorized chunked-
        # MaxScore pass wins by interpreter cost while still pruning
        # the low-impact (stopword-heavy) lists TAAT would fully score
        algo = "maxscore" if len(queries) >= 16 else "wand"
    bucket_kernel = _make_bucket_kernel(queries, algo=algo)
    tid_list = list(term_ids)

    def shard_kernel(batches):
        import os as _os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ..index.blocks import (
            _PAYLOAD_KEY,
            _PAYLOAD_TF,
            load_query_sidecar_views,
            load_shard_doclen,
        )
        from ..index.weights import B as _B, K1 as _K1

        views = None
        for pdf in batches:
            for path in pdf["path"]:
                tbl = pq.read_table(
                    path,
                    filters=[("term_id", "in", tid_list)],
                    use_threads=False,
                )
                if (tbl.schema.metadata or {}).get(_PAYLOAD_KEY) != _PAYLOAD_TF:
                    raise ValueError(
                        f"{path} is not a TF-payload block file "
                        f"({_PAYLOAD_KEY.decode()}={_PAYLOAD_TF.decode()} "
                        "schema metadata missing): it was written by an "
                        "older float64 block format. Re-encode the index "
                        "with encode_shards_from_postings."
                    )
                if tbl.num_rows == 0:
                    continue
                if views is None:
                    # worker-cached across batches (anti-scaling fixed
                    # cost otherwise: one conv-table argsort per worker
                    # per batch, growing with worker count)
                    views = load_query_sidecar_views(index_root)
                conv_map, idf_lut, stats = views
                # exact BM25 from the TF payload: per-shard denominator
                # (and norm divisor) from the doclen sidecar, idf per
                # matched term from the dictionary sidecar
                lo_v, dl, nrm = load_shard_doclen(_os.path.dirname(path))
                avg = float(stats["avg_doc_len"])
                denom = _K1 * ((1.0 - _B) + _B * (dl.astype(np.float64) / avg))
                tids_sorted, idf_sorted = idf_lut

                def meta_for(tid, _d=denom, _l=lo_v, _n=nrm):
                    j = int(np.searchsorted(tids_sorted, tid))
                    if j >= len(tids_sorted) or tids_sorted[j] != tid:
                        raise RuntimeError(
                            f"term_id {tid} present in blocks but "
                            f"missing from the terms sidecar — "
                            f"stale or mismatched index sidecars "
                            f"under {index_root!r}"
                        )
                    return (float(idf_sorted[j]), _d, _l, _n)

                out = bucket_kernel(tbl.to_pandas(), meta_for)
                if len(out) == 0:
                    continue
                # conv ids stay an Arrow array; only the <= k·|q|
                # result rows ever become Python strings
                sbases, convs = conv_map
                doc = out["doc_id"].to_numpy()
                j = np.searchsorted(sbases, doc, side="right") - 1
                out["conv_id"] = convs.take(pa.array(j)).to_pylist()
                out["turn_idx"] = (doc - sbases[j]).astype(np.int32)
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
