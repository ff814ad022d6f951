"""Property fuzz of the shard kernel (chunked MaxScore) and the cursor
block-max WAND oracle vs brute force.

Catches pruning-soundness bugs (e.g. under-counted block-max bounds)
without Spark in the loop. Lists are TF-payload blocks written by the
production encoder; each term draws a SIGNED random IDF so negative
weights stay covered (BM25 IDF goes negative for DF > N/2 and the
kernels' UB clamping must stay sound), and half the trials add a
per-doc norm divisor.
"""

from __future__ import annotations

import numpy as np

from ir_base_spark.index.weights import B, K1
from tests.wand_oracle import _ListIter, _wand_bucket, tf_term_blocks


def _random_lists(rng, block_size: int):
    """→ (k, [(term_id, qw, firsts, lasts, maxws, gaps, payloads, meta,
    ub)], brute-force top-k [(doc, score)])."""
    n_docs = int(rng.integers(5, 300))
    n_terms = int(rng.integers(1, 7))
    k = int(rng.integers(1, 15))
    dl = rng.integers(1, 60, size=n_docs).astype(np.float64)
    denom = K1 * ((1.0 - B) + B * (dl / float(dl.mean())))
    nrm = rng.uniform(0.5, 3.0, size=n_docs) if rng.integers(2) else None
    lists = []
    truth: dict[int, float] = {}
    for tid in range(n_terms):
        n_post = int(rng.integers(1, n_docs + 1))
        ids = np.sort(rng.choice(n_docs, size=n_post, replace=False)).astype(np.int64)
        # mostly small tfs, occasionally multibyte varbyte ones
        tf = rng.integers(1, 4 if rng.integers(4) else 400, size=n_post)
        idf = float(rng.normal(loc=0.5, scale=1.5))
        qw = float(rng.integers(1, 4))
        firsts, lasts, maxws, gaps, wb, meta, ws = tf_term_blocks(
            ids, tf, idf, denom, nrm, block_size
        )
        ub = max(0.0, qw * float(maxws.max()))
        lists.append((tid, qw, firsts, lasts, maxws, gaps, wb, meta, ub))
        for d, w2 in zip(ids, ws):
            truth[int(d)] = truth.get(int(d), 0.0) + qw * float(w2)
    expect = sorted(truth.items(), key=lambda t: (-t[1], t[0]))[:k]
    return k, lists, expect


def _assert_topk(got, expect) -> None:
    assert len(got) == len(expect)
    for g, e in zip(got, expect):
        assert g[0] == e[0], f"doc {g[0]} vs {e[0]}"
        assert abs(g[1] - e[1]) < 1e-12


def _run_trial(rng) -> None:
    k, lists, expect = _random_lists(rng, int(rng.integers(2, 10)))
    its = [_ListIter(*L[:8]) for L in lists]
    _assert_topk(_wand_bucket(its, k), expect)


def test_wand_kernel_fuzz():
    rng = np.random.default_rng(1234)
    for _ in range(250):
        _run_trial(rng)


def _run_maxscore_trial(rng) -> None:
    from ir_base_spark.index.blocks import decode_postings_run
    from ir_base_spark.query.wand import _maxscore_query

    k, blocks, expect = _random_lists(rng, int(rng.integers(2, 10)))
    chunk = int(rng.integers(2, 40))  # tiny chunks stress θ/frontier logic
    lists = []
    for tid, qw, firsts, lasts, _m, gaps, wb, meta, ub in blocks:
        ids, ws = decode_postings_run(firsts, lasts, gaps, wb, meta)
        lists.append((tid, qw, ids, ws, ub))
    docs, scores = _maxscore_query(lists, k, chunk=chunk)
    order = np.lexsort((docs, -scores))[:k]
    _assert_topk([(int(docs[i]), float(scores[i])) for i in order], expect)


def test_maxscore_kernel_fuzz():
    """Chunked-MaxScore pruning soundness vs brute force, including
    negative weights (clamped UBs) and tiny chunk sizes."""
    rng = np.random.default_rng(4321)
    for _ in range(250):
        _run_maxscore_trial(rng)


def test_maxscore_k_zero():
    """k = 0 asks for no rows: the kernel returns an empty pool instead
    of failing on an empty threshold reduction."""
    from ir_base_spark.query.wand import _maxscore_query

    ids = np.array([1, 4, 9], dtype=np.int64)
    ws = np.array([1.0, 2.0, 3.0])
    docs, scores = _maxscore_query([(0, 1.0, ids, ws, 3.0)], 0)
    assert docs.shape == (0,) and scores.shape == (0,)
