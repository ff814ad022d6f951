"""Reference kernels for the WAND fuzz tests.

- ``tf_term_blocks``: one term's TF-payload blocks, written by the
  production encoder (blocks._encode_sorted_run_arrow) from the same
  BM25 (+ optional per-doc norm) expression the shard encoder uses.
- ``_ListIter`` / ``_wand_bucket``: the per-posting cursor DAAT block-max
  WAND kernel. The engine's one shard kernel, chunked MaxScore
  (query/wand.py ``_maxscore_query``), replaced it; it stays here as
  the independent reference the fuzz tests check against.
"""

from __future__ import annotations

import heapq

import numpy as np

from ir_base_spark.index.blocks import (
    _encode_sorted_run_arrow,
    decode_postings_block,
)
from ir_base_spark.index.weights import K1

_INF = np.iinfo(np.int64).max


def tf_term_blocks(ids, tf, idf, denom, nrm, block_size):
    """Blocks of one term over doc ids ``ids`` (sorted, unique, >= 0)
    with term frequencies ``tf``; ``denom``/``nrm`` are per-doc arrays
    indexed by doc id (``nrm`` may be None). Returns (firsts, lasts,
    maxws, gaps, payloads, meta, weights) — ``weights`` are the exact
    doubles decode must reproduce."""
    ids = np.asarray(ids, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    w = idf * (tf.astype(np.float64) * (K1 + 1.0) / (denom[ids] + tf))
    if nrm is not None:
        w = w / nrm[ids]
    enc = _encode_sorted_run_arrow(
        np.zeros(ids.shape[0], dtype=np.int64), 0, ids, w, block_size, tf
    ).to_pydict()
    return (
        np.array(enc["first_doc"], dtype=np.int64),
        np.array(enc["last_doc"], dtype=np.int64),
        np.array(enc["max_weight"], dtype=np.float64),
        enc["doc_gaps"],
        enc["weights"],
        (float(idf), denom, 0, nrm),
        w,
    )


class _ListIter:
    """Posting-list cursor over one term's blocks within one shard.

    Blocks decode lazily: ``next_geq`` skips whole blocks on
    (first_doc, last_doc) metadata before touching payload bytes.
    """

    __slots__ = (
        "term_id", "qw", "firsts", "lasts", "maxws", "gaps", "wbytes",
        "meta", "bi", "ids", "ws", "pos", "cur", "ub",
    )

    def __init__(self, term_id, qw, firsts, lasts, maxws, gaps, wbytes, meta):
        self.meta = meta
        self.term_id = term_id
        self.qw = qw
        self.firsts = firsts
        self.lasts = lasts
        self.maxws = maxws
        self.gaps = gaps
        self.wbytes = wbytes
        self.bi = 0
        self.ids = None
        self.ws = None
        self.pos = 0
        # term-level upper bound within this shard, clamped at 0
        self.ub = max(0.0, qw * max(maxws))
        self._open_block()

    def _open_block(self):
        if self.bi >= len(self.firsts):
            self.cur = _INF
            return
        self.ids, self.ws = decode_postings_block(
            self.firsts[self.bi], self.gaps[self.bi],
            self.wbytes[self.bi], self.meta,
        )
        self.pos = 0
        self.cur = int(self.ids[0])

    def block_max_geq(self, target: int) -> float:
        """Shallow move: per-block max for the block that would contain
        ``target`` (no decode). Clamped at 0."""
        bi = self.bi
        while bi < len(self.lasts) and self.lasts[bi] < target:
            bi += 1
        if bi >= len(self.lasts):
            return 0.0
        return max(0.0, self.qw * self.maxws[bi])

    def block_last(self, target: int) -> int:
        """last_doc of the block that would contain target (for BMW
        skip-to-boundary moves)."""
        bi = self.bi
        while bi < len(self.lasts) and self.lasts[bi] < target:
            bi += 1
        if bi >= len(self.lasts):
            return _INF
        return int(self.lasts[bi])

    def next_geq(self, target: int):
        if self.cur >= target:
            return
        while self.bi < len(self.lasts) and self.lasts[self.bi] < target:
            self.bi += 1
            self.ids = None
        if self.bi >= len(self.lasts):
            self.cur = _INF
            return
        if self.ids is None:
            self._open_block()
        self.pos = int(np.searchsorted(self.ids, target, side="left"))
        if self.pos >= len(self.ids):
            # target fell in a gap right after this block's last id
            self.bi += 1
            self.ids = None
            if self.bi >= len(self.lasts):
                self.cur = _INF
                return
            self._open_block()
        else:
            self.cur = int(self.ids[self.pos])

    def advance(self):
        self.pos += 1
        if self.pos < len(self.ids):
            self.cur = int(self.ids[self.pos])
        else:
            self.bi += 1
            self.ids = None
            if self.bi >= len(self.lasts):
                self.cur = _INF
            else:
                self._open_block()

    def weight_at_cur(self) -> float:
        return float(self.ws[self.pos])


def _wand_bucket(lists: list[_ListIter], k: int) -> list[tuple[int, float]]:
    """Block-max WAND over one shard; returns [(doc_id, score)] top-k."""
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    by_tid = sorted(lists, key=lambda x: x.term_id)

    while True:
        live = [x for x in by_tid if x.cur != _INF]
        if not live:
            break
        live.sort(key=lambda x: x.cur)
        full = len(heap) >= k
        # pivot selection on clamped term UBs; tie-conservative (>=):
        # a doc scoring exactly theta can still enter by doc-id tie-break
        acc = 0.0
        pivot = -1
        for i, L in enumerate(live):
            acc += L.ub
            if not full or acc >= heap[0][0]:
                pivot = i
                break
        if pivot == -1:
            break
        pivot_doc = live[pivot].cur
        if live[0].cur == pivot_doc:
            # edge = last list whose cursor sits on pivot_doc — lists past
            # the pivot can also hold pivot_doc and contribute to it, so
            # both the bound and the skip must cover them
            edge = pivot
            while edge + 1 < len(live) and live[edge + 1].cur == pivot_doc:
                edge += 1
            # block-max validation (shallow, no decode)
            if full:
                bm = 0.0
                for L in live[: edge + 1]:
                    bm += L.block_max_geq(pivot_doc)
                if bm < heap[0][0]:
                    # BMW skip: past the nearest block boundary, but never
                    # past the first cursor beyond the edge — docs in
                    # (pivot_doc, boundary] may score from later lists too
                    boundary = min(L.block_last(pivot_doc) for L in live[: edge + 1])
                    target = boundary + 1 if boundary != _INF else _INF
                    if edge + 1 < len(live):
                        target = min(target, live[edge + 1].cur)
                    if target <= pivot_doc:
                        target = pivot_doc + 1
                    for L in live[: edge + 1]:
                        L.next_geq(target)
                    continue
            # full evaluation in ascending term_id order
            score = 0.0
            for L in by_tid:
                if L.cur == pivot_doc:
                    score += L.qw * L.weight_at_cur()
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            for L in by_tid:
                if L.cur == pivot_doc:
                    L.advance()
        else:
            # advance all lists before the pivot up to pivot_doc
            for L in live[:pivot]:
                L.next_geq(pivot_doc)
    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out
