"""Unit tests for the varbyte/delta-gap block codec."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ir_base_spark.index.blocks import (
    _encode_sorted_run_arrow,
    bm25_doc_denom,
    bm25_idf,
    bm25_weight,
    decode_postings_run,
    varbyte_decode,
    varbyte_encode,
)
from tests.wand_oracle import tf_term_blocks


def _decode(firsts, lasts, ns, gaps, payloads, meta):
    """Decode a run of blocks given as per-block bytes lists."""
    return decode_postings_run(
        firsts, lasts, ns, b"".join(gaps), b"".join(payloads), meta
    )


def test_varbyte_roundtrip_simple():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**40], dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(vals)) == vals).all()


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


@given(
    st.lists(st.integers(min_value=0, max_value=2**42), min_size=0, max_size=300)
)
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(arr))
    assert (out == arr).all()


def test_varbyte_compression_ratio():
    # small gaps should take ~1 byte each vs 8 for raw int64
    gaps = np.random.default_rng(0).integers(1, 100, size=1000).astype(np.uint64)
    enc = varbyte_encode(gaps)
    assert len(enc) <= 1000  # all < 128 -> exactly 1 byte each


def test_block_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(1_000_000, size=128, replace=False)).astype(np.int64)
    tf = rng.integers(1, 300, size=128)
    denom = rng.uniform(0.5, 3.0, size=1_000_000)
    for idf in (1.3, -0.4):  # negative IDF: DF > N/2
        firsts, lasts, ns, mx, gaps, payloads, meta, ws = tf_term_blocks(
            ids, tf, idf, denom, None, 128
        )
        assert firsts[0] == ids[0] and lasts[0] == ids[-1] and ns[0] == 128
        assert mx[0] == ws.max()
        rids, rws = _decode(firsts, lasts, ns, gaps, payloads, meta)
        assert (rids == ids).all()
        assert (rws == ws).all()  # float64 bit-exact


@given(st.data())
@settings(max_examples=100, deadline=None)
def test_block_roundtrip_property(data):
    n = data.draw(st.integers(min_value=1, max_value=200))
    start = data.draw(st.integers(min_value=0, max_value=2**40))
    gaps = data.draw(
        st.lists(st.integers(min_value=1, max_value=2**20), min_size=n, max_size=n)
    )
    tf = data.draw(
        st.lists(st.integers(min_value=1, max_value=2**16), min_size=n, max_size=n)
    )
    idf = data.draw(st.floats(min_value=-5, max_value=5, allow_nan=False))
    ids = start + np.cumsum(np.array([0] + gaps[:-1], dtype=np.int64))
    # zero-stride per-doc denominator: any doc id indexes it, no memory
    denom = np.broadcast_to(np.float64(1.25), (int(ids[-1]) + 1,))
    firsts, lasts, ns, _mx, enc, payloads, meta, ws = tf_term_blocks(
        ids, tf, idf, denom, None, n
    )
    rids, rws = _decode(firsts, lasts, ns, enc, payloads, meta)
    assert (rids == ids).all()
    assert (rws == ws).all()


def test_tf_payload_multibyte_roundtrip():
    """TF-payload blocks with term frequencies needing 2+ varbyte bytes
    (tf > 127) must reconstruct the exact BM25 doubles."""
    n = 500
    rng = np.random.default_rng(3)
    doc = np.sort(rng.choice(np.arange(10_000), size=n, replace=False))
    tf = rng.integers(1, 20_000, size=n).astype(np.int64)
    tid = np.zeros(n, dtype=np.int64)
    dl = np.zeros(10_000, dtype=np.float64)
    dl[doc] = tf * 3.0
    idf_t = float(bm25_idf(10_000, 37))
    denom = bm25_doc_denom(dl, 40.0)
    w = bm25_weight(idf_t, tf.astype(np.float64), denom[doc])
    enc = _encode_sorted_run_arrow(tid, 0, doc, w, 64, tf)
    assert enc.schema.metadata[b"sg_payload"] == b"tfv1"
    cols = enc.to_pydict()
    ids, ws = _decode(
        np.array(cols["first_doc"]), np.array(cols["last_doc"]),
        np.array(cols["n"]), cols["doc_gaps"], cols["weights"],
        (idf_t, denom, 0, None),
    )
    assert (ids == doc).all()
    assert (ws == w).all()  # bit-identical reconstruction


def test_decode_postings_run_bit_exact():
    """A multi-block run decodes bit-exactly to the encoder's input
    weights, and equals the same blocks decoded as one-block runs, with
    and without a per-doc norm divisor, including multibyte gaps and
    tfs."""
    n = 700
    rng = np.random.default_rng(13)
    doc = np.sort(rng.choice(np.arange(5_000_000), size=n, replace=False))
    tf = rng.integers(1, 50_000, size=n).astype(np.int64)
    dl = np.zeros(5_000_000, dtype=np.float64)
    dl[doc] = tf * 3.0
    denom = bm25_doc_denom(dl, 40.0)

    for nrm in (None, rng.uniform(0.5, 3.0, size=5_000_000)):
        firsts, lasts, ns, _mx, gaps, payloads, meta, w = tf_term_blocks(
            doc, tf, 1.7, denom, nrm, 64
        )
        assert len(firsts) > 1
        per_block = [
            decode_postings_run(firsts[i:i + 1], lasts[i:i + 1], ns[i:i + 1],
                                gaps[i], payloads[i], meta)
            for i in range(len(firsts))
        ]
        ids_b = np.concatenate([p[0] for p in per_block])
        ws_b = np.concatenate([p[1] for p in per_block])
        ids_r, ws_r = _decode(firsts, lasts, ns, gaps, payloads, meta)
        assert (ids_r == ids_b).all() and (ids_r == doc).all()
        assert (ws_r == ws_b).all() and (ws_r == w).all()  # bit-identical
