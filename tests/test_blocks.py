"""Unit tests for the varbyte/delta-gap term-run codec."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ir_base_spark.index.blocks import (
    _encode_runs,
    bm25_doc_denom,
    bm25_idf,
    bm25_weight,
    decode_postings_run,
    varbyte_decode,
    varbyte_encode,
)
from tests.term_runs import tf_term_run


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
        n, gaps, tfs, meta, ws = tf_term_run(ids, tf, idf, denom, None)
        assert n == 128
        rids, rws = decode_postings_run([n], gaps, tfs, meta)
        assert (rids == ids).all()
        assert (rws == ws).all()  # float64 bit-exact
        assert rws.max() == ws.max()  # the reader's term bound


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
    rn, enc, tfs, meta, ws = tf_term_run(ids, tf, idf, denom, None)
    assert rn == n
    rids, rws = decode_postings_run([rn], enc, tfs, meta)
    assert (rids == ids).all()
    assert (rws == ws).all()


def test_tf_payload_multibyte_roundtrip():
    """A TF-payload run with term frequencies needing 2+ varbyte bytes
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
    enc = _encode_runs(tid, doc, tf)
    assert enc.schema.metadata[b"sg_payload"] == b"tfv2"
    assert enc.column_names == ["term_id", "n", "doc_gaps", "tfs"]
    (row,) = enc.to_pylist()
    assert row["n"] == n
    ids, ws = decode_postings_run(
        [n], row["doc_gaps"], row["tfs"], (idf_t, denom, 0, None)
    )
    assert (ids == doc).all()
    assert (ws == w).all()  # bit-identical reconstruction


def test_decode_postings_run_bit_exact():
    """A multi-run buffer decoded in one pass equals each run decoded on
    its own and the encoder's weights bit for bit, with and without a
    per-doc norm divisor, including multibyte gaps and tfs and leading
    gaps >= 2**32."""
    rng = np.random.default_rng(13)
    lo, span, n_terms = 2**32 + 5, 1_000_000, 6
    counts = rng.integers(1, 300, size=n_terms)
    tid = np.repeat(np.arange(n_terms), counts)
    doc = lo + np.concatenate(
        [np.sort(rng.choice(span, size=c, replace=False)) for c in counts]
    )
    tf = rng.integers(1, 50_000, size=tid.size)
    idf = rng.normal(loc=0.5, scale=1.5, size=n_terms)[tid]
    denom = bm25_doc_denom(rng.integers(1, 400, size=span), 40.0)
    cols = _encode_runs(tid, doc, tf).to_pydict()
    assert cols["term_id"] == list(range(n_terms))
    assert cols["n"] == counts.tolist()
    ends = np.cumsum(cols["n"])

    for nrm in (None, rng.uniform(0.5, 3.0, size=span)):
        w = bm25_weight(idf, tf.astype(np.float64), denom[doc - lo])
        if nrm is not None:
            w = w / nrm[doc - lo]
        ids, ws = decode_postings_run(
            cols["n"], b"".join(cols["doc_gaps"]), b"".join(cols["tfs"]),
            (idf, denom, lo, nrm),
        )
        assert (ids == doc).all()
        assert (ws == w).all()  # bit-identical
        for n, e, g, t in zip(cols["n"], ends, cols["doc_gaps"], cols["tfs"]):
            one_ids, one_ws = decode_postings_run(
                [n], g, t, (idf[e - n: e], denom, lo, nrm)
            )
            assert (one_ids == ids[e - n: e]).all()
            assert (one_ws == ws[e - n: e]).all()
