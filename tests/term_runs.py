"""One term's TF-payload run, written by the production encoder, for the
codec tests and the shard-kernel fuzz test."""

from __future__ import annotations

import numpy as np

from ir_base_spark.index.blocks import _encode_runs, bm25_weight


def tf_term_run(ids, tf, idf, denom, nrm):
    """The run of one term over doc ids ``ids`` (sorted, unique, >= 0)
    with term frequencies ``tf``; ``denom``/``nrm`` are per-doc arrays
    indexed by doc id (``nrm`` may be None). Returns (n, gaps, tfs,
    meta, weights): the run's posting count and bytes, the decoder's
    ``meta`` and the exact doubles decode must reproduce."""
    ids = np.asarray(ids, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    w = bm25_weight(idf, tf.astype(np.float64), denom[ids])
    if nrm is not None:
        w = w / nrm[ids]
    enc = _encode_runs(np.zeros(ids.shape[0], dtype=np.int64), ids, tf)
    assert enc.num_rows == 1
    row = enc.to_pylist()[0]
    return row["n"], row["doc_gaps"], row["tfs"], (float(idf), denom, 0, nrm), w
