"""Compressed posting runs: delta-gap + varbyte, one run per term per shard.

The reference keeps postings as boxed Java objects (~32 B/posting,
/root/reference/src/structures/_SparseFeature.java); at 10^12 turns the
engine instead stores term-major posting runs, one file per doc shard
(``blocks/partition_id=<p>/blocks.parquet``), one row per term:

    (term_id, n, doc_gaps: binary, tfs: binary)

- doc ids are dense longs ranked by (conv_id, turn_idx) — so ascending
  doc_id IS the stable turn ordering, and delta gaps are small;
- ``doc_gaps`` holds the run's varbyte doc-id gaps, and its leading gap
  is the absolute first doc id (vectorized numpy encode/decode, no
  per-value Python in the build hot path);
- ``tfs`` holds the run's varbyte TERM FREQUENCIES (~1 B/posting; the
  ``sg_payload=tfv2`` format). The exact BM25 double is rebuilt at
  read time from the term's IDF (terms/ sidecar) and the per-shard
  ``_doclen.npz`` sidecar (doc lengths, and the per-doc L1/L2 norm when
  the index was finalized with one), through the same numpy helpers
  (``bm25_idf``, ``bm25_doc_denom``, ``bm25_weight``) the encoder uses,
  so read weights are bit-identical to the encoder's;
- a term's score bound (the query kernel's MaxScore upper bound,
  query/wand.py) is the max of its decoded weights.

This module is the only one that knows the format: it writes it
(``encode_shards_from_postings``) and reads it (``read_shard_lists``:
a shard file → each matched term's doc ids, exact weights and bound,
through the one decoder ``decode_postings_run``; ``label_docs``: doc
id → (conv_id, turn_idx)).

Hot-term skew (SURVEY §4, §7.3): a shard is a contiguous DOC range (the
build's conv-range split), so a Zipf-head term's postings split across
every shard in proportion to the docs they live in; each shard encodes
independently with no posting-level shuffle and no merge stage.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pandas as pd

from .weights import B, K1


# ---------------------------------------------------------------- varbyte

def _varbyte_encode_arr(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte (7-bit groups, MSB=continuation) encoder.

    Returns (byte array, per-value byte counts) — callers slice the byte
    array by offsets without materializing intermediate ``bytes``.
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.uint8)
    tmp = v >> np.uint64(7)
    nbytes = np.ones(v.shape, dtype=np.uint8)  # varbyte of uint64 <= 10 B
    while tmp.any():
        nbytes += (tmp > 0)
        tmp >>= np.uint64(7)
    starts = np.empty(v.shape, dtype=np.int64)
    starts[0] = 0
    np.cumsum(nbytes[:-1], out=starts[1:])
    total = int(starts[-1]) + int(nbytes[-1])
    # every byte slot is written exactly once across the plane loop below
    out = np.empty(total, dtype=np.uint8)
    max_b = int(nbytes.max())
    # byte plane 0 covers EVERY value (delta gaps are overwhelmingly
    # 1-byte): write it without the boolean gathers the generic plane
    # loop needs — those full-size mask copies were ~40% of encode time
    out[starts] = (v & np.uint64(0x7F)).astype(np.uint8) | (
        (nbytes > 1).view(np.uint8) << 7
    )
    for j in range(1, max_b):
        mask = nbytes > j
        pos = starts[mask] + j
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[pos] = byte | cont
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encoder → ``bytes`` (see _varbyte_encode_arr)."""
    out, _ = _varbyte_encode_arr(values)
    return out.tobytes()


def varbyte_decode(buf) -> np.ndarray:
    """Vectorized varbyte decoder (``buf``: bytes or a uint8 array) →
    uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    if is_last.all():
        # every byte is a standalone value (< 128): term frequencies are
        # overwhelmingly 1-2 and most delta gaps are < 128
        return b.astype(np.uint64)
    # byte planes, as in the encoder: plane j adds the j-th 7-bit group
    # of every value that has one (values are 1-2 bytes long, mostly)
    ends = np.flatnonzero(is_last)
    starts = np.r_[0, ends[:-1] + 1]
    lens = ends - starts + 1
    values = (b[starts] & 0x7F).astype(np.uint64)
    for j in range(1, int(lens.max())):
        m = np.flatnonzero(lens > j)
        values[m] |= (b[starts[m] + j] & 0x7F).astype(np.uint64) << np.uint64(
            7 * j
        )
    return values


# ----------------------------------------------------------------- BM25

def bm25_idf(n_docs, df) -> np.ndarray:
    """BM25 IDF ln((N - DF + 0.5) / (DF + 0.5)) (Analyzer.java:235-263);
    negative when DF > N/2."""
    df = np.asarray(df, dtype=np.float64)
    return np.log((float(n_docs) - df + 0.5) / (df + 0.5))


def bm25_doc_denom(doc_len, avg_doc_len: float) -> np.ndarray:
    """Per-doc BM25 saturation denominator k1·(1 - b + b·dl/avg)."""
    dl = np.asarray(doc_len, dtype=np.float64)
    return K1 * ((1.0 - B) + B * (dl / avg_doc_len))


def bm25_weight(idf, tf: np.ndarray, denom: np.ndarray) -> np.ndarray:
    """BM25 weight of float64 term frequencies ``tf`` given the term IDF
    and each posting's doc denominator (bm25_doc_denom), in the operand
    order of weights.py's Catalyst expression. Encoder and reader both
    call it, so their weights agree bit for bit."""
    return idf * (tf * (K1 + 1.0) / (denom + tf))


def decode_postings_run(ns, gaps, tfs, meta):
    """(doc ids, float64 weights) of consecutive term runs in file order,
    decoded in ONE vectorized pass — the one run decoder (a single run
    is a one-run buffer).

    ``ns`` are the runs' posting counts; ``gaps``/``tfs`` their doc_gaps
    and tfs bytes, concatenated in run order; ``meta=(idf, denom, lo,
    nrm)``: the BM25 IDF (a scalar, or one per posting), the shard's
    per-doc denominator (bm25_doc_denom) and its first doc id, and the
    per-doc norm divisor (None when the index has no norm).

    Varbyte is self-delimiting, so the concatenated buffers decode in
    one shot. Each run's leading gap is its absolute first doc id, so one
    global cumsum less the running total before each run yields every
    run's doc ids (uint64 arithmetic wraps, and the subtraction undoes
    any wrap exactly)."""
    idf, denom, lo, nrm = meta
    g = varbyte_decode(gaps)
    if g.size == 0:
        return g.astype(np.int64), np.empty(0, dtype=np.float64)
    ns = np.asarray(ns, dtype=np.int64)
    cs = np.cumsum(g)
    before = np.zeros(ns.size, dtype=np.uint64)
    before[1:] = cs[np.cumsum(ns[:-1]) - 1]
    ids = (cs - np.repeat(before, ns)).view(np.int64)
    rel = ids - lo
    w = bm25_weight(idf, varbyte_decode(tfs).astype(np.float64), denom[rel])
    if nrm is not None:
        w = w / nrm[rel]
    return ids, w


_PAYLOAD_KEY = b"sg_payload"
_PAYLOAD_TF = b"tfv2"


def _write_shard_doclen(
    out_dir: str, lo: int, dl: np.ndarray, nrm: np.ndarray | None
) -> None:
    """Per-shard doc sidecar for the TF-payload format: doc lengths over
    the shard's [lo, lo+span) doc-id range, int32 (doc lengths are token
    counts per turn — far below 2^31), plus the per-doc norm divisor
    (float64) when the index was finalized with norm 1 or 2."""
    path = os.path.join(out_dir, "_doclen.npz")
    tmp = path + f".tmp{os.getpid()}"
    arrays = {"lo": np.int64(lo), "dl": dl.astype(np.int32)}
    if nrm is not None:
        arrays["nrm"] = nrm
    with open(tmp, "wb") as f:
        np.savez(f, **arrays)
    os.replace(tmp, path)


_DOCLEN_CACHE: dict = {}


def _load_shard_docs(
    shard_dir: str, avg_doc_len: float
) -> tuple[int, np.ndarray, np.ndarray | None]:
    """(lo, per-doc BM25 denominator, norm divisor or None) for one
    shard dir, worker-cached by mtime (Spark reuses Python workers across
    jobs — same staleness rule as _sidecar_token)."""
    path = os.path.join(shard_dir, "_doclen.npz")
    try:
        st = os.stat(path)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{path} is missing: the TF-payload blocks beside it cannot be "
            "scored without their doc-length sidecar. Re-encode the index "
            "with encode_shards_from_postings."
        ) from None
    key = (path, st.st_mtime_ns, st.st_size, avg_doc_len)
    hit = _DOCLEN_CACHE.get(key)
    if hit is None:
        with np.load(path) as z:
            hit = (
                int(z["lo"]),
                bm25_doc_denom(z["dl"], avg_doc_len),
                z["nrm"] if "nrm" in z else None,
            )
        if len(_DOCLEN_CACHE) > 256:  # bound worker-resident sidecars
            _DOCLEN_CACHE.clear()
        _DOCLEN_CACHE[key] = hit
    return hit


def _shard_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term_id", pa.int64()),
            ("n", pa.int32()),
            ("doc_gaps", pa.binary()),
            ("tfs", pa.binary()),
        ],
        metadata={_PAYLOAD_KEY: _PAYLOAD_TF},
    )


# ------------------------------------------------------ index sidecars

# per-worker memo of each index root's lookup tables (terms dictionary,
# conv bases, corpus stats) — loaded once per worker process per build,
# reused across its encode and query tasks
_SIDECAR_CACHE: dict = {}


def _sidecar_token(index_root: str) -> tuple:
    """Per-build invalidation token: stats.json identity + newest mtime
    under terms/ and base/. Spark reuses Python workers across jobs, so
    a re-finalized index_root MUST miss the worker-local cache — keying
    on the path alone would silently encode blocks against stale
    sidecars (wrong term ids/weights with no error)."""
    parts = []
    st = os.stat(os.path.join(index_root, "stats.json"))
    parts.append((st.st_mtime_ns, st.st_size))
    for sub in ("terms", "base"):
        d = os.path.join(index_root, sub)
        newest = 0
        for name in os.listdir(d):
            newest = max(newest, os.stat(os.path.join(d, name)).st_mtime_ns)
        parts.append(newest)
    return tuple(parts)


class _Sidecars(NamedTuple):
    """One index root's lookup tables. The term side is sorted by
    term_id and the conversation side by base, so both also serve
    searchsorted lookups (IDF by term id, doc id → conversation)."""

    term_set: object  # pyarrow string array of terms
    term_ids: np.ndarray
    term_idf: np.ndarray  # BM25 IDF per term (bm25_idf)
    conv_set: object  # pyarrow string array of conv ids
    bases: np.ndarray  # first doc id of each conversation
    stats: dict  # stats.json


def _load_sidecars(index_root: str) -> _Sidecars:
    """The worker-cached _Sidecars of ``index_root``. Lookups against
    the Arrow value sets run through pyarrow ``index_in`` — C++ hash
    joins, the term and conv strings never become Python objects."""
    key = (index_root, _sidecar_token(index_root))
    hit = _SIDECAR_CACHE.get(key)
    if hit is not None:
        return hit
    import json as _json

    import pyarrow.parquet as pq

    def sorted_table(sub, columns, by):
        t = pq.read_table(
            os.path.join(index_root, sub), columns=columns, use_threads=False
        )
        return t.take(np.argsort(t[by].to_numpy(), kind="stable")).combine_chunks()

    terms = sorted_table("terms", ["term", "term_id", "df"], "term_id")
    b = sorted_table("base", ["conv_id", "base"], "base")
    with open(os.path.join(index_root, "stats.json")) as fh:
        stats = _json.load(fh)
    # per-term BM25 IDF computed ONCE per worker on the dictionary domain
    hit = _Sidecars(
        term_set=terms["term"].chunk(0),
        term_ids=terms["term_id"].to_numpy().astype(np.int64, copy=False),
        term_idf=bm25_idf(stats["n_docs"], terms["df"].to_numpy()),
        conv_set=b["conv_id"].chunk(0),
        bases=b["base"].to_numpy().astype(np.int64, copy=False),
        stats=stats,
    )
    if len(_SIDECAR_CACHE) > 4:
        _SIDECAR_CACHE.clear()
    _SIDECAR_CACHE[key] = hit
    return hit


# ---------------------------------------------------------------- read

def _binary_values(arr) -> np.ndarray:
    """The values of a pyarrow binary array concatenated in row order: a
    zero-copy view of its data buffer."""
    _validity, offsets, data = arr.buffers()
    offs = np.frombuffer(
        offsets, dtype=np.int32, count=len(arr) + 1, offset=4 * arr.offset
    )
    return np.frombuffer(data, dtype=np.uint8)[offs[0]: offs[-1]]


def read_shard_lists(index_root: str, path: str, term_ids) -> dict:
    """{term_id: (doc ids, float64 weights, bound)} for each term of
    ``term_ids`` present in the shard file ``path``: the weights are
    bit-identical to the encoder's, and the bound is their max.

    Only the matched terms' runs are read (a pyarrow ``term_id in``
    predicate; shard files are term-sorted with small row groups, so
    row-group statistics prune most of the file), and they all decode in
    one pass straight from the Arrow buffers."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        path, filters=[("term_id", "in", list(term_ids))], use_threads=False
    )
    if (tbl.schema.metadata or {}).get(_PAYLOAD_KEY) != _PAYLOAD_TF:
        raise ValueError(
            f"{path} is not a TF-payload block file (sg_payload=tfv2 schema "
            "metadata missing): it was written by an older block format. "
            "Re-encode the index with encode_shards_from_postings."
        )
    if tbl.num_rows == 0:
        return {}
    sc = _load_sidecars(index_root)
    lo, denom, nrm = _load_shard_docs(
        os.path.dirname(path), float(sc.stats["avg_doc_len"])
    )
    col = {name: c.chunk(0) for name, c in
           zip(tbl.column_names, tbl.combine_chunks().columns)}
    tid = col["term_id"].to_numpy()
    if (np.diff(tid) <= 0).any():
        raise RuntimeError(
            f"{path} does not hold one run per term in ascending term_id "
            "order; re-encode the index with encode_shards_from_postings"
        )
    j = np.minimum(np.searchsorted(sc.term_ids, tid), sc.term_ids.size - 1)
    missing = tid[sc.term_ids[j] != tid]
    if missing.size:
        raise RuntimeError(
            f"term_id {int(missing[0])} present in blocks but missing from "
            f"the terms sidecar — stale or mismatched index sidecars under "
            f"{index_root!r}"
        )
    ns = col["n"].to_numpy().astype(np.int64)
    ids, ws = decode_postings_run(
        ns, _binary_values(col["doc_gaps"]), _binary_values(col["tfs"]),
        (np.repeat(sc.term_idf[j], ns), denom, lo, nrm),
    )
    ends = np.cumsum(ns)
    bounds = np.maximum.reduceat(ws, ends - ns)
    return {
        t: (ids[e - n: e], ws[e - n: e], m)
        for t, n, e, m in zip(
            tid.tolist(), ns.tolist(), ends.tolist(), bounds.tolist()
        )
    }


def label_docs(index_root: str, doc_ids: np.ndarray) -> tuple[list, np.ndarray]:
    """(conv_id strings, int32 turn_idx) of global doc ids, by
    doc_id = base[conv_id] + turn_idx: one searchsorted against the
    worker-cached conversation bases. Conv ids stay an Arrow array until
    the labelled rows need them."""
    import pyarrow as pa

    sc = _load_sidecars(index_root)
    j = np.searchsorted(sc.bases, doc_ids, side="right") - 1
    return (
        sc.conv_set.take(pa.array(j)).to_pylist(),
        (doc_ids - sc.bases[j]).astype(np.int32),
    )


# ------------------------------------------------------- sharded encode

def encode_shards_from_postings(spark, index_root: str) -> dict:
    """Term runs straight from the tokenize output — the posting stream is
    materialized ONCE in the whole pipeline, and posting bytes never
    cross the JVM↔Python socket.

    Requires manifest.finalize_lite (terms/, base/, stats.json). Each
    task receives only a shard PATH, reads the shard's raw postings
    parquet with pyarrow, maps term→(id, df) and conv→doc-id base
    through per-worker-cached sidecar tables (C-level hash joins — the
    dictionary is ~MBs, the conv base is conversation-level), recomputes
    doc_len over RETAINED terms (exactly build_index's pruning
    semantics; equal to the stored length when nothing is pruned),
    computes the per-doc L1/L2 norm of the BM25 weights when stats.json
    records one (bit-identical to weights.set_feature_values, the same
    ``denom > 0`` rule), sorts (term_id, doc_id) and writes the shard's
    run file plus its ``_doclen.npz`` sidecar.
    """
    import glob
    import json

    with open(os.path.join(index_root, "stats.json")) as fh:
        stats = json.load(fh)
    if stats.get("scheme", "BM25").upper() != "BM25":
        raise ValueError(
            f"block index supports BM25 only; {index_root} was finalized "
            f"with scheme {stats['scheme']!r} — query it through the M1 "
            "DataFrame path (query.dataframe_bm25.topk_search)"
        )
    norm = int(stats.get("norm", 0))
    post_root = os.path.join(index_root, "postings")
    blocks_root = os.path.join(index_root, "blocks")
    os.makedirs(blocks_root, exist_ok=True)
    shard_dirs = sorted(glob.glob(os.path.join(post_root, "partition_id=*")))
    rows = [(int(d.rsplit("=", 1)[1]), d) for d in shard_dirs]
    fdf = spark.createDataFrame(rows, "partition_id int, path string").repartition(
        max(1, len(rows))
    )

    def kernel(batches):
        import time as _t

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        def positions_in(arr, value_set):
            """Position of each element in ``value_set`` (null = absent).

            Dictionary-aware: when the parquet column is dictionary-
            encoded (read_dictionary), the C++ hash join runs over the
            UNIQUE values only and fans out with one integer ``take`` —
            on a posting stream with ~10-100x value repetition this cuts
            both the hash-probe work and the string materialization that
            made the old per-row index_in a flat, bandwidth-bound term.
            """
            if isinstance(arr, pa.DictionaryArray):
                dpos = pc.index_in(arr.dictionary, value_set=value_set)
                return dpos.take(arr.indices)
            return pc.index_in(arr, value_set=value_set)

        for pdf in batches:
            for pid, path in zip(pdf["partition_id"], pdf["path"]):
                t0 = _t.time()
                sc = _load_sidecars(index_root)
                tbl = pq.read_table(
                    path,
                    columns=["conv_id", "turn_idx", "term", "tf"],
                    use_threads=False,
                    read_dictionary=["conv_id", "term"],
                ).combine_chunks()
                t_read = _t.time()
                if tbl.num_rows == 0:
                    enc = _shard_schema().empty_table()
                    tid = doc = None
                else:
                    # dictionary semi-join in C++: position of each
                    # posting's term in the terms value set (null =
                    # pruned/unknown)
                    pos = positions_in(tbl.column("term").chunk(0), sc.term_set)
                    # positions stay int32 (half the gather-index traffic;
                    # numpy fancy indexing takes int32 indices directly)
                    pos_np = pc.fill_null(pos, -1).to_numpy()
                    cpos_arr = positions_in(
                        tbl.column("conv_id").chunk(0), sc.conv_set
                    )
                    cpos = pc.fill_null(cpos_arr, -1).to_numpy()
                    turn = tbl.column("turn_idx").chunk(0).to_numpy()
                    tf_i = tbl.column("tf").chunk(0).to_numpy()
                    keep = pos_np >= 0
                    if not keep.all():
                        pos_np = pos_np[keep]
                        cpos = cpos[keep]
                        turn = turn[keep]
                        tf_i = tf_i[keep]
                    tf = tf_i.astype(np.float64)
                    # invariant: every retained posting's conversation has
                    # a base entry — fail LOUDLY rather than let a null
                    # position corrupt doc ids downstream
                    if cpos.size and cpos.min() < 0:
                        raise RuntimeError(
                            f"conv_id missing from base sidecar in {path}; "
                            "index_root sidecars are stale or mismatched"
                        )
                    tid = sc.term_ids[pos_np]
                    doc = sc.bases[cpos] + turn
                    # doc_len over retained terms (pruning-consistent):
                    # dense local doc index -> one bincount pass
                    lo = int(doc.min()) if doc.size else 0
                    span = (int(doc.max()) - lo + 1) if doc.size else 0
                    rel = doc - lo
                    dl_acc = np.bincount(rel, weights=tf, minlength=span)
                    nrm = None
                    if norm:
                        # BM25, factored onto the small domains: IDF is
                        # per TERM (sidecar-precomputed), the saturation
                        # denominator is per DOC — both gathered, keeping
                        # the exact op/association order of weights.py's
                        # Catalyst expression (bit-identical). The per-doc
                        # L1/L2 norm is one bincount; a zero norm divides
                        # by 1.0 (== set_feature_values' otherwise(weight),
                        # exactly)
                        denom_acc = bm25_doc_denom(
                            dl_acc, float(sc.stats["avg_doc_len"])
                        )
                        w = bm25_weight(sc.term_idf[pos_np], tf, denom_acc[rel])
                        if norm == 1:
                            nrm = np.bincount(
                                rel, weights=np.abs(w), minlength=span
                            )
                        else:
                            nrm = np.sqrt(
                                np.bincount(rel, weights=w * w, minlength=span)
                            )
                        nrm[~(nrm > 0)] = 1.0
                t_map = _t.time()
                if tid is not None and tid.size:
                    # (term_id, doc) is unique per shard, so the composite
                    # single int64 key sorts with ONE argsort pass instead
                    # of lexsort's two stable mergesorts
                    tmax = int(tid.max())
                    if (tmax + 1) * span < (1 << 62):
                        order = np.argsort(tid * span + rel)
                    else:
                        order = np.lexsort((doc, tid))
                    t_sort = _t.time()
                    # TF payload (varbyte, ~1 B/posting): query decode
                    # rebuilds the BM25 doubles from tf + the idf
                    # sidecar + the doclen sidecar below
                    enc = _encode_runs(tid[order], doc[order], tf_i[order])
                elif tid is not None:
                    t_sort = _t.time()
                    enc = _shard_schema().empty_table()
                else:
                    t_sort = t_map
                t_enc = _t.time()
                out_dir = os.path.join(blocks_root, f"partition_id={int(pid)}")
                os.makedirs(out_dir, exist_ok=True)
                out_path = os.path.join(out_dir, "blocks.parquet")
                tmp = out_path + f".tmp{os.getpid()}"
                pq.write_table(enc, tmp, row_group_size=4096)
                # sidecar BEFORE the blocks rename: a TF-payload block
                # file must never be visible without its doc-length
                # sidecar (decode would fail); the reverse order is
                # harmless (mtime-keyed cache, orphan sidecar unused).
                # NOTE: in-place re-encode over an index that is being
                # SERVED concurrently is unsupported — between the two
                # renames a reader could pair new doc lengths with old
                # blocks. Re-encode into a fresh root and swap the root.
                if enc.num_rows:
                    _write_shard_doclen(out_dir, lo, dl_acc, nrm)
                os.replace(tmp, out_path)
                t_write = _t.time()
                yield pd.DataFrame(
                    {
                        "partition_id": pd.Series([int(pid)], dtype="int32"),
                        "n_runs": pd.Series([enc.num_rows], dtype="int64"),
                        "bytes": pd.Series(
                            [os.path.getsize(out_path)], dtype="int64"
                        ),
                        "wall_sec": pd.Series([t_write - t0], dtype="float64"),
                        "read_sec": pd.Series([t_read - t0], dtype="float64"),
                        "map_sec": pd.Series([t_map - t_read], dtype="float64"),
                        "sort_sec": pd.Series([t_sort - t_map], dtype="float64"),
                        "encode_sec": pd.Series([t_enc - t_sort], dtype="float64"),
                        "write_sec": pd.Series([t_write - t_enc], dtype="float64"),
                    }
                )

    report = fdf.mapInPandas(
        kernel,
        "partition_id int, n_runs long, bytes long, wall_sec double, "
        "read_sec double, map_sec double, sort_sec double, "
        "encode_sec double, write_sec double",
    ).collect()
    phases = {
        ph: round(sum(r[f"{ph}_sec"] for r in report), 3)
        for ph in ("read", "map", "sort", "encode", "write")
    }
    return {
        "shards": len(report),
        "blocks": int(sum(r["n_runs"] for r in report)),
        "bytes": int(sum(r["bytes"] for r in report)),
        "phase_task_sec": phases,
        "max_shard_wall_sec": round(
            max((r["wall_sec"] for r in report), default=0.0), 3
        ),
    }


# ---------------------------------------------------------------- encode

def _encode_runs(term_id: np.ndarray, doc_id: np.ndarray, tf: np.ndarray):
    """Arrow-native run encoder for one shard's postings sorted by
    (term_id, doc_id): a run starts where term_id changes. One varbyte
    pass each over the doc gaps (every run's leading gap is its absolute
    first doc id) and the TFs, and the two binary columns are built with
    ``BinaryArray.from_buffers`` over those single buffers (runs tile
    them contiguously), so no per-run Python bytes objects and no
    pandas→Arrow conversion exist anywhere. Returns a pyarrow Table
    stamped ``sg_payload=tfv2``.
    """
    import pyarrow as pa

    n = doc_id.shape[0]
    if n == 0:
        return _shard_schema().empty_table()
    new_run = np.empty(n, dtype=bool)
    new_run[0] = True
    np.not_equal(term_id[1:], term_id[:-1], out=new_run[1:])
    starts = np.flatnonzero(new_run)
    gaps = np.empty(n, dtype=np.uint64)
    np.subtract(doc_id[1:], doc_id[:-1], out=gaps[1:], casting="unsafe")
    gaps[starts] = doc_id[starts]
    cols = []
    for values in (gaps, tf):
        buf, nbytes = _varbyte_encode_arr(values)
        if buf.size > np.iinfo(np.int32).max:
            # BinaryArray offsets are int32; narrowing past 2^31 would
            # silently wrap into corrupt offsets. ~2e9 postings per shard
            # means the shard (build partition) is mis-sized.
            raise ValueError(
                f"shard posting payload exceeds int32 BinaryArray offsets "
                f"({buf.size} bytes in one column); build with more "
                "partitions so fewer postings land per shard"
            )
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nbytes, out=offs[1:])
        run_offs = np.append(offs[starts], offs[-1]).astype(np.int32)
        cols.append(pa.BinaryArray.from_buffers(
            pa.binary(), starts.size,
            [None, pa.py_buffer(run_offs), pa.py_buffer(buf)],
        ))
    return pa.Table.from_arrays(
        [
            pa.array(term_id[starts], type=pa.int64()),
            pa.array(np.diff(starts, append=n).astype(np.int32)),
            *cols,
        ],
        schema=_shard_schema(),
    )
