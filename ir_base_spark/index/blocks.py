"""Compressed posting blocks: delta-gap + varbyte, per-block max-score.

The reference keeps postings as boxed Java objects (~32 B/posting,
/root/reference/src/structures/_SparseFeature.java); at 10^12 turns the
engine instead stores term-major posting blocks, one block file per doc
shard (``blocks/partition_id=<p>/blocks.parquet``):

    (term_id, bucket, block_seq, n, first_doc, last_doc, max_weight,
     doc_gaps: binary, weights: binary)

- doc ids are dense longs ranked by (conv_id, turn_idx) — so ascending
  doc_id IS the stable turn ordering, and delta gaps are small;
- gaps are varbyte-encoded (vectorized numpy encode/decode, no per-value
  Python in the build hot path);
- the payload column carries varbyte TERM FREQUENCIES (~1 B/posting;
  the ``sg_payload=tfv1`` format). The exact BM25 double is rebuilt at
  decode from the term's IDF (terms/ sidecar) and the per-shard
  ``_doclen.npz`` sidecar (doc lengths, and the per-doc L1/L2 norm when
  the index was finalized with one) with the encoder's expression and
  operand order, so scores are bit-identical to the encoder's weights;
- ``max_weight`` per block bounds each term's score: the query
  kernel's MaxScore upper bound (query/wand.py).

Hot-term skew (SURVEY §4, §7.3): a shard is a contiguous DOC range (the
build's conv-range split), so a Zipf-head term's postings split across
every shard in proportion to the docs they live in; each shard encodes
independently with no posting-level shuffle and no merge stage.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

DEFAULT_BLOCK_SIZE = 128


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


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decoder → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    if is_last.all():
        # every byte is a standalone value (< 128): term frequencies are
        # overwhelmingly 1-2 and most delta gaps are < 128, so this
        # branch skips the grouped-accumulation path (np.add.at) that
        # dominates generic decode
        return b.astype(np.uint64)
    group = np.zeros(b.shape, dtype=np.int64)
    group[1:] = np.cumsum(is_last[:-1])
    n = int(is_last.sum())
    starts = np.zeros(n, dtype=np.int64)
    ends = np.flatnonzero(is_last)
    starts[1:] = ends[:-1] + 1
    idx_in_group = np.arange(b.size, dtype=np.int64) - starts[group]
    contrib = (b.astype(np.uint64) & np.uint64(0x7F)) << (
        np.uint64(7) * idx_in_group.astype(np.uint64)
    )
    values = np.zeros(n, dtype=np.uint64)
    np.add.at(values, group, contrib)
    return values


def _tf_weights(ids: np.ndarray, payload: bytes, meta) -> np.ndarray:
    """Exact weights of one TF payload: ``meta=(idf_t, denom, lo, nrm)``
    — the term's BM25 IDF, the shard's per-doc saturation denominator
    and its first doc id, and the per-doc norm divisor (None when the
    index has no norm). Same expression and operand order as the
    encoder (encode_shards_from_postings), so bit-identical."""
    from .weights import K1  # B is folded into the sidecar denom

    idf_t, denom, lo, nrm = meta
    tf = varbyte_decode(payload).astype(np.float64)
    w = idf_t * (tf * (K1 + 1.0) / (denom[ids - lo] + tf))
    if nrm is not None:
        w = w / nrm[ids - lo]
    return w


def decode_postings_block(
    first_doc: int, doc_gaps: bytes, payload: bytes, meta
) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, float64 weights) for one TF-payload block; ``meta`` as
    in _tf_weights."""
    gaps = varbyte_decode(doc_gaps).astype(np.int64)
    gaps[0] = first_doc
    ids = np.cumsum(gaps)
    return ids, _tf_weights(ids, payload, meta)


def decode_postings_run(
    firsts: np.ndarray,
    lasts: np.ndarray,
    gaps_list: list,
    payload_list: list,
    meta,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, float64 weights) for a whole BLOCK RUN of one term in
    one shard, decoded in ONE vectorized pass.

    Per-block decode (decode_postings_block) costs ~10 small numpy ops
    of Python dispatch per 128 postings — measured ~50µs/block, which
    made batch-query kernels decode-bound. Varbyte is self-delimiting,
    so the concatenated gap buffers decode in one shot; each block's
    leading gap is stored as 0 (first_doc rides in metadata), so
    rewriting position start_i to first_doc_i - last_doc_{i-1} makes a
    single global cumsum produce exactly the per-block cumsums.
    Weights are elementwise (_tf_weights), so per-posting results are
    bit-identical to per-block decode."""
    nb = len(gaps_list)
    if nb == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    if nb == 1:
        return decode_postings_block(
            int(firsts[0]), gaps_list[0], payload_list[0], meta
        )
    lens = np.fromiter((len(g) for g in gaps_list), dtype=np.int64, count=nb)
    concat = b"".join(gaps_list)
    b = np.frombuffer(concat, dtype=np.uint8)
    is_last = (b & 0x80) == 0
    cum_last = np.cumsum(is_last)
    byte_ends = np.cumsum(lens)
    n_per_block = np.diff(np.concatenate([[0], cum_last[byte_ends - 1]]))
    value_starts = np.concatenate(
        [[0], np.cumsum(n_per_block)[:-1]]
    ).astype(np.int64)
    g = varbyte_decode(concat).astype(np.int64)
    g[value_starts[0]] = firsts[0]
    g[value_starts[1:]] = firsts[1:] - lasts[:-1]
    ids = np.cumsum(g)
    return ids, _tf_weights(ids, b"".join(payload_list), meta)


_PAYLOAD_KEY = b"sg_payload"
_PAYLOAD_TF = b"tfv1"


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


def load_shard_doclen(shard_dir: str) -> tuple[int, np.ndarray, np.ndarray | None]:
    """(lo, doc_len int32 array, norm divisor or None) for one shard
    dir, worker-cached by mtime (Spark reuses Python workers across
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
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _DOCLEN_CACHE.get(key)
    if hit is None:
        with np.load(path) as z:
            hit = (int(z["lo"]), z["dl"], z["nrm"] if "nrm" in z else None)
        if len(_DOCLEN_CACHE) > 256:  # bound worker-resident sidecars
            _DOCLEN_CACHE.clear()
        _DOCLEN_CACHE[key] = hit
    return hit


# ------------------------------------------------------- sharded encode

def _blocks_arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("term_id", pa.int64()),
            ("bucket", pa.int32()),
            ("block_seq", pa.int32()),
            ("n", pa.int32()),
            ("first_doc", pa.int64()),
            ("last_doc", pa.int64()),
            ("max_weight", pa.float64()),
            ("doc_gaps", pa.binary()),
            ("weights", pa.binary()),
        ],
        metadata={_PAYLOAD_KEY: _PAYLOAD_TF},
    )


# per-worker memo for the small lookup tables the direct encoder needs
# (terms dictionary, conv bases, corpus stats) — loaded once per worker
# process, reused across its tasks
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


def _load_sidecars(index_root: str):
    """(terms value-set Arrow array, aligned term_id/df numpy, conv
    value-set Arrow array, aligned base numpy, stats). Lookups against
    these run through pyarrow ``index_in`` — C++ hash joins, the term
    and conv strings never become Python objects."""
    key = (index_root, _sidecar_token(index_root))
    hit = _SIDECAR_CACHE.get(key)
    if hit is not None:
        return hit
    import json as _json

    import pyarrow.parquet as pq

    terms = pq.read_table(
        os.path.join(index_root, "terms"), columns=["term", "term_id", "df"],
        use_threads=False,
    ).combine_chunks()
    term_set = terms["term"].chunk(0)
    term_ids = terms["term_id"].to_numpy().astype(np.int64, copy=False)
    term_dfs = terms["df"].to_numpy().astype(np.float64)
    b = pq.read_table(
        os.path.join(index_root, "base"), use_threads=False
    ).combine_chunks()
    conv_set = b["conv_id"].chunk(0)
    bases = b["base"].to_numpy().astype(np.int64, copy=False)
    with open(os.path.join(index_root, "stats.json")) as fh:
        stats = _json.load(fh)
    # per-term BM25 IDF precomputed ONCE per worker on the dictionary
    # domain (same inputs + op order as the per-posting expression →
    # bit-identical after the gather)
    n_docs = float(stats["n_docs"])
    term_idf = np.log((n_docs - term_dfs + 0.5) / (term_dfs + 0.5))
    hit = (term_set, term_ids, term_dfs, conv_set, bases, stats, term_idf)
    if len(_SIDECAR_CACHE) > 4:
        _SIDECAR_CACHE.clear()
    _SIDECAR_CACHE[key] = hit
    return hit


_DERIVED_CACHE: dict = {}


def load_query_sidecar_views(index_root: str):
    """Worker-cached DERIVED views for the sharded query path: the
    doc-label map (conversation bases sorted for searchsorted, conv-id
    strings aligned) and the term_id-sorted IDF lookup. Building these
    costs an argsort over the conversation table — once per worker per
    BATCH it was a measured per-worker fixed cost that grows with
    worker count (anti-scaling); keyed by the same invalidation token
    as _load_sidecars they build once per worker per index build and
    serve every subsequent batch.

    Returns ((bases_sorted, conv_arrow_sorted), (tids_sorted,
    idf_sorted), stats)."""
    key = (index_root, _sidecar_token(index_root))
    hit = _DERIVED_CACHE.get(key)
    if hit is None:
        import pyarrow as pa

        (_ts, term_ids, _td, conv_set, bases, stats, term_idf) = (
            _load_sidecars(index_root)
        )
        o = np.argsort(bases, kind="stable")
        conv_map = (bases[o], conv_set.take(pa.array(o)))
        t_o = np.argsort(term_ids)
        idf_lut = (term_ids[t_o], term_idf[t_o])
        hit = (conv_map, idf_lut, stats)
        if len(_DERIVED_CACHE) > 4:
            _DERIVED_CACHE.clear()
        _DERIVED_CACHE[key] = hit
    return hit


def encode_shards_from_postings(
    spark,
    index_root: str,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> dict:
    """Blocks straight from the tokenize output — the posting stream is
    materialized ONCE in the whole pipeline, and posting bytes never
    cross the JVM↔Python socket.

    Requires manifest.finalize_lite (terms/, base/, stats.json). Each
    task receives only a shard PATH, reads the shard's raw postings
    parquet with pyarrow, maps term→(id, df) and conv→doc-id base
    through per-worker-cached sidecar tables (C-level hash joins — the
    dictionary is ~MBs, the conv base is conversation-level), recomputes
    doc_len over RETAINED terms (exactly build_index's pruning
    semantics; equal to the stored length when nothing is pruned),
    computes BM25 vectorized (bit-identical to
    weights.set_feature_values), divides by the per-doc L1/L2 norm when
    stats.json records one (the same ``denom > 0`` rule), sorts
    (term_id, doc_id) and writes the shard's block file plus its
    ``_doclen.npz`` sidecar.
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
                (term_set, term_ids, term_dfs, conv_set, bases, stats,
                 term_idf) = _load_sidecars(index_root)
                tbl = pq.read_table(
                    path,
                    columns=["conv_id", "turn_idx", "term", "tf"],
                    use_threads=False,
                    read_dictionary=["conv_id", "term"],
                ).combine_chunks()
                t_read = _t.time()
                if tbl.num_rows == 0:
                    enc = _blocks_arrow_schema().empty_table()
                    tid = doc = w = None
                else:
                    # dictionary semi-join in C++: position of each
                    # posting's term in the terms value set (null =
                    # pruned/unknown)
                    pos = positions_in(tbl.column("term").chunk(0), term_set)
                    # positions stay int32 (half the gather-index traffic;
                    # numpy fancy indexing takes int32 indices directly)
                    pos_np = pc.fill_null(pos, -1).to_numpy()
                    cpos_arr = positions_in(
                        tbl.column("conv_id").chunk(0), conv_set
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
                    tid = term_ids[pos_np]
                    doc = bases[cpos] + turn
                    # doc_len over retained terms (pruning-consistent):
                    # dense local doc index -> one bincount pass
                    lo = int(doc.min()) if doc.size else 0
                    span = (int(doc.max()) - lo + 1) if doc.size else 0
                    rel = doc - lo
                    dl_acc = np.bincount(rel, weights=tf, minlength=span)
                    # BM25, factored onto the small domains: IDF is per
                    # TERM (sidecar-precomputed), the saturation
                    # denominator is per DOC — both gathered, keeping the
                    # exact op/association order of weights.py's Catalyst
                    # expression (bit-identical; only the domain the ops
                    # run over shrinks ~30x)
                    from .weights import B as _B, K1 as _K1

                    avg = float(stats["avg_doc_len"])
                    denom_acc = _K1 * ((1.0 - _B) + _B * (dl_acc / avg))
                    w = term_idf[pos_np] * (
                        tf * (_K1 + 1.0) / (denom_acc[rel] + tf)
                    )
                    nrm = None
                    if norm:
                        # per-doc L1/L2 norm over the retained postings,
                        # one bincount; a zero norm divides by 1.0 (==
                        # set_feature_values' otherwise(weight), exactly)
                        if norm == 1:
                            nrm = np.bincount(
                                rel, weights=np.abs(w), minlength=span
                            )
                        else:
                            nrm = np.sqrt(
                                np.bincount(rel, weights=w * w, minlength=span)
                            )
                        nrm[~(nrm > 0)] = 1.0
                        w = w / nrm[rel]
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
                    # TF payload (varbyte, ~1 B/posting): the float64
                    # weights feed only max_weight; query decode
                    # reconstructs the identical doubles from
                    # tf + idf sidecar + the doclen sidecar below
                    enc = _encode_sorted_run_arrow(
                        tid[order], int(pid), doc[order], w[order],
                        block_size, tf_i[order],
                    )
                elif tid is not None:
                    t_sort = _t.time()
                    enc = _blocks_arrow_schema().empty_table()
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
                        "n_blocks": pd.Series([enc.num_rows], dtype="int64"),
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
        "partition_id int, n_blocks long, bytes long, wall_sec double, "
        "read_sec double, map_sec double, sort_sec double, "
        "encode_sec double, write_sec double",
    ).collect()
    phases = {
        ph: round(sum(r[f"{ph}_sec"] for r in report), 3)
        for ph in ("read", "map", "sort", "encode", "write")
    }
    return {
        "shards": len(report),
        "blocks": int(sum(r["n_blocks"] for r in report)),
        "bytes": int(sum(r["bytes"] for r in report)),
        "block_size": block_size,
        "phase_task_sec": phases,
        "max_shard_wall_sec": round(
            max((r["wall_sec"] for r in report), default=0.0), 3
        ),
    }


# ---------------------------------------------------------------- encode

def _block_layout(
    term_id: np.ndarray,
    doc_id: np.ndarray,
    weight: np.ndarray,
    block_size: int,
):
    """Block-splitting + varbyte pass over one shard's sorted run.

    Input arrays are sorted by (term_id, doc_id). Returns (starts, ends,
    block_seq, max_w, gap_bytes ndarray, per-posting byte offsets) —
    blocks tile the run contiguously (ends[i] == starts[i+1]), so both
    the gap buffer and the payload buffer slice by offsets with no
    per-block copies.
    """
    n = doc_id.shape[0]
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    np.not_equal(term_id[1:], term_id[:-1], out=new_group[1:])
    # in-place passes (the shard kernels run many of these concurrently;
    # every avoided temporary is real memory-bus headroom)
    pos_in_group = np.arange(n, dtype=np.int64)
    group_start = np.where(new_group, pos_in_group, 0)
    np.maximum.accumulate(group_start, out=group_start)
    pos_in_group -= group_start
    del group_start
    if block_size & (block_size - 1) == 0:
        block_start_mask = (pos_in_group & (block_size - 1)) == 0
    else:
        block_start_mask = (pos_in_group % block_size) == 0
    starts = np.flatnonzero(block_start_mask)
    ends = np.empty(starts.shape, dtype=np.int64)
    ends[:-1] = starts[1:]
    ends[-1] = n

    # delta-gap with a 0 at every block start (first_doc carried absolutely)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    np.subtract(doc_id[1:], doc_id[:-1], out=gaps[1:], casting="unsafe")
    gaps[starts] = 0

    # one varbyte pass over the whole run
    buf, nbytes = _varbyte_encode_arr(gaps)
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offs[1:])

    max_w = np.maximum.reduceat(weight, starts)
    block_seq = (pos_in_group[starts] // block_size).astype(np.int32)
    return starts, ends, block_seq, max_w, buf, offs


def _encode_sorted_run_arrow(
    term_id: np.ndarray,
    bucket_id: int,
    doc_id: np.ndarray,
    weight: np.ndarray,
    block_size: int,
    tf: np.ndarray,
):
    """Arrow-native block encoder for one shard's run sorted by
    (term_id, doc_id): the two binary columns are built with
    ``BinaryArray.from_buffers`` over the single varbyte gap / TF
    buffers (blocks tile the run contiguously), so NO per-block Python
    bytes objects and no pandas→Arrow conversion exist anywhere —
    measured, that conversion was a flat (non-scaling) term of the old
    encode kernel. Returns a pyarrow Table stamped
    ``sg_payload=tfv1``; ``weight`` feeds only the exact per-block
    max_weight pruning bound (decode rebuilds the identical doubles
    from ``tf`` + sidecars).
    """
    import pyarrow as pa

    schema = _blocks_arrow_schema()
    n = doc_id.shape[0]
    if n == 0:
        return schema.empty_table()
    starts, ends, block_seq, max_w, buf_arr, offs = _block_layout(
        term_id, doc_id, weight, block_size
    )
    nb = len(starts)
    total_gap_bytes = int(offs[-1])
    tf_buf, tf_nbytes = _varbyte_encode_arr(tf)
    tf_offs_all = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tf_nbytes, out=tf_offs_all[1:])
    if max(total_gap_bytes, int(tf_offs_all[-1])) > np.iinfo(np.int32).max:
        # BinaryArray offsets are int32; narrowing past 2^31 would
        # silently wrap into corrupt offsets. ~2e9 postings per shard
        # means the shard (build partition) is mis-sized.
        raise ValueError(
            f"shard posting payload exceeds int32 BinaryArray offsets "
            f"({total_gap_bytes} gap bytes, {int(tf_offs_all[-1])} tf "
            "bytes); build with more partitions so fewer postings land "
            "per shard"
        )
    gap_offs = np.empty(nb + 1, dtype=np.int32)
    gap_offs[:-1] = offs[starts]
    gap_offs[-1] = total_gap_bytes
    gaps_col = pa.BinaryArray.from_buffers(
        pa.binary(), nb, [None, pa.py_buffer(gap_offs), pa.py_buffer(buf_arr)]
    )
    w_offs = np.empty(nb + 1, dtype=np.int32)
    w_offs[:-1] = tf_offs_all[starts]
    w_offs[-1] = int(tf_offs_all[-1])
    weights_col = pa.BinaryArray.from_buffers(
        pa.binary(), nb, [None, pa.py_buffer(w_offs), pa.py_buffer(tf_buf)]
    )
    return pa.Table.from_arrays(
        [
            pa.array(term_id[starts], type=pa.int64()),
            pa.array(np.full(nb, bucket_id, dtype=np.int32), type=pa.int32()),
            pa.array(block_seq, type=pa.int32()),
            pa.array((ends - starts).astype(np.int32), type=pa.int32()),
            pa.array(doc_id[starts], type=pa.int64()),
            pa.array(doc_id[ends - 1], type=pa.int64()),
            pa.array(max_w, type=pa.float64()),
            gaps_col,
            weights_col,
        ],
        schema=schema,
    )
