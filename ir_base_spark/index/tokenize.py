"""Spark-side tokenization: transcripts → per-(turn, term) TF postings.

One Arrow pass does tokenize → normalize → stem → n-gram → per-doc TF
counting (the reference's per-thread analyze+count,
/root/reference/src/Analyzer/DocAnalyzer.java:377-423 and
MultiThreadedUserAnalyzer.java:77-130), emitting already-aggregated
(doc, term, tf) rows. Because a turn's tokens never cross a partition,
TF needs NO shuffle — this is the document-sharded build phase; only the
dictionary/stats aggregation that follows shuffles, and it shuffles
pre-aggregated (doc, term) rows, not raw tokens.

Kernel shape (the build hot path): the default unigram analyzers run as
a ``mapInArrow`` kernel — batches never become pandas; the
per-character work (token-boundary regex split, flatten,
distinct-encoding) is Arrow C++, Python analyzes only DISTINCT coarse
tokens through the per-worker memo (Zipf text → the NFKC+stem cost is
amortized to near zero), and TF/doc_len/head come from one
composite-key numpy pass (_postings_batch, shared with the n-gram
kernel). ngrams >= 2 builds run the same way (_arrow_ngram_batch:
whitespace-chunk split in Arrow, distinct-chunk event memo, vectorized
window cascade) — there is no per-row Python on any build path.
_vectorized_unigram_batch and _pandas_ngram_partition are the retained
reference implementations the parity suite checks against.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

POSTINGS_ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("term", pa.string()),
        ("tf", pa.float64()),
        ("doc_len", pa.float64()),
        ("is_doc_head", pa.int32()),
    ]
)
POSTINGS_SCHEMA = from_arrow_schema(POSTINGS_ARROW_SCHEMA)

_EMPTY = {
    "conv_id": pd.Series([], dtype="object"),
    "turn_idx": pd.Series([], dtype="int32"),
    "term": pd.Series([], dtype="object"),
    "tf": pd.Series([], dtype="float64"),
    "doc_len": pd.Series([], dtype="float64"),
    "is_doc_head": pd.Series([], dtype="int32"),
}


def _vectorized_unigram_batch(
    pdf: pd.DataFrame,
    text_col: str,
    analyzer: str,
    min_distinct_terms: int,
) -> pd.DataFrame:
    """Batch-level tokenize+count for ngrams=1 (reference or simple)."""
    texts = pdf[text_col].astype("string").fillna("")
    if analyzer == "simple":
        toks = texts.str.lower().str.findall(r"[a-z0-9]+")
    else:
        from ir_base_spark.text.analyze import TOKEN_RE

        toks = texts.str.normalize("NFKC").str.findall(TOKEN_RE)
    flat = toks.explode()
    flat = flat[flat.notna()]
    if len(flat) == 0:
        return pd.DataFrame(_EMPTY)

    if analyzer == "simple":
        mapped = flat
    else:
        from ir_base_spark.text.analyze import _analyze_token

        # analyze each DISTINCT raw token once (memoized per worker);
        # non-legit / empty-normalized tokens map to absent -> dropped
        lookup: dict[str, str] = {}
        for raw in pd.unique(flat):
            hit = _analyze_token(raw)
            if hit is not None and hit[1]:
                lookup[raw] = hit[0]
        mapped = flat.map(lookup)
        mapped = mapped[mapped.notna()]
        if len(mapped) == 0:
            return pd.DataFrame(_EMPTY)

    # TF per (input row, term): one C-level groupby over the flat stream
    g = (
        pd.DataFrame({"i": mapped.index, "term": mapped.values})
        .groupby(["i", "term"], sort=False)
        .size()
        .reset_index(name="tf")
    )
    per_doc = g.groupby("i", sort=False)["tf"].agg(["sum", "size"])
    keep = per_doc[per_doc["size"] > min_distinct_terms]
    if len(keep) == 0:
        return pd.DataFrame(_EMPTY)
    g = g[g["i"].isin(keep.index)]
    i = g["i"].to_numpy()
    head = np.empty(len(g), dtype=np.int32)
    head[0] = 1
    head[1:] = (i[1:] != i[:-1]).astype(np.int32)
    dl = keep["sum"].astype("float64")
    return pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].to_numpy()[i],
            "turn_idx": pdf["turn_idx"].to_numpy().astype("int32")[i],
            "term": g["term"].to_numpy(),
            "tf": g["tf"].to_numpy(dtype="float64"),
            "doc_len": dl.reindex(i).to_numpy(),
            # exactly one head row per turn: lets every consumer
            # count/collect docs without a distinct or groupBy
            "is_doc_head": head,
        }
    )


def _empty_postings():
    return pa.RecordBatch.from_pylist([], schema=POSTINGS_ARROW_SCHEMA)


def _postings_batch(batch, rows, fids, terms: list, min_distinct_terms: int):
    """Postings of one input RecordBatch from its token stream: token j
    is term ``terms[fids[j]]`` in row ``rows[j]`` of ``batch``.

    TF per (row, term) comes from one sorted-unique pass over a
    composite int key; rows with <= min_distinct_terms distinct terms
    are dropped; doc_len is the row's Σ tf and exactly one output row
    per doc carries is_doc_head = 1."""
    import pyarrow.compute as pc

    if rows.size == 0:
        return _empty_postings()
    nf = len(terms)
    key = rows * nf + fids
    ukey, counts = np.unique(key, return_counts=True)
    ui = ukey // nf
    uf = ukey % nf
    # per-doc distinct-term count + analyzed length (rows of one doc are
    # contiguous in the sorted key order)
    _, inv = np.unique(ui, return_inverse=True)
    sizes = np.bincount(inv)
    sums = np.bincount(inv, weights=counts)
    sel = (sizes > min_distinct_terms)[inv]
    if not sel.all():
        ui = ui[sel]
        uf = uf[sel]
        counts = counts[sel]
        inv = inv[sel]
    if ui.size == 0:
        return _empty_postings()
    # exactly one head row per doc: lets every consumer count/collect
    # docs without a distinct or groupBy
    head = np.empty(ui.shape, dtype=np.int32)
    head[0] = 1
    head[1:] = (ui[1:] != ui[:-1]).astype(np.int32)

    rows_idx = pa.array(ui)
    return pa.RecordBatch.from_arrays(
        [
            pc.take(batch.column("conv_id"), rows_idx),
            pc.cast(pc.take(batch.column("turn_idx"), rows_idx), pa.int32()),
            pc.take(pa.array(terms, type=pa.string()), pa.array(uf)),
            pa.array(counts.astype(np.float64)),
            pa.array(sums[inv]),
            pa.array(head),
        ],
        schema=POSTINGS_ARROW_SCHEMA,
    )


_COARSE_CACHE: dict[str, dict[str, tuple[str, ...]]] = {}


# separator-category chars whose NFKC expansion CONTAINS word chars
# (™ -> "tm", № -> "No", circled letters, CJK compat squares, ...):
# they must stay inside coarse tokens so the per-token NFKC + precise
# re-tokenization reproduces the full-text-NFKC token stream exactly.
# Generated from unicodedata (Unicode version pinned by the container);
# 900 code points in 31 ranges.
_NFKC_WORDISH = (
    r"\x{20A8}\x{2100}-\x{2101}\x{2103}\x{2105}-\x{2106}\x{2109}"
    r"\x{2116}\x{2120}-\x{2122}\x{213B}\x{249C}-\x{24E9}\x{2E9F}"
    r"\x{2EF3}\x{2F00}-\x{2FD5}\x{3196}-\x{319F}\x{3200}-\x{321E}"
    r"\x{322A}-\x{3247}\x{3250}\x{3260}-\x{327E}\x{328A}-\x{32B0}"
    r"\x{32C0}-\x{33FF}\x{FDFC}\x{FE33}-\x{FE34}\x{FE4D}-\x{FE4F}"
    r"\x{FF3F}\x{1F110}-\x{1F12E}\x{1F130}-\x{1F14F}"
    r"\x{1F16A}-\x{1F16C}\x{1F190}\x{1F200}-\x{1F202}"
    r"\x{1F210}-\x{1F23B}\x{1F240}-\x{1F248}\x{1F250}-\x{1F251}"
)

# RE2 split class over RAW text: Python's \w is exactly [\p{L}\p{N}_];
# marks (\p{M}) stay attached so combining sequences never split before
# the per-token NFKC composes them; apostrophe glues TOKEN_RE word
# chains; _NFKC_WORDISH keeps compatibility-expanding chars inside.
COARSE_SPLIT_RE2 = r"[^\p{L}\p{N}\p{M}_'" + _NFKC_WORDISH + "]+"


def _analyze_coarse(raw: str, analyzer: str) -> tuple[str, ...]:
    """Final legit stems of ONE coarse token (see _arrow_unigram_batch):
    NFKC (full-text order: normalize precedes tokenization), then the
    precise TOKEN_RE re-tokenization + normalize/stem/filter — on
    DISTINCT coarse tokens only. Apostrophe edge cases like ``a''b``
    (two word tokens under TOKEN_RE, one coarse token under the C++
    split) and compatibility expansions (½ -> 1⁄2 -> two length-1
    digit tokens) resolve exactly as the per-text Python path would."""
    import unicodedata

    from ir_base_spark.text.analyze import TOKEN_RE, _analyze_token

    out = []
    for tok in TOKEN_RE.findall(unicodedata.normalize("NFKC", raw)):
        hit = _analyze_token(tok)
        if hit is not None and hit[1]:
            out.append(hit[0])
    return tuple(out)


def _arrow_unigram_batch(
    batch, text_col: str, analyzer: str, min_distinct_terms: int
):
    """Arrow-native tokenize+count for one RecordBatch (ngrams=1).

    The per-character work — NFKC normalize, token-boundary regex,
    flatten, distinct-encoding — runs in Arrow C++ over the batch
    (pandas ``.str`` ops are per-row Python under the hood: measured 3x
    slower, and they materialize every text and token as a Python
    object, which is exactly the allocation/bus traffic the build's
    scaling lacks headroom for). Python touches only DISTINCT coarse
    tokens (memoized per worker, Zipf → amortized to ~zero).

    Coarse split class COARSE_SPLIT_RE2 == the complement of Python's
    ``\\w`` plus apostrophe, marks and NFKC-wordish chars: a TOKEN_RE
    word token never spans a split point (word tokens are [\\w'] runs),
    punctuation-run tokens die in normalization anyway, and any
    apostrophe-glued compound or compatibility expansion is re-tokenized
    precisely in _analyze_coarse — output is exactly the pandas path's
    (asserted by tests/test_tokenize_arrow.py).
    """
    import pyarrow.compute as pc

    text = pc.fill_null(batch.column(text_col), "")
    if analyzer == "simple":
        split = pc.split_pattern_regex(pc.utf8_lower(text), pattern="[^a-z0-9]+")
    else:
        # split RAW text (pyarrow's utf8_normalize emits decomposed
        # output even for NFKC — unusable); _analyze_coarse applies the
        # real NFKC per distinct token, and COARSE_SPLIT_RE2 is built so
        # raw boundaries are also post-NFKC token boundaries
        split = pc.split_pattern_regex(text, pattern=COARSE_SPLIT_RE2)
    flat = pc.list_flatten(split)
    parent = pc.list_parent_indices(split)
    ne = pc.not_equal(flat, "")
    flat = pc.filter(flat, ne)
    parent = pc.filter(parent, ne)
    if len(flat) == 0:
        return _empty_postings()
    d = pc.dictionary_encode(flat)
    dict_vals = d.dictionary.to_pylist()

    final_ids: dict[str, int] = {}
    final_terms: list[str] = []
    map_single = np.empty(len(dict_vals), dtype=np.int64)
    multi: dict[int, list[int]] = {}
    if analyzer == "simple":
        # simple tokens pass through unanalyzed (SQL-equivalent mode)
        final_terms = dict_vals
        map_single = np.arange(len(dict_vals), dtype=np.int64)
    else:
        cache = _COARSE_CACHE.setdefault(analyzer, {})
        for di, raw in enumerate(dict_vals):
            stems = cache.get(raw)
            if stems is None:
                if len(cache) > 2_000_000:
                    cache.clear()
                stems = _analyze_coarse(raw, analyzer)
                cache[raw] = stems
            if len(stems) == 1:
                s = stems[0]
                fid = final_ids.setdefault(s, len(final_terms))
                if fid == len(final_terms):
                    final_terms.append(s)
                map_single[di] = fid
            elif not stems:
                map_single[di] = -1
            else:
                fids = []
                for s in stems:
                    fid = final_ids.setdefault(s, len(final_terms))
                    if fid == len(final_terms):
                        final_terms.append(s)
                    fids.append(fid)
                map_single[di] = -2
                multi[di] = fids

    tok_di = d.indices.to_numpy().astype(np.int64, copy=False)
    tok_row = parent.to_numpy().astype(np.int64, copy=False)
    fid = map_single[tok_di]
    keep = fid >= 0
    row_k = tok_row[keep]
    fid_k = fid[keep]
    if multi:
        er: list[int] = []
        ef: list[int] = []
        for p in np.flatnonzero(fid == -2):
            r = int(tok_row[p])
            for f in multi[int(tok_di[p])]:
                er.append(r)
                ef.append(f)
        row_k = np.concatenate([row_k, np.asarray(er, dtype=np.int64)])
        fid_k = np.concatenate([fid_k, np.asarray(ef, dtype=np.int64)])
    return _postings_batch(batch, row_k, fid_k, final_terms, min_distinct_terms)


_CHUNK_EVENT_CACHE: dict[str, tuple] = {}


def _analyze_chunk_events(raw: str) -> tuple:
    """Event stream of ONE whitespace-delimited chunk under the
    reference analyzer: for each TOKEN_RE token of NFKC(chunk), either
    the legit stem (str), False (non-legit token: blocks any n-gram
    containing it but emits nothing), or None (empty-normalized token:
    the chain-break RESET of analyze()'s window). Unlike the unigram
    coarse class — which deliberately discards punctuation runs — the
    n-gram kernel must SEE them, because a punctuation token between
    two words resets the window and suppresses the bigram."""
    import unicodedata

    from ir_base_spark.text.analyze import TOKEN_RE, _analyze_token

    ev = []
    for tok in TOKEN_RE.findall(unicodedata.normalize("NFKC", raw)):
        hit = _analyze_token(tok)
        if hit is None:
            ev.append(None)
        elif hit[1]:
            ev.append(hit[0])
        else:
            ev.append(False)
    return tuple(ev)


def _arrow_ngram_batch(batch, text_col: str, ngrams: int, min_distinct_terms: int):
    """Arrow-native tokenize+count for the reference analyzer with
    ngrams >= 2 — replaces the per-row Python chain-break loop.

    Split on ASCII whitespace runs in Arrow C++ (RE2). TOKEN_RE tokens
    can never span whitespace (both alternatives exclude ``\\s``), and
    NFKC never composes across a whitespace boundary, so the
    concatenation of per-chunk token streams IS the full-text token
    stream — including the punctuation tokens that reset the n-gram
    window (see _analyze_chunk_events). Python analyzes only DISTINCT
    chunks through the per-worker memo; the window itself is evaluated
    VECTORIZED over the flattened event arrays: an n-gram exists at
    event position j iff the n events ending at j are all legit tokens
    of the same row (a reset/blocker anywhere in the window kills it —
    exactly analyze()'s semantics, since windows are contiguous), and
    gram strings are built once per DISTINCT (prefix-gram, stem) pair
    via a cascade, never per emission.
    """
    import pyarrow.compute as pc

    text = pc.fill_null(batch.column(text_col), "")
    split = pc.split_pattern_regex(text, pattern=r"\s+")
    flat = pc.list_flatten(split)
    parent = pc.list_parent_indices(split)
    ne = pc.not_equal(flat, "")
    flat = pc.filter(flat, ne)
    parent = pc.filter(parent, ne)
    if len(flat) == 0:
        return _empty_postings()
    d = pc.dictionary_encode(flat)
    dict_vals = d.dictionary.to_pylist()

    # distinct-chunk event streams -> one flat fid array + offsets
    # (fid >= 0 legit stem, -2 blocker, -1 reset)
    final_ids: dict[str, int] = {}
    terms_all: list[str] = []
    ev_parts: list[np.ndarray] = []
    ev_off = np.empty(len(dict_vals) + 1, dtype=np.int64)
    ev_off[0] = 0
    for di, raw in enumerate(dict_vals):
        events = _CHUNK_EVENT_CACHE.get(raw)
        if events is None:
            if len(_CHUNK_EVENT_CACHE) > 2_000_000:
                _CHUNK_EVENT_CACHE.clear()
            events = _analyze_chunk_events(raw)
            _CHUNK_EVENT_CACHE[raw] = events
        arr = np.empty(len(events), dtype=np.int64)
        for k, e in enumerate(events):
            if e is None:
                arr[k] = -1
            elif e is False:
                arr[k] = -2
            else:
                fid = final_ids.setdefault(e, len(terms_all))
                if fid == len(terms_all):
                    terms_all.append(e)
                arr[k] = fid
        ev_parts.append(arr)
        ev_off[di + 1] = ev_off[di] + len(arr)
    big = (
        np.concatenate(ev_parts) if ev_parts else np.empty(0, dtype=np.int64)
    )
    ev_len = np.diff(ev_off)

    # expand chunk instances (in text order) into the batch event stream
    tok_di = d.indices.to_numpy().astype(np.int64, copy=False)
    tok_row = parent.to_numpy().astype(np.int64, copy=False)
    L = ev_len[tok_di]
    total = int(L.sum())
    if total == 0:
        return _empty_postings()
    cum = np.cumsum(L)
    base = np.repeat(cum - L, L)
    within = np.arange(total, dtype=np.int64) - base
    idx = np.repeat(ev_off[tok_di], L) + within
    ev = big[idx]
    row = np.repeat(tok_row, L)

    ok = ev >= 0
    em_rows = [row[ok]]
    em_tids = [ev[ok]]

    # n-gram cascade: win_ok[j] / g[j] describe the n-window ending at j
    g = ev
    win_ok = ok
    for _n in range(2, ngrams + 1):
        new_ok = np.zeros_like(ok)
        new_ok[1:] = win_ok[:-1] & ok[1:] & (row[1:] == row[:-1])
        jj = np.flatnonzero(new_ok)
        if jj.size == 0:
            break
        pairs = np.stack([g[jj - 1], ev[jj]], axis=1)
        upairs, inv = np.unique(pairs, axis=0, return_inverse=True)
        base_id = len(terms_all)
        for a, b in upairs:
            terms_all.append(terms_all[int(a)] + "-" + terms_all[int(b)])
        gid = base_id + inv
        g_new = np.full(ev.shape, -1, dtype=np.int64)
        g_new[jj] = gid
        em_rows.append(row[jj])
        em_tids.append(gid)
        g = g_new
        win_ok = new_ok

    return _postings_batch(
        batch,
        np.concatenate(em_rows),
        np.concatenate(em_tids),
        terms_all,
        min_distinct_terms,
    )


def tokenize_turns(
    transcripts: DataFrame,
    ngrams: int = 1,
    min_distinct_terms: int = 0,
    text_col: str = "text",
    analyzer: str = "reference",
) -> DataFrame:
    """transcripts(conv_id, turn_idx, text, ...) → raw postings.

    Output: one row per (conv_id, turn_idx, term) with the term frequency
    and the turn's total analyzed length (Σ tf — _DocBase.m_totalLength,
    /root/reference/src/structures/_DocBase.java:129-134). Turns with
    <= min_distinct_terms distinct terms are dropped BEFORE any corpus
    statistics (declarative reordering of the reference's rollBack,
    /root/reference/src/Analyzer/Analyzer.java:156-186).
    """
    cols = ["conv_id", "turn_idx", text_col]
    # the simple analyzer has no n-gram mode (term_counts ignores
    # ngrams for it), so it always takes the unigram kernel
    if ngrams == 1 or analyzer == "simple":
        # Arrow-native hot path: the input batches never become pandas
        # (no Python string materialization for texts or tokens)
        def arrow_partition(batches):
            for batch in batches:
                yield _arrow_unigram_batch(
                    batch, text_col, analyzer, min_distinct_terms
                )

    else:

        def arrow_partition(batches):
            for batch in batches:
                yield _arrow_ngram_batch(
                    batch, text_col, ngrams, min_distinct_terms
                )

    return transcripts.select(*cols).mapInArrow(
        arrow_partition, schema=POSTINGS_SCHEMA
    )


def _pandas_ngram_partition(
    transcripts: DataFrame,
    ngrams: int,
    min_distinct_terms: int = 0,
    text_col: str = "text",
    analyzer: str = "reference",
) -> DataFrame:
    """Retained per-row reference implementation of the n-gram build
    (the parity suite checks the Arrow kernel against it; not a
    production route)."""
    cols = ["conv_id", "turn_idx", text_col]

    def analyze_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ir_base_spark.text.analyze import term_counts

        for pdf in batches:
            # n-gram path: sequential chain-break window per turn
            conv_ids: list[str] = []
            turn_idxs: list[int] = []
            terms: list[str] = []
            tfs: list[float] = []
            dls: list[float] = []
            heads: list[int] = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].values, pdf["turn_idx"].values, pdf[text_col].values
            ):
                tc = term_counts(
                    text if isinstance(text, str) else "",
                    ngrams=ngrams,
                    analyzer=analyzer,
                )
                if len(tc) <= min_distinct_terms:
                    continue
                dl = float(sum(tc.values()))
                for i, (term, tf) in enumerate(tc.items()):
                    conv_ids.append(conv_id)
                    turn_idxs.append(int(turn_idx))
                    terms.append(term)
                    tfs.append(float(tf))
                    dls.append(dl)
                    heads.append(1 if i == 0 else 0)
            yield pd.DataFrame(
                {
                    "conv_id": pd.Series(conv_ids, dtype="object"),
                    "turn_idx": pd.Series(turn_idxs, dtype="int32"),
                    "term": pd.Series(terms, dtype="object"),
                    "tf": pd.Series(tfs, dtype="float64"),
                    "doc_len": pd.Series(dls, dtype="float64"),
                    "is_doc_head": pd.Series(heads, dtype="int32"),
                }
            )

    return transcripts.select(*cols).mapInPandas(
        analyze_partition, schema=POSTINGS_SCHEMA
    )
