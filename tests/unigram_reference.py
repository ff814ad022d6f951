"""Batch-level pandas tokenize+count for ngrams=1: the reference that
tests/test_tokenize_arrow.py checks the Arrow unigram kernel
(``index.tokenize._arrow_unigram_batch``) against."""

from __future__ import annotations

import numpy as np
import pandas as pd

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
