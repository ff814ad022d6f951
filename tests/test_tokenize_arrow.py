"""The Arrow-native tokenize kernel must produce EXACTLY the pandas
path's postings — same (conv, turn, term, tf, doc_len) multiset and one
head row per doc — including apostrophe/punctuation edge cases where
the C++ coarse split groups differently than TOKEN_RE."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from ir_base_spark.index.tokenize import _arrow_unigram_batch
from tests.unigram_reference import _vectorized_unigram_batch

EDGE_TEXTS = [
    "the cat sat on the mat",
    "don't you're it's can't",          # internal apostrophes
    "a''b don''t x'''y",                # double-apostrophe splits (TOKEN_RE)
    "'quoted' ''double'' '",            # leading/trailing apostrophes
    "!?a !! ... !'! a!b",               # punctuation runs incl. ' inside
    "Über Café naïve résumé",           # NFKC + unicode word chars
    "numbers 123 45x 0 9999999",        # NUM folding
    "    ",                             # whitespace only
    "",                                 # empty
    "aa " * 40,                         # repeated token
    "x",                                # single char (dropped by legit)
    "supercalifragilisticexpialidocious antidisestablishmentarianism",
    "brand™ x™y №5 ℠mark",               # NFKC-wordish separators join
    "half ½ mixed ¾x ﬁligree ﬂow",       # compat fractions + ligatures
    "combining café näive",  # decomposed input composes
]


def _norm(pdf: pd.DataFrame):
    rows = sorted(
        (r.conv_id, int(r.turn_idx), r.term, float(r.tf), float(r.doc_len))
        for r in pdf.itertuples()
    )
    heads = (
        pdf.groupby(["conv_id", "turn_idx"])["is_doc_head"].sum().to_dict()
    )
    return rows, heads


def _both(analyzer: str):
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(EDGE_TEXTS))],
            "turn_idx": list(range(len(EDGE_TEXTS))),
            "text": EDGE_TEXTS,
        }
    ).astype({"turn_idx": "int32"})
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    old = _vectorized_unigram_batch(pdf, "text", analyzer, 0)
    new = _arrow_unigram_batch(batch, "text", analyzer, 0).to_pandas()
    return old, new


def test_arrow_matches_pandas_reference():
    old, new = _both("reference")
    ro, ho = _norm(old)
    rn, hn = _norm(new)
    assert ro == rn
    assert ho == hn
    assert all(v == 1 for v in hn.values())
    assert len(rn) > 0


def test_arrow_matches_pandas_simple():
    old, new = _both("simple")
    ro, ho = _norm(old)
    rn, hn = _norm(new)
    assert ro == rn
    assert ho == hn


def test_arrow_min_distinct_terms():
    pdf = pd.DataFrame(
        {
            "conv_id": ["a", "b"],
            "turn_idx": [0, 0],
            "text": ["single", "many different words here now"],
        }
    ).astype({"turn_idx": "int32"})
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    old = _vectorized_unigram_batch(pdf, "text", "reference", 2)
    new = _arrow_unigram_batch(batch, "text", "reference", 2).to_pandas()
    assert _norm(old) == _norm(new)
    assert set(new["conv_id"]) == {"b"}


def _expected_ngram(texts, ngrams, min_distinct=0):
    """Per-row reference: term_counts (the analyze() chain-break window)."""
    from ir_base_spark.text.analyze import term_counts

    rows = []
    heads = {}
    for i, text in enumerate(texts):
        tc = term_counts(text or "", ngrams=ngrams, analyzer="reference")
        if len(tc) <= min_distinct:
            continue
        dl = float(sum(tc.values()))
        heads[(f"c{i:03d}", i)] = 1
        for term, tf in tc.items():
            rows.append((f"c{i:03d}", i, term, float(tf), dl))
    return sorted(rows), heads


def _run_ngram_kernel(texts, ngrams, min_distinct=0):
    from ir_base_spark.index.tokenize import _arrow_ngram_batch

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:03d}" for i in range(len(texts))],
            "turn_idx": list(range(len(texts))),
            "text": texts,
        }
    ).astype({"turn_idx": "int32"})
    batch = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    out = _arrow_ngram_batch(batch, "text", ngrams, min_distinct).to_pandas()
    return _norm(out)


def test_arrow_ngram_matches_reference_edges():
    for n in (2, 3):
        got_rows, got_heads = _run_ngram_kernel(EDGE_TEXTS, n)
        want_rows, want_heads = _expected_ngram(EDGE_TEXTS, n)
        assert got_rows == want_rows, f"ngrams={n}"
        assert got_heads == want_heads


def test_arrow_ngram_resets_on_punctuation():
    """'foo, bar' must NOT produce the foo-bar bigram (the comma token
    empty-normalizes and resets the window); 'foo bar' must."""
    got_rows, _ = _run_ngram_kernel(["foo bar", "foo, bar"], 2)
    terms0 = {t for c, i, t, tf, dl in got_rows if i == 0}
    terms1 = {t for c, i, t, tf, dl in got_rows if i == 1}
    assert "foo-bar" in terms0
    assert "foo-bar" not in terms1


def test_arrow_ngram_fuzz_random_texts():
    import random

    rnd = random.Random(77)
    words = ["alpha", "beta", "x", "the", "running", "123", "café", "don't"]
    seps = [" ", " ", ", ", "! ", " .. ", "\t", "  "]
    texts = []
    for _ in range(60):
        k = rnd.randint(0, 12)
        parts = []
        for _j in range(k):
            parts.append(rnd.choice(words))
            parts.append(rnd.choice(seps))
        texts.append("".join(parts))
    for n in (2, 3):
        got_rows, got_heads = _run_ngram_kernel(texts, n)
        want_rows, want_heads = _expected_ngram(texts, n)
        assert got_rows == want_rows, f"ngrams={n}"
        assert got_heads == want_heads


def test_arrow_ngram_min_distinct():
    texts = ["solo", "alpha beta gamma delta alpha beta"]
    got_rows, got_heads = _run_ngram_kernel(texts, 2, min_distinct=2)
    want_rows, want_heads = _expected_ngram(texts, 2, min_distinct=2)
    assert got_rows == want_rows
    assert got_heads == want_heads
