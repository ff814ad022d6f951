"""Index-build orchestration: transcripts → dictionary + weighted postings.

The M1 (pure-DataFrame) index: postings stay a plain DataFrame
(conv_id, turn_idx, term_id, weight) — Catalyst handles scan pruning,
the dictionary broadcast join, and the stats aggregation. The compressed
block index (blocks.py) and the resumable manifest build (manifest.py)
layer on top of this.

Build shape at scale (SURVEY §7.1):
  document-sharded tokenize (no shuffle) → term-keyed stats shuffle
  (pre-aggregated rows) → broadcast dictionary join (no shuffle) →
  weighted postings, partitioned however the consumer needs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dictionary import build_dictionary, corpus_stats, project_onto_dictionary
from .tokenize import tokenize_turns
from .weights import set_feature_values


@dataclass
class InvertedIndex:
    """Handle to a built index (all lazily-evaluated DataFrames plus the
    pinned scalar snapshot constants, SURVEY §7.3)."""

    terms: DataFrame      # term, term_id, df, ttf
    weights: DataFrame    # conv_id, turn_idx, term_id, weight
    doc_lens: DataFrame   # conv_id, turn_idx, doc_len
    n_docs: int
    avg_doc_len: float
    ngrams: int
    scheme: str
    norm: int
    analyzer: str = "reference"


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    ngrams: int = 1,
    min_distinct_terms: int = 0,
    min_df: int = 1,
    max_df: int | None = None,
    scheme: str = "BM25",
    norm: int = 0,
    cache: bool = True,
    analyzer: str = "reference",
) -> InvertedIndex:
    raw = tokenize_turns(
        transcripts,
        ngrams=ngrams,
        min_distinct_terms=min_distinct_terms,
        analyzer=analyzer,
    )
    if cache:
        # one tokenize pass feeds both the dictionary agg and the
        # weighting join — the reference's two raw-data scans collapsed
        # (SURVEY §3.2)
        raw = raw.cache()

    terms = build_dictionary(raw, min_df=min_df, max_df=max_df)
    if cache:
        terms = terms.cache()

    if min_df > 1 or max_df is not None:
        # doc_len and the corpus constants reflect retained terms only
        raw_kept, doc_lens = project_onto_dictionary(raw, terms)
    else:
        doc_lens = (
            raw.filter(F.col("is_doc_head") == 1)
            .select("conv_id", "turn_idx", "doc_len")
        )
        raw_kept = raw
    if cache:
        doc_lens = doc_lens.cache()

    n_docs, avg_doc_len = corpus_stats(doc_lens)

    weights = set_feature_values(
        raw_kept, terms, n_docs, avg_doc_len, scheme=scheme, norm=norm
    )
    if cache:
        weights = weights.cache()

    return InvertedIndex(
        terms=terms,
        weights=weights,
        doc_lens=doc_lens,
        n_docs=n_docs,
        avg_doc_len=avg_doc_len,
        ngrams=ngrams,
        scheme=scheme,
        norm=norm,
        analyzer=analyzer,
    )
