"""The M1 (pure-DataFrame) index: transcripts → dictionary + weighted
postings, and the one constructor both of its routes share.

Postings stay a plain DataFrame (conv_id, turn_idx, term_id, weight) —
Catalyst handles scan pruning, the dictionary broadcast join, and the
stats aggregation. Two routes reach it:

- build_index (in memory): one tokenize pass, pinned by an eager
  localCheckpoint (its one Spark job, which also observes the rank's
  vocabulary bound and the corpus constants) → build_dictionary →
  m1_index.
- manifest.open_index (a finalized root): postings/ + terms/ →
  m1_index under stats.json's corpus constants.

The compressed block index (blocks.py) and the resumable manifest build
(manifest.py) layer on top of this.

Build shape at scale (SURVEY §7.1):
  document-sharded tokenize (no shuffle) → term-keyed stats shuffle
  (pre-aggregated rows) → broadcast dictionary join (no shuffle) →
  weighted postings, partitioned however the consumer needs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .dictionary import build_dictionary, corpus_stats, project_onto_dictionary
from .dictionary import term_stats
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


def m1_index(
    raw: DataFrame, terms: DataFrame, stats: dict, params: dict
) -> InvertedIndex:
    """InvertedIndex over raw postings (no partition_id) and the
    dictionary. ``stats`` carries ``scheme``, ``norm``, ``min_df`` and
    ``max_df`` (stats.json's keys); its corpus constants ``n_docs`` and
    ``avg_doc_len`` are computed here from the doc lengths when it has
    none. ``params`` carries the tokenizer's ``ngrams`` and ``analyzer``
    (build_params).

    Pruning (min_df > 1 or a max_df) re-projects the postings onto the
    dictionary, so doc_len, and with it the corpus constants, count
    retained terms only; unpruned, the doc-head rows carry doc_len."""
    if stats["min_df"] > 1 or stats["max_df"] is not None:
        raw, doc_lens = project_onto_dictionary(raw, terms)
    else:
        doc_lens = raw.filter(F.col("is_doc_head") == 1).select(
            "conv_id", "turn_idx", "doc_len"
        )
    if "n_docs" in stats:
        n_docs, avg_doc_len = stats["n_docs"], stats["avg_doc_len"]
    else:
        n_docs, avg_doc_len = corpus_stats(doc_lens)
    scheme, norm = stats["scheme"], stats["norm"]
    return InvertedIndex(
        terms=terms,
        weights=set_feature_values(
            raw, terms, n_docs, avg_doc_len, scheme=scheme, norm=norm
        ),
        doc_lens=doc_lens, n_docs=n_docs, avg_doc_len=avg_doc_len,
        ngrams=params["ngrams"], scheme=scheme, norm=norm,
        analyzer=params["analyzer"],
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    ngrams: int = 1,
    min_distinct_terms: int = 0,
    min_df: int = 1,
    max_df: int | None = None,
    scheme: str = "BM25",
    norm: int = 0,
    analyzer: str = "reference",
) -> InvertedIndex:
    """In-memory M1 index of ``transcripts``.

    One tokenize pass feeds the dictionary, the corpus constants and the
    weights (the reference's two raw-data scans collapsed, SURVEY §3.2).
    It is pinned by an eager localCheckpoint, not a cache(): the
    checkpoint is no CacheManager entry, and Spark's ContextCleaner frees
    its blocks once the returned index is unreachable, so nothing is
    left for the caller to release. It is the only job: its Observation
    counts the postings (the vocabulary bound: up to SMALL_RANK_ROWS,
    build_dictionary ranks in one partition with no job of its own) and
    sums the doc heads into the corpus constants (exact: integer-valued
    doc_len); pruning changes doc lengths, so m1_index recomputes them."""
    seen = Observation()
    raw = tokenize_turns(
        transcripts,
        ngrams=ngrams,
        min_distinct_terms=min_distinct_terms,
        analyzer=analyzer,
    ).observe(
        seen,
        F.count(F.lit(1)).alias("postings"),
        F.sum("is_doc_head").alias("n_docs"),
        F.sum(F.when(F.col("is_doc_head") == 1, F.col("doc_len"))).alias("len"),
    ).localCheckpoint()
    got = seen.get
    stats = {"scheme": scheme, "norm": norm, "min_df": min_df, "max_df": max_df}
    if min_df <= 1 and max_df is None:
        n = got["n_docs"] or 0
        stats.update(n_docs=n, avg_doc_len=got["len"] / n if n else 0.0)
    return m1_index(
        raw,
        build_dictionary(
            term_stats(raw), min_df=min_df, max_df=max_df, rows=got["postings"]
        ),
        stats,
        {"ngrams": ngrams, "analyzer": analyzer},
    )
