"""ir_base_spark — a PySpark-native inverted-index + BM25 query engine.

A from-scratch Spark-first re-expression of the capabilities of the
reference IR codebase (mikelatch/IR_Base, surveyed in SURVEY.md): text
analysis (tokenize/normalize/Porter2-stem/n-gram), exact corpus
statistics, BM25/TFIDF weighting, inverted-index construction with
delta-gap + varbyte compressed posting blocks and per-block max-score,
exact top-k retrieval over them (chunked MaxScore), resumable index
builds with per-partition manifests, and a library of large-scale
text-pipeline operators (dedup, similarity search, text stats) over
plain DataFrames.
"""

__version__ = "0.1.0"
