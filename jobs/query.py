"""spark-submit entry point: BM25 top-k queries against a built index.

    spark-submit --py-files ir_base_spark.zip jobs/query.py \
        --index-root /path/to/index \
        --queries /path/to/queries.parquet \
        [--engine wand|dataframe] [--output /path/out.parquet]

queries.parquet columns: query_id string, query_text string, k int
(FIXTURES.md §2). Results: (query_id, rank, conv_id, turn_idx, score).
Queries are analyzed with the index root's own build params (ngrams,
analyzer), as its documents were.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

# Interactive query batches are small by contract; this cap makes the
# contract enforced rather than assumed (see main()).
MAX_QUERIES = 100_000


def enforce_query_cap(qdf, source: str, max_queries: int = MAX_QUERIES):
    """Return qdf.toPandas() after verifying the row cap.

    The query set is driver-resident by contract (it rides to every
    shard kernel); enforce the contract instead of assuming it. One
    job reads at most max_queries + 1 rows, and their count is the
    check."""
    pdf = qdf.limit(max_queries + 1).toPandas()
    if len(pdf) > max_queries:
        raise SystemExit(
            f"query set {source!r} has more than {max_queries} rows; "
            f"the batch query path sends queries to every shard "
            f"and is sized for interactive batches. Split the file or "
            f"raise MAX_QUERIES deliberately."
        )
    return pdf


def run_query(spark, root: str, qpdf, engine: str):
    """→ (query_id, rank, conv_id, turn_idx, score) DataFrame of the
    queries in ``qpdf``, analyzed with the ngrams and analyzer the root
    was built with (manifest.build_params)."""
    from ir_base_spark.index.manifest import build_params, open_index
    from ir_base_spark.query.dataframe_bm25 import analyze_query_terms, topk_search
    from ir_base_spark.query.wand import wand_topk_sharded

    params = build_params(root)
    qt = analyze_query_terms(
        spark, qpdf, ngrams=params["ngrams"], analyzer=params["analyzer"]
    )
    if engine == "wand":
        # doc-sharded on-disk block layout: the kernel pulls only
        # matched-term row groups per shard
        return wand_topk_sharded(spark, root, qt)
    # read-only M1 view of the same finalized artifacts
    return topk_search(open_index(spark, root), qt)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-root", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--engine", default="wand", choices=["wand", "dataframe"])
    ap.add_argument("--output", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ir-base-spark-query").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    qpdf = enforce_query_cap(spark.read.parquet(args.queries), args.queries)
    t0 = time.time()
    out = run_query(spark, args.index_root, qpdf, args.engine)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = out.count()
    print(
        json.dumps(
            {
                "engine": args.engine,
                "queries": len(qpdf),
                "result_rows": n,
                "query_sec": round(time.time() - t0, 3),
            }
        )
    )


if __name__ == "__main__":
    main()
