"""spark-submit entry point: resumable index build.

    spark-submit --py-files ir_base_spark.zip jobs/build_index.py \
        --input /path/to/transcripts_parquet_or_table \
        --index-root /path/to/index \
        --partitions 512 --analyzer reference [--resume]

Reads the transcripts table (parquet path, or `table:<name>` for a
catalog/Iceberg table), runs the per-partition checkpointed build
(ir_base_spark.index.manifest), finalizes the dictionary and corpus
stats, encodes compressed posting runs, one per term per shard
(applying --norm), and writes
everything under --index-root.
Prints a JSON build report (lineage + throughput) to stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index-root", required=True)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--analyzer", default="reference", choices=["reference", "simple"])
    ap.add_argument("--ngrams", type=int, default=1)
    ap.add_argument("--min-df", type=int, default=1)
    ap.add_argument("--max-df", type=int, default=None)
    ap.add_argument("--norm", type=int, default=0, choices=[0, 1, 2])
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ir-base-spark-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.input.startswith("table:"):
        transcripts = spark.read.table(args.input.removeprefix("table:"))
    else:
        transcripts = spark.read.parquet(args.input)

    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build

    t0 = time.time()
    report = resumable_build(
        spark,
        transcripts,
        args.index_root,
        num_partitions=args.partitions,
        ngrams=args.ngrams,
        analyzer=args.analyzer,
    )
    # single posting materialization: metadata finalize + term runs
    # straight from the tokenize output (the encoder applies --norm)
    idx, base = finalize_lite(
        spark, args.index_root, min_df=args.min_df, max_df=args.max_df,
        norm=args.norm,
    )
    encode_shards_from_postings(spark, args.index_root)

    print(
        json.dumps(
            {
                "snapshot_id": report.snapshot_id,
                "partitions_total": report.partitions_total,
                "partitions_built": report.partitions_built,
                "partitions_skipped": report.partitions_skipped,
                "turns_built": report.turns_built,
                "postings_built": report.postings_built,
                "build_sec": round(report.wall_sec, 3),
                "total_sec": round(time.time() - t0, 3),
                "turns_per_sec": round(report.turns_per_sec, 1),
                "n_docs": idx.n_docs,
                "avg_doc_len": idx.avg_doc_len,
            }
        )
    )


if __name__ == "__main__":
    main()
