"""Adversarial hot-term skew: one term carries ~30% of all postings.

The doc-sharded layout's skew story is that shard boundaries are DOC
ranges, so a hot term's postings split across shards proportionally to
the docs they live in — no shard ever owns the whole posting list (a
term-sharded merge would hot-spot exactly here, the salting scenario of
SURVEY §3). This test pins that claim with a byte-balance bound and
proves correctness on the skewed corpus end-to-end.
"""

from __future__ import annotations

import glob
import os
import statistics

import pandas as pd

from ir_base_spark.oracle import build_oracle_index, search_all
from ir_base_spark.query.dataframe_bm25 import analyze_query_terms
from tests.test_rank_identity import _compare, _oracle_docs

HOT = "zipfhead"


def _skewed_transcripts(n_conversations: int = 80) -> pd.DataFrame:
    """Every turn contains HOT twice plus ~4-5 tail lemmas → HOT is
    ~30% of the post-analysis posting stream, the Zipf-head stress."""
    import random

    rnd = random.Random(991)
    tail = [f"lemma{i:04d}" for i in range(600)]
    rows = []
    for c in range(n_conversations):
        conv_id = f"conv-{c:08d}"
        for t in range(rnd.randint(3, 8)):
            words = [HOT, HOT]
            for _ in range(rnd.randint(4, 5)):
                words.append(tail[rnd.randrange(len(tail))])
            rnd.shuffle(words)
            rows.append(
                (
                    conv_id,
                    t,
                    "user",
                    " ".join(words),
                    "",
                    pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=c * 1000 + t),
                )
            )
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).astype({"turn_idx": "int32"})


def test_skew_shard_balance_and_rank_identity(spark, tmp_path):
    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build

    t = _skewed_transcripts()
    root = str(tmp_path / "skewidx")
    sdf = spark.createDataFrame(t)
    resumable_build(spark, sdf, root, num_partitions=8)
    finalize_lite(spark, root)
    rep = encode_shards_from_postings(spark, root, block_size=16)
    assert rep["shards"] >= 4

    # the hot term really dominates: ~2 of ~6-7 tokens per turn
    postings = spark.read.parquet(root + "/postings")
    hot_share = (
        postings.filter(postings.term == HOT).count() / postings.count()
    )
    assert 0.10 <= hot_share  # one term >= 10% of all (doc, term) rows
    # (tf-weighted it is ~30% of tokens; DF-wise it is in EVERY doc)

    # byte balance across shards: the hot list must not pile into one
    # shard. Bound: max shard bytes <= 2x the median.
    files = glob.glob(os.path.join(root, "blocks", "partition_id=*", "*.parquet"))
    sizes = [os.path.getsize(p) for p in files]
    assert len(sizes) >= 4
    assert max(sizes) <= 2.0 * statistics.median(sizes), sizes

    # the hot term's postings span (nearly) all shards — the doc-range
    # split property that defuses the skew
    from pyspark.sql import functions as F

    blocks = spark.read.parquet(os.path.join(root, "blocks"))
    terms = spark.read.parquet(os.path.join(root, "terms"))
    hot_id = terms.filter(F.col("term") == HOT).collect()[0]["term_id"]
    hot_shards = (
        blocks.filter(F.col("term_id") == hot_id)
        .select("partition_id")
        .distinct()
        .count()
    )
    assert hot_shards >= rep["shards"] - 1

    # correctness under skew: hot-term and mixed queries are
    # rank-identical to the single-node oracle
    from ir_base_spark.query.wand import wand_topk_sharded

    q = pd.DataFrame(
        {
            "query_id": ["q-hot", "q-mix", "q-tail"],
            "query_text": [
                HOT,
                f"{HOT} lemma0001 lemma0002",
                "lemma0003 lemma0004",
            ],
            "k": [10, 10, 10],
        }
    )
    oracle_idx = build_oracle_index(_oracle_docs(t))
    expected = search_all(
        oracle_idx, list(zip(q["query_id"], q["query_text"], q["k"]))
    )
    qt = analyze_query_terms(spark, q)
    _compare(wand_topk_sharded(spark, root, qt).collect(), expected)
