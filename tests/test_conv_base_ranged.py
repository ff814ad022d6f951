"""conv_doc_base_with_stats_ranged: the shuffle-sample-free,
checkpoint-free base cumsum that rides the build's conv-range
partitioning (conv_partition_map contract). Must equal a plain
single-node reference on the same doc_lens."""

from __future__ import annotations

from pyspark.sql import functions as F

from ir_base_spark.index.dictionary import conv_doc_base_with_stats_ranged
from ir_base_spark.index.manifest import (
    finalize_lite,
    load_postings,
    resumable_build,
)


def _built_root(spark, fixture_small, tmp_path):
    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx")
    resumable_build(spark, t, root, num_partitions=8)
    return root


def test_ranged_base_matches_generic(spark, fixture_small, tmp_path):
    root = _built_root(spark, fixture_small, tmp_path)
    raw = load_postings(spark, root)
    doc_lens = raw.filter(F.col("is_doc_head") == 1).select(
        "partition_id", "conv_id", "turn_idx", "doc_len"
    )

    base_r, n_docs_r, avg_r, release = conv_doc_base_with_stats_ranged(
        doc_lens
    )
    # reference: base(c) = Σ (max turn_idx + 1) over convs sorted
    # before c; corpus constants straight from the doc heads
    pdf = doc_lens.toPandas()
    ext = pdf.groupby("conv_id")["turn_idx"].max().sort_index() + 1
    base_g = dict(zip(ext.index, (ext.cumsum() - ext).astype(int)))
    assert n_docs_r == len(pdf)
    assert avg_r == float(pdf["doc_len"].sum()) / len(pdf)  # integer-exact

    rows_r = {r["conv_id"]: r["base"] for r in base_r.collect()}
    assert rows_r == base_g
    release()


def test_finalize_lite_uses_ranged_base(spark, fixture_small, tmp_path):
    """End-to-end: finalize_lite's base/ artifact is globally ascending
    in conv order and starts at 0 (the stable doc-id contract)."""
    root = _built_root(spark, fixture_small, tmp_path)
    idx, base = finalize_lite(spark, root)
    rows = sorted(
        ((r["conv_id"], r["base"]) for r in base.collect()),
    )
    assert rows[0][1] == 0
    bases = [b for _c, b in rows]
    assert bases == sorted(bases)  # ascending with conv order
    # base gaps equal per-conv (max turn_idx + 1)
    spans = {
        r["conv_id"]: r["n"]
        for r in idx.doc_lens.groupBy("conv_id")
        .agg((F.max("turn_idx") + 1).alias("n"))
        .collect()
    }
    for (c1, b1), (_c2, b2) in zip(rows, rows[1:]):
        assert b2 - b1 == spans[c1]
    idx.terms.unpersist()
