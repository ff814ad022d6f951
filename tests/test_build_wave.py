"""A build wave is one postings write and one rollup: the manifest
counts are an aggregate of the written postings, the dictionary's one
source is postings/ (a term_partials/ directory left in a root built
before this layout is never read), and the wave's shuffles place one
partition per task."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ir_base_spark.index.dictionary import build_dictionary, term_stats
from ir_base_spark.index.manifest import (
    finalize_lite,
    load_postings,
    read_manifest,
    resumable_build,
)
from tests.test_wand import _run_in_job_group as _jobs


def _built_root(spark, fixture_small, tmp_path):
    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx")
    resumable_build(spark, t, root, num_partitions=8)
    return root


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def one_wave_root(spark, fixture_small, tmp_path_factory):
    """A file-backed input of 4 files built as 4 partitions in one wave
    (the perfbench layout) → (root, Spark jobs the build submitted)."""
    tmp = tmp_path_factory.mktemp("one_wave")
    path = str(tmp / "in")
    spark.createDataFrame(fixture_small.transcripts).repartition(4).write.parquet(path)
    root = str(tmp / "idx")
    t = spark.read.parquet(path)
    _, jobs = _jobs(
        spark,
        lambda: resumable_build(spark, t, root, num_partitions=4, wave_size=4),
    )
    return root, jobs


def test_one_wave_build_jobs(one_wave_root):
    """The split, one write and one rollup: at most 13 jobs (17 when
    each wave also wrote and rolled up term partials)."""
    root, jobs = one_wave_root
    assert jobs <= 13
    assert not os.path.exists(os.path.join(root, "term_partials"))


def test_manifest_counts_equal_postings_aggregate(spark, one_wave_root):
    """Each manifest row's postings_written and turns equal a direct
    aggregate of its postings/partition_id=p."""
    root, _ = one_wave_root
    man = read_manifest(root)
    assert len(man) == 4
    got = {
        r["partition_id"]: (r["postings"], r["turns"])
        for r in load_postings(spark, root)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("postings"),
            F.sum("is_doc_head").alias("turns"),
        )
        .collect()
    }
    assert got
    for pid, m in man.items():
        assert (m.postings_written, m.turns) == got.get(pid, (0, 0)), pid


def test_stray_term_partials_ignored(spark, fixture_small, tmp_path):
    """A term_partials/ copied from another build (here: per-partition
    counts of half the turns, covering every postings partition) does
    not change the terms/ finalize writes."""
    root = _built_root(spark, fixture_small, tmp_path)
    finalize_lite(spark, root)
    terms_path = os.path.join(root, "terms")
    want = _rows(spark.read.parquet(terms_path))

    raw = load_postings(spark, root)
    raw.filter(F.col("turn_idx") % 2 == 0).groupBy("partition_id", "term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("ttf"),
        F.sum("is_doc_head").cast("long").alias("dh"),
    ).write.partitionBy("partition_id").mode("overwrite").parquet(
        os.path.join(root, "term_partials")
    )
    def dirs(art):
        return {
            d for d in os.listdir(os.path.join(root, art))
            if d.startswith("partition_id=")
        }

    assert dirs("term_partials") == dirs("postings")

    finalize_lite(spark, root)
    assert _rows(spark.read.parquet(terms_path)) == want


def test_small_route_ids_identical(spark, fixture_small, tmp_path):
    """The single-job rank route must assign exactly the ids the
    distributed two-phase route assigns."""
    root = _built_root(spark, fixture_small, tmp_path)
    raw = load_postings(spark, root).drop("partition_id")
    t_dist = build_dictionary(term_stats(raw))
    t_small = build_dictionary(term_stats(raw), rows=raw.count())
    assert sorted(map(tuple, t_dist.collect())) == sorted(
        map(tuple, t_small.collect())
    )


def test_wave_placement_one_partition_per_task(spark, fixture_small, tmp_path):
    """The build's shuffles place exactly one partition per task: for a
    wave of 4 of 4, 8 of 32 and 16 of 64 partitions, spark_partition_id()
    and partition_id are in bijection (hash placement on partition_id
    puts ids 0-3 in 2 of 4 tasks). A built root has one file per
    partition directory in postings/."""
    from ir_base_spark.index.manifest import one_partition_per_task

    for n, total in ((4, 4), (8, 32), (16, 64)):
        pids = list(range(total - n, total))
        rows = spark.range(total * 20).select(
            (F.col("id") % total).cast("int").alias("partition_id")
        ).filter(F.col("partition_id").isin(pids))
        pairs = {
            (r[0], r[1])
            for r in one_partition_per_task(rows, pids)
            .select(F.spark_partition_id(), "partition_id")
            .distinct()
            .collect()
        }
        assert len(pairs) == n
        assert len({t for t, _ in pairs}) == n
        assert {p for _, p in pairs} == set(pids)

    root = _built_root(spark, fixture_small, tmp_path)
    for art in ("postings",):
        dirs = [
            d for d in os.listdir(os.path.join(root, art))
            if d.startswith("partition_id=")
        ]
        assert len(dirs) == 8, art
        for d in dirs:
            files = os.listdir(os.path.join(root, art, d))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, d
