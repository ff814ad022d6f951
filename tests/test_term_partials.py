"""Build-time per-partition term partials: finalize's dictionary must
be IDENTICAL whether aggregated from the partials artifact or from raw
postings (partial+final aggregation identity), and finalize must fall
back to raw whenever the partials set doesn't exactly cover the
postings set."""

from __future__ import annotations

import os
import shutil

from ir_base_spark.index.dictionary import (
    build_dictionary,
    term_stats_from_partials,
)
from ir_base_spark.index.manifest import (
    load_postings,
    load_term_partials,
    resumable_build,
)


def _built_root(spark, fixture_small, tmp_path):
    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx")
    resumable_build(spark, t, root, num_partitions=8)
    return root


def test_partials_dictionary_identical_to_raw(spark, fixture_small, tmp_path):
    root = _built_root(spark, fixture_small, tmp_path)
    partials = load_term_partials(spark, root)
    assert partials is not None, "build should have written term_partials/"

    raw = load_postings(spark, root).drop("partition_id")
    t_raw = build_dictionary(raw)
    t_par = build_dictionary(raw, stats=term_stats_from_partials(partials))

    rows_raw = sorted(map(tuple, t_raw.collect()))
    rows_par = sorted(map(tuple, t_par.collect()))
    assert rows_raw == rows_par
    # dense ids: exactly 0..n-1 (the deterministic ranking contract)
    ids = sorted(r[1] for r in rows_par)
    assert ids == list(range(len(ids)))


def test_small_route_ids_identical(spark, fixture_small, tmp_path):
    """The single-job rank route must assign exactly the ids the
    distributed two-phase route assigns."""
    root = _built_root(spark, fixture_small, tmp_path)
    raw = load_postings(spark, root).drop("partition_id")
    t_dist = build_dictionary(raw)
    t_small = build_dictionary(raw, rows=raw.count())
    assert sorted(map(tuple, t_dist.collect())) == sorted(
        map(tuple, t_small.collect())
    )


def test_partials_fallback_on_incomplete_set(spark, fixture_small, tmp_path):
    root = _built_root(spark, fixture_small, tmp_path)
    proot = os.path.join(root, "term_partials")
    dirs = [d for d in os.listdir(proot) if d.startswith("partition_id=")]
    assert dirs
    shutil.rmtree(os.path.join(proot, dirs[0]))
    assert load_term_partials(spark, root) is None

    shutil.rmtree(proot)
    assert load_term_partials(spark, root) is None


def test_wave_placement_one_partition_per_task(spark, fixture_small, tmp_path):
    """The build's shuffles place exactly one partition per task: for a
    wave of 4 of 4, 8 of 32 and 16 of 64 partitions, spark_partition_id()
    and partition_id are in bijection (hash placement on partition_id
    puts ids 0-3 in 2 of 4 tasks). A built root has one file per
    partition directory in postings/ and term_partials/."""
    from pyspark.sql import functions as F

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
    for art in ("postings", "term_partials"):
        dirs = [
            d for d in os.listdir(os.path.join(root, art))
            if d.startswith("partition_id=")
        ]
        assert len(dirs) == 8, art
        for d in dirs:
            files = os.listdir(os.path.join(root, art, d))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, d
