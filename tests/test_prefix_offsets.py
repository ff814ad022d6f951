"""dictionary.prefix_offsets numbers the index: term ids (a count under
(df desc, term asc)) and the build's conversation split (a byte sum
under conv_id). Its one-partition route (``rows <= SMALL_RANK_ROWS``)
and its range route (``rows=None``, or SMALL_RANK_ROWS patched to 0)
must give the same rows, compared with ``==``; the one-partition route
is what keeps the split and the single-shard build at few jobs.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ir_base_spark.index import dictionary
from ir_base_spark.index.dictionary import prefix_offsets
from ir_base_spark.index.manifest import _split_input, build_single_shard_index
from tests.test_wand import _run_in_job_group as _jobs


def _term_order():
    return [F.col("df").desc(), F.col("term").asc()]


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _both_routes(df, order, value, out_col, n):
    return (
        _rows(prefix_offsets(df, order, value, out_col, n)),
        _rows(prefix_offsets(df, order, value, out_col, None)),
    )


def test_count_routes_agree_on_heavy_ties(spark):
    """2,000 terms over 3 df values: both routes give the dense rank
    0..n-1 in (df desc, term asc) order."""
    rng = random.Random(11)
    stats = [(f"t{i:05d}", rng.choice((1, 1, 1, 2, 7)), 0) for i in range(2000)]
    rng.shuffle(stats)
    sdf = spark.createDataFrame(stats, "term string, df long, ttf long")
    sdf = sdf.repartition(5)
    small, ranged = _both_routes(sdf, _term_order(), None, "term_id", len(stats))
    assert small == ranged
    want = sorted(stats, key=lambda r: (-r[1], r[0]))
    assert small == sorted((t, d, f, i) for i, (t, d, f) in enumerate(want))


def test_sum_routes_agree_with_zero_values(spark):
    """An exclusive byte sum under conv_id, a third of the values 0:
    both routes give the same offsets and the same ``_total``."""
    rng = random.Random(12)
    ext = [(f"c{i:04d}", rng.choice((0, 0, 3, 40, 900))) for i in range(500)]
    rng.shuffle(ext)
    sdf = spark.createDataFrame(ext, "conv_id string, _n long").repartition(3)
    small, ranged = _both_routes(sdf, ["conv_id"], "_n", "cum_before", len(ext))
    assert small == ranged
    acc, want = 0, []
    total = sum(n for _, n in ext)
    for c, n in sorted(ext):
        want.append((c, n, acc, total))
        acc += n
    assert small == want


def test_empty_frame_gives_no_rows(spark):
    terms = spark.createDataFrame([], "term string, df long, ttf long")
    convs = spark.createDataFrame([], "conv_id string, _n long")
    assert _both_routes(terms, _term_order(), None, "term_id", 0) == ([], [])
    assert _both_routes(convs, ["conv_id"], "_n", "cum_before", 0) == ([], [])


def _split(spark, path, root, parts):
    t = spark.read.parquet(path)
    _, jobs = _jobs(spark, lambda: _split_input(spark, t, root, parts))
    with open(os.path.join(root, "input_parts.done.json")) as fh:
        marker = json.load(fh)
    return _rows(spark.read.parquet(os.path.join(root, "conv_parts"))), marker, jobs


@pytest.mark.parametrize("parts", [4, 64])
def test_file_backed_split_small_route(
    spark, fixture_small, tmp_path, monkeypatch, parts
):
    """A parquet input's footer rows bound its conversations, so the
    split takes the one-partition route: at most 6 jobs. 64 partitions
    exceed the fixture's 60 conversations, so some stay empty. The map
    and the marker equal the range route's."""
    path = str(tmp_path / "in")
    spark.createDataFrame(fixture_small.transcripts).write.parquet(path)
    cmap, marker, jobs = _split(spark, path, str(tmp_path / "a"), parts)
    assert jobs <= 6
    monkeypatch.setattr(dictionary, "SMALL_RANK_ROWS", 0)
    cmap_r, marker_r, jobs_r = _split(spark, path, str(tmp_path / "b"), parts)
    assert jobs_r > jobs
    assert (cmap, marker) == (cmap_r, marker_r)
    assert (len(marker["conv_ranges"]) < parts) == (parts > 60)


def test_single_shard_root_ranks_in_one_partition(
    spark, fixture_small, tmp_path, monkeypatch
):
    """build_single_shard_index writes no term partials; the postings
    footer bounds its vocabulary, so its dictionary ranks in one
    partition: at most 16 jobs. terms/ and blocks.parquet equal the
    range route's."""
    t = spark.createDataFrame(fixture_small.transcripts)

    def build(name):
        root = str(tmp_path / name)
        _, jobs = _jobs(spark, lambda: build_single_shard_index(spark, t, root))
        blocks = pq.read_table(
            os.path.join(root, "blocks", "partition_id=0", "blocks.parquet")
        )
        return _rows(spark.read.parquet(os.path.join(root, "terms"))), blocks, jobs

    terms, blocks, jobs = build("small")
    assert jobs <= 16
    monkeypatch.setattr(dictionary, "SMALL_RANK_ROWS", 0)
    terms_r, blocks_r, jobs_r = build("range")
    assert jobs_r > jobs
    assert terms == terms_r
    assert blocks.equals(blocks_r)
