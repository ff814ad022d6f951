"""Resumability: killed builds restart without recomputing done work."""

from __future__ import annotations

import os
import shutil

from ir_base_spark.index.manifest import (
    finalize_lite,
    open_index,
    read_manifest,
    resumable_build,
)


def _file_states(root: str) -> dict[str, tuple[float, int]]:
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


def test_resume_skips_completed_partitions(spark, fixture_small, tmp_path):
    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx")
    P = 8

    r1 = resumable_build(spark, t, root, num_partitions=P)
    assert r1.partitions_built == P and r1.partitions_skipped == 0
    assert len(read_manifest(root)) == P

    # full no-op resume: nothing recomputed
    before = _file_states(os.path.join(root, "postings"))
    r2 = resumable_build(spark, t, root, num_partitions=P)
    assert r2.partitions_built == 0 and r2.partitions_skipped == P
    assert _file_states(os.path.join(root, "postings")) == before

    # simulate a kill: drop manifest rows + outputs for 3 partitions
    killed = [1, 4, 6]
    for pid in killed:
        os.remove(os.path.join(root, "manifest", f"p{pid}.json"))
        out_dir = os.path.join(root, "postings", f"partition_id={pid}")
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
    survivors = {
        k: v for k, v in before.items()
        if not any(f"partition_id={pid}/" in k for pid in killed)
    }

    r3 = resumable_build(spark, t, root, num_partitions=P)
    assert r3.partitions_built == len(killed)
    assert r3.partitions_skipped == P - len(killed)

    after = _file_states(os.path.join(root, "postings"))
    # untouched partitions: byte-identical, not recomputed (same mtime)
    for k, v in survivors.items():
        assert after[k] == v, f"partition output {k} was recomputed"


    # manifest rows carry lineage + metrics
    man = read_manifest(root)
    assert len(man) == P
    snap = {m.snapshot_id for m in man.values()}
    assert len(snap) == 1
    for m in man.values():
        if m.turns:
            assert m.postings_written > 0
            assert m.bytes_compressed > 0
            assert m.turns_per_sec >= 0


def test_resume_rejects_changed_build_params(spark, fixture_small, tmp_path):
    """Same root + same input but different tokenizer params must be
    refused: the input snapshot id cannot see the params, and mixing
    postings built under two tokenizers would be silent corruption."""
    import pytest

    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx_params")
    resumable_build(spark, t, root, num_partitions=4)
    with pytest.raises(ValueError, match="built with params"):
        resumable_build(spark, t, root, num_partitions=4, ngrams=2)


def test_resumed_index_identical_to_fresh(spark, fixture_small, tmp_path):
    t = spark.createDataFrame(fixture_small.transcripts)
    root_a = str(tmp_path / "a")
    root_b = str(tmp_path / "b")
    P = 4

    resumable_build(spark, t, root_a, num_partitions=P)

    resumable_build(spark, t, root_b, num_partitions=P)
    for pid in (0, 2):
        os.remove(os.path.join(root_b, "manifest", f"p{pid}.json"))
        shutil.rmtree(os.path.join(root_b, "postings", f"partition_id={pid}"))
    resumable_build(spark, t, root_b, num_partitions=P)

    _, base_a = finalize_lite(spark, root_a)
    _, base_b = finalize_lite(spark, root_b)
    assert {tuple(r) for r in base_a.collect()} == {
        tuple(r) for r in base_b.collect()
    }
    ia = open_index(spark, root_a)
    ib = open_index(spark, root_b)
    assert ia.n_docs == ib.n_docs
    assert ia.avg_doc_len == ib.avg_doc_len
    ta = {tuple(r) for r in ia.terms.collect()}
    tb = {tuple(r) for r in ib.terms.collect()}
    assert ta == tb
    wa = {tuple(r) for r in ia.weights.collect()}
    wb = {tuple(r) for r in ib.weights.collect()}
    assert wa == wb


def test_finalize_pruning_identity(spark, fixture_small, tmp_path):
    """finalize_lite(min_df/max_df), and open_index on its root, must
    re-project doc stats onto the pruned dictionary exactly like
    build_index's pruning branch."""
    from ir_base_spark.index.build import build_index

    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx")
    resumable_build(spark, t, root, num_partitions=4)

    fin, _ = finalize_lite(spark, root, min_df=3, max_df=500)
    ref = build_index(spark, t, min_df=3, max_df=500)
    tb = {tuple(r) for r in ref.terms.collect()}
    wb = {(r[0], r[1], r[2], round(r[3], 12)) for r in ref.weights.collect()}

    for idx in (fin, open_index(spark, root)):
        assert idx.n_docs == ref.n_docs
        assert abs(idx.avg_doc_len - ref.avg_doc_len) < 1e-12
        assert {tuple(r) for r in idx.terms.collect()} == tb
        wa = {(r[0], r[1], r[2], round(r[3], 12)) for r in idx.weights.collect()}
        assert wa == wb


def test_open_index_requires_finalize_lite(spark, fixture_small, tmp_path):
    """A root whose stats.json does not record min_df/max_df (never
    finalized, or finalized by an older build) is refused with an error
    naming finalize_lite, not opened under guessed pruning."""
    import json

    import pytest

    root = str(tmp_path / "idx")
    resumable_build(
        spark, spark.createDataFrame(fixture_small.transcripts), root,
        num_partitions=2,
    )
    with pytest.raises(ValueError, match="finalize_lite"):
        open_index(spark, root)
    finalize_lite(spark, root)
    path = os.path.join(root, "stats.json")
    with open(path) as fh:
        stats = json.load(fh)
    del stats["max_df"]
    with open(path, "w") as fh:
        json.dump(stats, fh)
    with pytest.raises(ValueError, match="finalize_lite"):
        open_index(spark, root)


def test_resume_rejects_marker_without_conv_ranges(
    spark, fixture_small, tmp_path
):
    """A split marker that carries no per-partition conv ranges is not
    resumed (nothing recomputes them): the build asks for a fresh root."""
    import json

    import pytest

    t = spark.createDataFrame(fixture_small.transcripts)
    root = str(tmp_path / "idx_marker")
    resumable_build(spark, t, root, num_partitions=2)
    marker = os.path.join(root, "input_parts.done.json")
    with open(marker) as fh:
        meta = json.load(fh)
    del meta["conv_ranges"]
    with open(marker, "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ValueError, match="Use a fresh index_root"):
        resumable_build(spark, t, root, num_partitions=2)


def test_finalize_lite_keeps_caller_job_group(spark, fixture_small, tmp_path):
    """An unpruned finalize_lite runs its two chains from helper
    threads; every job they start carries the caller's job group, so
    none lands outside it."""
    root = str(tmp_path / "idx")
    resumable_build(
        spark, spark.createDataFrame(fixture_small.transcripts), root,
        num_partitions=4,
    )
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("finalize-under-test", "finalize_lite job group")
    try:
        finalize_lite(spark, root)
    finally:  # clear the group (SparkContext.clearJobGroup's properties)
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    assert sc.statusTracker().getJobIdsForGroup("finalize-under-test")


def _one_text_changed(pdf):
    """``pdf`` with the first letter of one text swapped for another
    ASCII letter: same row count, same byte length, new content."""
    pdf = pdf.copy()
    i = next(
        j for j, t in pdf["text"].items()
        if isinstance(t, str) and t[:1].isascii() and t[:1].isalpha()
    )
    t = pdf.at[i, "text"]
    pdf.at[i, "text"] = ("Z" if t[0] != "Z" else "Y") + t[1:]
    return pdf


def _write_parquet_file(pdf, path: str) -> None:
    """One plain-encoded parquet file: a same-length text change gives a
    same-size file, so a rewrite differs from the original only in
    content and mtime."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path,
        compression="none", use_dictionary=False, write_statistics=False,
        coerce_timestamps="us",
    )


def test_resume_rejects_changed_input(spark, fixture_small, tmp_path):
    """After a kill, a resume against a changed input (a rewritten
    parquet file; an in-memory frame with one text changed) is refused
    and builds nothing: the split keeps no copy of the input, so the
    input snapshot id is the only guard against stale partitions."""
    import pytest

    pdf = fixture_small.transcripts
    path = str(tmp_path / "transcripts.parquet")
    _write_parquet_file(pdf, path)

    def rewritten():
        _write_parquet_file(_one_text_changed(pdf), path)
        return spark.read.parquet(path)

    cases = {
        "parquet": (lambda: spark.read.parquet(path), rewritten),
        "memory": (
            lambda: spark.createDataFrame(pdf),
            lambda: spark.createDataFrame(_one_text_changed(pdf)),
        ),
    }
    for name, (original, changed) in cases.items():
        root = str(tmp_path / f"idx_{name}")
        resumable_build(spark, original(), root, num_partitions=4)
        os.remove(os.path.join(root, "manifest", "p1.json"))
        shutil.rmtree(os.path.join(root, "postings", "partition_id=1"))
        before = _file_states(root)
        with pytest.raises(ValueError, match="Use a fresh index_root"):
            resumable_build(spark, changed(), root, num_partitions=4)
        assert _file_states(root) == before, name
        assert 1 not in read_manifest(root), name


def test_input_rewritten_between_waves_promotes_nothing(
    spark, fixture_small, tmp_path, monkeypatch
):
    """A file-backed input rewritten after the first wave: the second
    wave re-takes the snapshot before it promotes, refuses, and leaves
    only the first wave's partition behind."""
    import pytest

    from ir_base_spark.index import manifest

    pdf = fixture_small.transcripts
    path = str(tmp_path / "transcripts.parquet")
    _write_parquet_file(pdf, path)
    real_wave = manifest._build_wave
    waves = []

    def wave_then_rewrite(*args, **kwargs):
        out = real_wave(*args, **kwargs)
        waves.append([m.partition_id for m in out])
        _write_parquet_file(_one_text_changed(pdf), path)
        return out

    monkeypatch.setattr(manifest, "_build_wave", wave_then_rewrite)
    root = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="Use a fresh index_root"):
        resumable_build(
            spark, spark.read.parquet(path), root, num_partitions=4,
            wave_size=1,
        )
    assert waves == [[0]]
    assert set(read_manifest(root)) == {0}
    assert os.listdir(os.path.join(root, "postings")) == ["partition_id=0"]
    assert not os.path.exists(os.path.join(root, "term_partials"))
