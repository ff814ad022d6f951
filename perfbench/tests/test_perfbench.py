"""Tests of the benchmark itself (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import io
import json
import os
import time
from contextlib import redirect_stdout

import pandas as pd
import pytest

from perfbench import checks, inputs, metrics, run, spans, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ metric names


def test_spec_names_and_units_match_code():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


class _FakeWorkload:
    """Spark-free stand-in: ops sleep briefly, one check fails on demand."""

    name = "fake"
    min_ops = 2

    def __init__(self, fail: bool = False):
        self.fail = fail

    def prepare(self, r):
        pass

    def setup(self, r):
        return {"session.warmup_s": 0.01}

    def op(self, r, i):
        with r.tracer.span(workloads.LAYER["build"]):
            time.sleep(0.01)
        return 0.01, 0.02

    def finish(self, r):
        r.tally.record(not self.fail, "injected wrong result")


def _run_fake(monkeypatch, trace: int, fail: bool = False) -> dict:
    monkeypatch.setitem(workloads.WORKLOADS, "fake", lambda: _FakeWorkload(fail))
    monkeypatch.setattr(workloads.Run, "start_session", lambda self: 0.5)
    monkeypatch.setattr(workloads.Run, "stop_session", lambda self: None)
    monkeypatch.setattr(workloads.Run, "jvm_pid", property(lambda self: os.getpid()))
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = run.main(["--workload", "fake", "--seed", "3", "--seconds", "0.05",
                       "--trace", str(trace)])
    assert rc == 0
    return json.loads(buf.getvalue().strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_names_match_benchmark_json(monkeypatch, trace):
    out = _run_fake(monkeypatch, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1


def test_traced_run_pairs_each_op_on_the_same_input(monkeypatch):
    seen = []

    def op(self, r, i):
        seen.append((i, r.tracer.enabled))
        return 0.01, 0.02

    monkeypatch.setattr(_FakeWorkload, "op", op)
    out = _run_fake(monkeypatch, 1)
    assert out["metrics"]["op.count"]["value"] == len(seen)
    assert sorted(seen) == sorted((i, on) for i in {i for i, _ in seen} for on in (False, True))
    assert seen[:4] == [(0, False), (0, True), (1, True), (1, False)]
    assert out["metrics"]["trace.overhead.part1_p50_s"]["value"] == 0


def test_injected_wrong_result_is_counted(monkeypatch):
    out = _run_fake(monkeypatch, 0, fail=True)
    assert out["failed"] >= 1 and out["failed"] == out["attempted"]
    assert out["correct"] is False


def test_record_rejects_names_outside_spec():
    with pytest.raises(KeyError):
        metrics.record({"setup_s": 1, "part1_p50_s": 1, "part2_p50_s": 1, "bogus": 1}, False, 1, 0)
    with pytest.raises(KeyError):
        metrics.record({"setup_s": 1}, False, 1, 0)


def test_steal_share_counts_only_the_first_eight_fields():
    from perfbench import host

    before = [10, 0, 5, 100, 0, 0, 0, 2, 7, 0]
    after = [16, 0, 7, 108, 0, 0, 0, 6, 9, 0]
    assert host.steal_share(before, after) == pytest.approx(4 / 20)
    assert host.steal_share(before, before) == 0.0


# ---------------------------------------------------------------- inputs


def test_seed_changes_inputs(tmp_path):
    a = inputs.transcripts(str(tmp_path), 12, seed=1, files=2)
    b = inputs.transcripts(str(tmp_path), 12, seed=2, files=2)
    again = inputs.transcripts(str(tmp_path), 12, seed=1, files=2)
    assert not a["pdf"]["text"].equals(b["pdf"]["text"])
    assert a["pdf"]["text"].equals(again["pdf"]["text"])
    assert a["text_bytes"] == again["text_bytes"]

    qa = inputs.query_batch(a["pdf"], 1, 0, 10)
    assert not qa.equals(inputs.query_batch(a["pdf"], 2, 0, 10))
    assert not qa.equals(inputs.query_batch(a["pdf"], 1, 1, 10))
    assert qa.equals(inputs.query_batch(a["pdf"], 1, 0, 10))

    da = inputs.entry_tables(str(tmp_path), 40, 30, seed=1)
    db = inputs.entry_tables(str(tmp_path), 40, 30, seed=2)
    ta = pd.read_parquet(os.path.join(da, "documents.parquet"))
    tb = pd.read_parquet(os.path.join(db, "documents.parquet"))
    assert not ta["text"].equals(tb["text"])
    assert list(ta.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert (ta["n_chars"] == ta["text"].str.len()).all()
    emb = pd.read_parquet(os.path.join(da, "embeddings.parquet"))
    assert len(emb) == 30 and len(emb["embedding"].iloc[0]) == inputs.EMBED_DIM


# ---------------------------------------------------------------- checks


def test_wrong_topk_rows_are_flagged():
    good = [("q1", 1, "c1", 0, 2.0), ("q1", 2, "c2", 3, 1.0), ("q2", 1, "c9", 1, 0.5)]
    exp = checks.topk_by_query(good)
    assert checks.topk_mismatches(exp, checks.topk_by_query(good), ["q1", "q2"]) == set()
    swapped = [("q1", 1, "c2", 3, 2.0), ("q1", 2, "c1", 0, 1.0), good[2]]
    assert checks.topk_mismatches(exp, checks.topk_by_query(swapped), ["q1", "q2"]) == {"q1"}
    drift = [*good[:2], ("q2", 1, "c9", 1, 0.5 + 1e-6)]
    assert checks.topk_mismatches(exp, checks.topk_by_query(drift), ["q1", "q2"]) == {"q2"}
    assert checks.topk_mismatches(exp, checks.topk_by_query(good[:2]), ["q2"]) == {"q2"}

    t = checks.Tally()
    t.record_many(2, {"q2"}, "test")
    t.record(False, "test")
    assert (t.attempted, t.failed) == (3, 2)


def test_frame_and_digest_checks():
    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    shuffled = a.iloc[[2, 0, 1]][["y", "x"]]
    assert checks.frame_mismatch(shuffled, a) is None
    assert checks.digest(shuffled) == checks.digest(a)
    wrong = a.assign(x=[1, 2, 4])
    assert checks.frame_mismatch(wrong, a) is not None
    assert checks.digest(wrong) != checks.digest(a)
    assert checks.frame_mismatch(a.head(2), a) is not None


def test_dictionary_check_flags_wrong_df():
    from ir_base_spark.oracle import build_oracle_index

    oi = build_oracle_index([(("c", 0), "apple banana apple"), (("c", 1), "banana cherry")])
    terms = pd.DataFrame(
        [(t, i, oi.df[t], oi.ttf[t]) for t, i in oi.term_ids.items()],
        columns=["term", "term_id", "df", "ttf"],
    )
    assert checks.dictionary_mismatch(terms, oi) is None
    bad = terms.assign(df=terms["df"] + 1)
    assert checks.dictionary_mismatch(bad, oi) is not None


# ----------------------------------------------------------------- spans


def test_spans_nest_and_self_time_is_non_negative():
    tr = spans.Tracer(True)
    with tr.span("op") as op:
        with tr.span("a") as a:
            time.sleep(0.01)
            with tr.span("a.inner") as inner:
                time.sleep(0.01)
        with tr.span("b") as b:
            time.sleep(0.01)
    assert op.parent is None
    assert a.parent == op.sid and b.parent == op.sid and inner.parent == a.sid
    for s in tr.spans:
        assert s.start <= s.end
        assert tr.self_time(s) >= 0
        for c in tr.children(s.sid):
            assert s.start <= c.start and c.end <= s.end
    assert tr.self_time(op) == pytest.approx(op.wall - a.wall - b.wall, abs=1e-9)
    assert {s.name for s in tr.descendants(op)} == {"a", "a.inner", "b"}

    off = spans.Tracer(False)
    with off.span("x") as sp:
        pass
    assert sp is None and off.spans == []


def test_event_log_folds_into_spans():
    tr = spans.Tracer(True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            time.sleep(0.01)
        time.sleep(0.01)
    ms = lambda t: int(t * 1000)  # noqa: E731
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": ms(inner.start) + 1,
         "Properties": {"spark.jobGroup.id": f"{spans.GROUP_PREFIX}{inner.sid}"}},
        # no group (a helper thread's job): attributed by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Submission Time": ms(outer.end) - 2, "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 300,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 100, "Memory Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 50}},
    ]
    stats = spans.attribute_jobs(tr, events)
    assert stats[inner.sid].jobs == 1 and stats[inner.sid].tasks == 2
    assert stats[inner.sid].task_s == pytest.approx(0.4)
    assert stats[inner.sid].shuffle_write_bytes == 10
    assert stats[inner.sid].spill_bytes == 5
    assert stats[inner.sid].skew == pytest.approx(300 / 200)
    assert stats[outer.sid].task_s == pytest.approx(0.05)
    total = spans.inclusive(tr, stats, outer)
    assert (total.jobs, total.tasks) == (2, 3)
    assert total.task_s == pytest.approx(0.45)
