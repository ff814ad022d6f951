"""In-memory spans around calls into the engine, and Spark event-log folding.

A span records a name, its parent, and start/end wall-clock times. While a
span is open on a traced run, every Spark job the client thread submits
carries the span's job group, so the event log attributes task time to the
call that caused it. Jobs submitted from helper threads inside the engine
(which do not inherit the group) are attributed to the innermost span open
at their submission time; the benchmark drives Spark from one client
thread, so at most one span chain is open at a time.

Spans are kept in memory and folded once, after the session has stopped
and the event log is complete.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs nothing.

    ``sc`` is the SparkContext whose job group follows the open span; it
    may be None (no Spark labelling, spans only)."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._label(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def _label(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.sid}", sp.name)

    # ------------------------------------------------------------ views

    def children(self, sid: int | None) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered = _union_length(
            [(max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp.sid)]
        )
        return sp.wall - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def within(self, sp: Span, name: str) -> bool:
        """Whether some ancestor of ``sp`` is named ``name``."""
        p = sp.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k.sid for k in kids)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- event log


@dataclass
class JobStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_times: list[float] = field(default_factory=list)

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.task_times.extend(other.task_times)

    @property
    def skew(self) -> float:
        """max / median task run time (0 when there were no tasks)."""
        if not self.task_times:
            return 0.0
        med = statistics.median(self.task_times)
        return max(self.task_times) / med if med > 0 else 0.0


def read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute_jobs(tracer: Tracer, events: list[dict]) -> dict[int, JobStats]:
    """Fold task metrics per span (self only: each job counts once, for
    the span that submitted it). Returns {span id: JobStats}."""
    job_span: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    out: dict[int, JobStats] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        if group.startswith(GROUP_PREFIX):
            sid = int(group[len(GROUP_PREFIX):])
        else:
            sid = _innermost_at(tracer, ev["Submission Time"] / 1000.0)
        if sid is None or sid >= len(tracer.spans):
            continue
        job_span[ev["Job ID"]] = sid
        out.setdefault(sid, JobStats()).jobs += 1
        for st in ev.get("Stage IDs", []):
            stage_job.setdefault(st, ev["Job ID"])
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(ev.get("Stage ID"))
        if job is None or job not in job_span:
            continue
        m = ev.get("Task Metrics") or {}
        st = out[job_span[job]]
        run_s = m.get("Executor Run Time", 0) / 1000.0
        st.tasks += 1
        st.task_s += run_s
        st.task_times.append(run_s)
        st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def _innermost_at(tracer: Tracer, t: float) -> int | None:
    best = None
    for s in tracer.spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return None if best is None else best.sid


def inclusive(tracer: Tracer, stats: dict[int, JobStats], sp: Span) -> JobStats:
    """Job stats of a span and everything under it."""
    acc = JobStats()
    for s in [sp, *tracer.descendants(sp)]:
        if s.sid in stats:
            acc.add(stats[s.sid])
    return acc
