"""Host-state bracket and memory sampling, both sized to this host.

``probe`` times a fixed numpy kernel once alone and once from ``nproc``
concurrent threads (never more, and no extra processes), so a run taken
in a degraded window shows a slow or inflated kernel next to its figures.
``steal_share`` gives the share of CPU time the hypervisor took from
this machine between two ``cpu_jiffies`` readings, the other sign of
such a window.
``RssSampler`` polls ``/proc`` for the summed resident memory of the Spark
driver JVM and every process under it (its Python workers).
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.2


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _kernel(_=None) -> float:
    import numpy as np

    a = np.random.default_rng(0).random(2_000_000)
    t0 = time.perf_counter()
    for _ in range(3):
        np.sort(a).cumsum().sum()
    return time.perf_counter() - t0


def probe() -> dict:
    """→ {"kernel_s", "concurrent_s", "inflation", "load1"}: the kernel
    alone, then its mean time in ``nproc`` concurrent threads (numpy's
    sort releases the interpreter lock, so they run in parallel)."""
    import concurrent.futures as cf

    _kernel()  # first call faults in the kernel's pages
    single = _kernel()
    with cf.ThreadPoolExecutor(nproc()) as ex:
        conc = list(ex.map(_kernel, range(nproc())))
    mean = sum(conc) / len(conc)
    return {
        "kernel_s": single,
        "concurrent_s": mean,
        "inflation": mean / single,
        "load1": os.getloadavg()[0],
    }


def cpu_jiffies() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Steal ticks over all ticks between two ``cpu_jiffies`` readings.
    Only the first eight fields count (user … steal): guest time is
    already inside user time."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / sum(d) if sum(d) > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Background poller of the summed RSS of process ``pid`` and its
    descendants. ``peak_mb`` is the largest sum seen between ``start`` and
    ``stop``."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in [self.pid, *descendants(self.pid)])
        self.peak_bytes = max(self.peak_bytes, total)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
