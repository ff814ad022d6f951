"""Engine benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 8 --trace 0

Run it from the repository root. Workloads are ``query_batch`` and
``entry_suite`` (see ``perfbench/workloads.py``). With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of a traced run. Inputs are generated from
``--seed`` and cached under ``.perfbench/cache``; per-run scratch files
live under ``.perfbench/work`` and are removed at the end of the run.
Exits 2 without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _timed_op(run, wl, i: int, on: bool) -> tuple[float, tuple[float, ...]]:
    """Operation ``i``, traced if ``on``; → (its wall time, its parts)."""
    run.tracer.enabled = on
    with run.tracer.span("op"):
        t0 = time.perf_counter()
        parts = wl.op(run, i)
        dt = time.perf_counter() - t0
    run.tracer.enabled = run.trace
    _log(f"op {i}: {dt:.3f}s {[round(p, 3) for p in parts]}" + (" (traced)" if on else ""))
    return dt, parts


def measure(run, wl) -> tuple[list, list]:
    """Closed loop: operations back to back until their summed wall time
    reaches ``run.seconds`` and there are at least ``wl.min_ops``. A traced
    run runs each operation twice on the same input, untraced and traced
    in alternating order (at least two pairs), so each pair gives the
    tracing overhead.
    → (untraced, traced) lists of (op seconds, its parts)."""
    plain: list = []
    traced: list = []
    i = 0
    while True:
        if run.trace:
            order = (False, True) if i % 2 == 0 else (True, False)
            pair = {on: _timed_op(run, wl, i, on) for on in order}
            plain.append(pair[False])
            traced.append(pair[True])
        else:
            plain.append(_timed_op(run, wl, i, False))
        i += 1
        done = plain + traced
        # a traced run needs two pairs, one in each order
        need = max(wl.min_ops, 4) if run.trace else wl.min_ops
        if len(done) >= need and sum(t for t, _ in done) >= run.seconds:
            return plain, traced


def main(argv=None) -> int:
    args = _parse(argv)
    # import the benchmark as a package beside the engine, never its
    # modules as top-level names
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != here]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import ir_base_spark  # noqa: F401

        from perfbench import host, metrics, workloads
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run = workloads.Run(ROOT, args.seed, args.seconds, bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    rss = None
    try:
        wl.prepare(run)  # seeded inputs: untimed, not part of set-up
        _log(f"inputs ready after {time.perf_counter() - t0:.1f}s")
        before = host.probe()
        jiffies = host.cpu_jiffies()
        try:
            get_spark_s = run.start_session()
            rss = host.RssSampler(run.jvm_pid).start()
            parts = wl.setup(run)
            _log(f"set-up after {time.perf_counter() - t0:.1f}s: {parts}")
            plain, traced = measure(run, wl)
            wl.finish(run)
            _log(f"checks done after {time.perf_counter() - t0:.1f}s")
        finally:
            if rss is not None:
                rss.stop()
            if run.spark is not None:
                run.stop_session()
        steal = host.steal_share(jiffies, host.cpu_jiffies())
        after = host.probe()
        stats = run.layer_stats()
        _log(f"finished after {time.perf_counter() - t0:.1f}s")
    finally:
        shutil.rmtree(run.work, ignore_errors=True)

    v = run.values
    v["session.get_spark_s"] = get_spark_s
    v.update(parts)
    v["setup_s"] = get_spark_s + sum(parts.values())
    for k, name in enumerate(metrics.PARTS):
        v[name] = statistics.median(ps[k] for _, ps in plain)
        if run.trace:
            v[f"trace.overhead.{name}"] = statistics.median(
                t[k] - p[k] for (_, p), (_, t) in zip(plain, traced)
            )
    v["op.count"] = len(plain) + len(traced)
    v["op.max_s"] = max(t for t, _ in plain + traced)
    v["session.peak_rss_mb"] = rss.peak_mb
    for tag, p in (("before", before), ("after", after)):
        v[f"host.{tag}.kernel_s"] = p["kernel_s"]
        v[f"host.{tag}.inflation"] = p["inflation"]
    v["host.steal_share"] = steal
    if run.trace:
        v.update(workloads.span_values(run, stats))

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "host_before": before, "host_after": after,
                      "steal_share": steal,
                      "error_rate": run.tally.failed / run.tally.attempted,
                      "error_base": run.tally.attempted}))
    out = metrics.record(v, run.trace, run.tally.attempted, run.tally.failed)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
