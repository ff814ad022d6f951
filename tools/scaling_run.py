"""Two-parallelism scaling run: the sandbox stand-in for N vs 4N executors.

Runs the IDENTICAL index-build + query job on the SAME input at
local[8] and local[32] (fresh JVM per run, via subprocess) and reports
throughput at both plus scaling efficiency = (T_N / T_4N) / 4. Writes
BENCH/BASELINE.md and BENCH/scaling.json.

    python tools/scaling_run.py [--convs 8000] [--cores 8,32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _ensure_input(n_conversations: int, seed: int = 42) -> str:
    cache = f"/tmp/spark_graft_transcripts_dist_n{n_conversations}_s{seed}"
    if os.path.isdir(cache):
        return cache
    from ir_base_spark.fixtures import make_transcripts_spark
    from ir_base_spark.session import get_spark

    spark = get_spark(app_name="gen", cores=32, shuffle_partitions=64)
    df = make_transcripts_spark(spark, n_conversations, seed=seed, partitions=64)
    tmp = cache + "._tmp"
    df.write.mode("overwrite").parquet(tmp)
    os.replace(tmp, cache)
    spark.stop()
    return cache


def child(cores: int, input_path: str, n_queries: int, partitions: int = 32) -> None:
    from ir_base_spark.fixtures import make_queries, make_transcripts
    from ir_base_spark.index.blocks import encode_shards_from_postings
    from ir_base_spark.index.manifest import finalize_lite, resumable_build
    from ir_base_spark.query.wand import wand_topk_sharded
    from ir_base_spark.query.dataframe_bm25 import analyze_query_terms
    from ir_base_spark.session import get_spark

    # RAM-backed shuffle dirs: on this single box the disk is a shared
    # bottleneck that a real multi-node cluster does not have; tmpfs
    # isolates CPU scaling (documented in BENCH/BASELINE.md)
    local_dir = f"/dev/shm/sg-spark-{cores}"
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        app_name=f"scaling-{cores}", cores=cores, shuffle_partitions=cores * 4,
        extra_conf={"spark.local.dir": local_dir},
    )
    t = spark.read.parquet(input_path)
    n_turns = t.count()

    def one_pipeline():
        root = tempfile.mkdtemp(prefix=f"sg_scale_{cores}_", dir="/dev/shm")
        os.rmdir(root)

        t0 = time.time()
        # the whole resumable_build (conv-range split + tokenize waves);
        # 2 waves: full task-level parallelism at 32 cores while keeping
        # a bounded commit granularity
        resumable_build(
            spark, t, root, num_partitions=partitions,
            wave_size=max(1, partitions // 2),
        )
        b = time.time() - t0

        t0 = time.time()
        # metadata finalize (terms/base/stats written); the posting
        # stream is materialized exactly once — blocks build straight
        # from the tokenize output
        idx, base = finalize_lite(spark, root)
        f = time.time() - t0

        t0 = time.time()
        encode_shards_from_postings(spark, root)
        k = time.time() - t0
        return b, f, k, idx, root

    # warm-up pass: python-worker spawn, codegen/JIT, page cache — then
    # measure the steady-state pipeline (throughput criterion)
    import shutil as _sh

    b0, f0, k0, idx0, root0 = one_pipeline()
    idx0.terms.unpersist()
    idx0.doc_lens.unpersist()
    _sh.rmtree(root0, ignore_errors=True)

    build_sec, finalize_sec, block_sec, idx, root = one_pipeline()

    qpdf = make_queries(
        make_transcripts(n_conversations=200), n_queries=n_queries
    )
    qt = analyze_query_terms(spark, qpdf).cache()
    qt.count()
    t0 = time.time()
    wand_topk_sharded(spark, root, qt).write.format("noop").mode(
        "overwrite"
    ).save()
    batch_auto_sec = time.time() - t0

    pipeline_sec = build_sec + finalize_sec + block_sec
    print(
        "CHILD_RESULT "
        + json.dumps(
            {
                "cores": cores,
                "turns": n_turns,
                "build_sec": round(build_sec, 3),
                "finalize_sec": round(finalize_sec, 3),
                "block_sec": round(block_sec, 3),
                "pipeline_sec": round(pipeline_sec, 3),
                "batch_auto_sec": round(batch_auto_sec, 3),
                "batch_auto_algo": "maxscore",
                "turns_per_sec": round(n_turns / pipeline_sec, 1),
            }
        )
    )
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=24000)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--n-queries", type=int, default=100)
    ap.add_argument(
        "--repeat", type=int, default=1,
        help="run each parallelism level N times (alternating order) and "
        "keep the least-noise observation: the repeat with the minimal "
        "pipeline time per level, plus per-phase minima for the "
        "independent query phases. Noise on a shared box only ADDS time.",
    )
    ap.add_argument(
        "--tag", default="",
        help="suffix for BENCH/scaling_<tag>.json (e.g. a second core "
        "pair); the untagged run also (re)writes BENCH/BASELINE.md",
    )
    ap.add_argument(
        "--probe-max", type=float, default=2.5,
        help="max host-probe inflation (perfbench.host.probe: a numpy "
        "kernel from nproc concurrent threads vs alone) accepted before "
        "a child run; a quiet 4-core window reads ~1.25",
    )
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--child-cores", type=int)
    ap.add_argument("--input")
    args = ap.parse_args()

    if args.child:
        child(args.child_cores, args.input, args.n_queries, args.partitions)
        return

    input_path = _ensure_input(args.convs)
    results = {}
    core_list = [int(x) for x in args.cores.split(",")]
    schedule = [c for _ in range(args.repeat) for c in core_list]
    all_runs: dict[int, list[dict]] = {c: [] for c in core_list}
    probes: list[dict] = []

    # host-window bracketing: probe before every child and once after
    # the last; a child whose pre-probe shows a degraded window
    # (inflation > --probe-max) is delayed until a clean probe (bounded
    # retries), and every probe is recorded in the output JSON next to
    # the run it brackets. The probe is sized to the host (nproc
    # threads), the same bracket perfbench records.
    from perfbench.host import probe as _host_probe

    def _clean_probe(context: str) -> dict:
        for wait in (0, 30, 60, 120, 120, 120):
            if wait:
                print(f"degraded window; sleeping {wait}s", file=sys.stderr)
                time.sleep(wait)
            p = _host_probe()
            p["ts"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
            p["context"] = context
            probes.append(p)
            print(f"probe {context}: {p}", file=sys.stderr)
            if p["inflation"] <= args.probe_max:
                return p
        print("WARNING: no clean window found; proceeding", file=sys.stderr)
        return p

    for run_no, c in enumerate(schedule):
        pre = _clean_probe(f"before run {run_no} cores={c}")
        # py4j occasionally loses a response under heavy local-mode load
        # (driver blocks on a socket read with an idle JVM) - bound each
        # child and retry once
        line = []
        for attempt in (1, 2):
            print(f"=== running child cores={c} (attempt {attempt}) ===",
                  file=sys.stderr)
            try:
                proc = subprocess.run(
                    [
                        sys.executable, os.path.abspath(__file__), "--child",
                        "--child-cores", str(c), "--input", input_path,
                        "--n-queries", str(args.n_queries),
                        "--partitions", str(args.partitions),
                    ],
                    capture_output=True, text=True, cwd=REPO, timeout=2700,
                )
            except subprocess.TimeoutExpired:
                print(f"child cores={c} timed out; retrying", file=sys.stderr)
                continue
            line = [
                ln for ln in proc.stdout.splitlines()
                if ln.startswith("CHILD_RESULT ")
            ]
            if line:
                break
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
        if not line:
            raise RuntimeError(f"child cores={c} failed twice")
        rec = json.loads(line[-1].removeprefix("CHILD_RESULT "))
        rec["pre_probe_inflation"] = pre["inflation"]
        all_runs[c].append(rec)
    _clean_probe("after last run")

    for c in core_list:
        runs = all_runs[c]
        best = min(runs, key=lambda r: r["pipeline_sec"])
        best = dict(best)
        # the query batch is independent of the pipeline phases: keep
        # its own minimum across repeats
        vals = [r["batch_auto_sec"] for r in runs if r.get("batch_auto_sec")]
        if vals:
            best["batch_auto_sec"] = min(vals)
        best["n_repeats"] = len(runs)
        results[c] = best

    cores = sorted(results)
    lo, hi = cores[0], cores[-1]
    ratio = hi / lo
    eff_pipeline = (results[lo]["pipeline_sec"] / results[hi]["pipeline_sec"]) / ratio
    eff_build = (results[lo]["build_sec"] / results[hi]["build_sec"]) / ratio
    eff_auto = (
        results[lo]["batch_auto_sec"] / results[hi]["batch_auto_sec"]
    ) / ratio

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    payload = {
        "results": results,
        "efficiency_pipeline": round(eff_pipeline, 3),
        "efficiency_build": round(eff_build, 3),
        "efficiency_batch_auto_queries": round(eff_auto, 3),
        "convs": args.convs,
        "probes": probes,
        "probe_max_inflation": args.probe_max,
    }
    suffix = f"_{args.tag}" if args.tag else ""
    with open(
        os.path.join(REPO, "BENCH", f"scaling{suffix}.json"), "w"
    ) as fh:
        json.dump(payload, fh, indent=2)

    md = [
        "# BENCH/BASELINE.md — measured throughput & scaling",
        "",
        "Sandbox stand-in for the north rule's N → 4N executor criterion:",
        "the identical index-build job (deterministic synthetic transcripts,",
        f"{results[lo]['turns']} turns, FIXTURES.md schema) run at "
        f"`local[{lo}]` and `local[{hi}]` in fresh JVMs on the same input.",
        "",
        "| phase | " + " | ".join(f"local[{c}] sec" for c in cores) + " | efficiency (N→4N) |",
        "|---|" + "---|" * (len(cores) + 1),
    ]
    md.append(
        "| resumable_build (conv-range split + tokenize waves) | "
        + " | ".join(str(results[c]["build_sec"]) for c in cores)
        + f" | {eff_build:.3f} |"
    )
    md.append(
        "| + dictionary/weights + blocks (full pipeline) | "
        + " | ".join(str(results[c]["pipeline_sec"]) for c in cores)
        + f" | {eff_pipeline:.3f} |"
    )
    md.append(
        "| 100-query batch (chunked MaxScore, the one shard kernel) | "
        + " | ".join(str(results[c]["batch_auto_sec"]) for c in cores)
        + f" | {eff_auto:.3f} |"
    )
    md += [
        "",
        "The build row times the whole `resumable_build`: the conv-range",
        "split (a metadata step; the input is not copied) and the tokenize",
        "waves, each of which reads the input table.",
        "",
        f"Repeats: each level ran {args.repeat}x (alternating order); the "
        "reported pipeline phases come from the repeat with the minimal "
        "pipeline time per level, the query batch is its own minimum — "
        "least-noise observations (noise on a shared box only adds time).",
        "",
        "Throughput: "
        + ", ".join(
            f"local[{c}] = {results[c]['turns_per_sec']} turns/sec (full pipeline)"
            for c in cores
        ),
        "",
        f"Scaling efficiency (full index pipeline), {lo} -> {hi} cores: "
        f"**{eff_pipeline:.3f}** (target >= 0.8; efficiency = "
        f"(T_{lo} / T_{hi}) / {ratio:g}).",
        "",
        "Caveats: local mode shares one JVM/driver; spark.local.dir and the",
        "index root live on /dev/shm tmpfs (the box's disk is a shared",
        "bottleneck a multi-node cluster does not have, so tmpfs isolates",
        "CPU scaling — note both parallelism levels then share one memory",
        "bus, which UNDER-states multi-node scaling for bandwidth-heavy",
        "phases). Both runs pay identical fixed costs (session init is",
        "excluded by timing inside the session). At cluster scale the same",
        "plan shapes apply with network shuffle — partitioning strategy is",
        "documented in SURVEY.md §7 and ir_base_spark/index/*.py docstrings.",
        "",
        "Shared-bus attribution (measured, not guessed): every run is",
        "bracketed by `perfbench.host.probe` (a numpy kernel alone and",
        "from nproc concurrent threads; the record's `probes`) — its inflation",
        "isolates the memory-bus ceiling from anything plan- or",
        "scheduler-related. `BENCH/scaling_2_8.json` repeats the",
        "whole N→4N comparison at 2→8 cores, a pair that fits under the",
        "bus ceiling — closer to what four 2-core executors with private",
        "memory buses (the north rule's actual configuration) would see.",
        "Per-shard encode phase timings (read/map/sort/encode/write) are",
        "reported by `encode_shards_from_postings` (and per layer as",
        "`encode_shards_from_postings.{read,map,sort,encode,write}_task_s`",
        "by `perfbench/run.py --trace 1`).",
        "",
        "Round-4 measurement-comparability notes (vs scaling.json r<=3):",
        "(a) finalize is the fused two-chain version and the timed",
        "pipeline no longer writes the redundant turn-level docs/ export",
        "(doc_id = base[conv] + turn_idx by construction; labels resolve",
        "from the base/ sidecar in-kernel — at 10^12 turns no production",
        "build would materialize that table); (b) blocks use the",
        "TF-payload format (varbyte term frequencies, exact BM25",
        "reconstructed at decode — ~2.6x fewer payload bytes, which is",
        "deliberate bus-relief for the shared-bus phases); (c) the",
        "production batch route is recorded under batch_auto_sec",
        "(rounds <= 3 recorded the same route as wand_sec).",
    ]
    if not args.tag:
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as fh:
            fh.write("\n".join(md) + "\n")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
