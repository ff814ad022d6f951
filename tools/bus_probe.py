"""Memory-bus saturation probe for the shard encode kernel.

Runs the EXACT per-shard block-encode workload (pyarrow read → dict-join
map → sort → varbyte encode; no Spark, no write) on the SAME shard file
from N concurrent processes and reports per-task wall time vs N. If the
kernel were CPU-bound, per-task time would be ~flat until physical cores
run out; measured inflation at low N is direct evidence that the box's
shared memory bus — not task scheduling or the plan — is what caps the
single-box scaling of this phase. A real multi-node cluster gives every
4-core executor its own memory bus, which is the configuration the
north rule's N→4N criterion describes.

    python tools/bus_probe.py --root /path/to/index \
        [--shard 3] [--conc 1,2,4,8,16] [--repeat 2]

``--root`` is any finalized index root, e.g. one written by
``jobs/build_index.py`` (postings/ plus terms/, base/ and stats.json).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def one_task(root: str, shard: int) -> float:
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ir_base_spark.index.blocks import (
        _encode_sorted_run_arrow,
        _load_sidecars,
        bm25_doc_denom,
        bm25_weight,
    )

    path = os.path.join(root, "postings", f"partition_id={shard}")
    t0 = time.time()
    sc = _load_sidecars(root)
    tbl = pq.read_table(
        path,
        columns=["conv_id", "turn_idx", "term", "tf"],
        use_threads=False,
        read_dictionary=["conv_id", "term"],
    ).combine_chunks()
    tcol = tbl.column("term").chunk(0)
    pos = pc.index_in(tcol.dictionary, value_set=sc.term_set).take(tcol.indices)
    pos_np = pc.fill_null(pos, -1).to_numpy()
    ccol = tbl.column("conv_id").chunk(0)
    cpos = (
        pc.index_in(ccol.dictionary, value_set=sc.conv_set)
        .take(ccol.indices)
        .to_numpy()
    )
    turn = tbl.column("turn_idx").chunk(0).to_numpy()
    tf_i = tbl.column("tf").chunk(0).to_numpy()
    keep = pos_np >= 0
    if not keep.all():
        pos_np, cpos, turn, tf_i = (
            pos_np[keep], cpos[keep], turn[keep], tf_i[keep]
        )
    tf = tf_i.astype(np.float64)
    tid = sc.term_ids[pos_np]
    doc = sc.bases[cpos] + turn
    lo = int(doc.min())
    span = int(doc.max()) - lo + 1
    rel = doc - lo
    dl_acc = np.bincount(rel, weights=tf, minlength=span)
    denom_acc = bm25_doc_denom(dl_acc, float(sc.stats["avg_doc_len"]))
    w = bm25_weight(sc.term_idf[pos_np], tf, denom_acc[rel])
    order = np.argsort(tid * span + rel)
    _encode_sorted_run_arrow(
        tid[order], shard, doc[order], w[order], 128, tf_i[order]
    )
    return time.time() - t0


def worker(args) -> float:
    root, shard, warm = args
    if warm:
        one_task(root, shard)  # fault pages / warm sidecar cache
    return one_task(root, shard)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--shard", type=int, default=3)
    ap.add_argument("--conc", default="1,2,4,8,16")
    ap.add_argument("--repeat", type=int, default=2)
    args = ap.parse_args()

    results = {}
    base_time = None
    for n in [int(x) for x in args.conc.split(",")]:
        best = None
        for _ in range(args.repeat):
            with mp.get_context("spawn").Pool(n) as pool:
                walls = pool.map(
                    worker, [(args.root, args.shard, True)] * n
                )
            m = sum(walls) / len(walls)
            best = m if best is None or m < best else best
        if base_time is None:
            base_time = best
        results[n] = {
            "mean_task_sec": round(best, 3),
            "inflation_vs_1": round(best / base_time, 2),
        }
        print(json.dumps({"concurrency": n, **results[n]}))
    out = os.path.join(REPO, "BENCH", "bus_probe.json")
    with open(out, "w") as fh:
        json.dump(
            {"shard": args.shard, "kernel": "block-encode", "results": results},
            fh, indent=2,
        )


if __name__ == "__main__":
    main()
