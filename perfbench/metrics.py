"""Metric names and units the benchmark prints, and the printed record.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests hold the two equal. Every run prints every end-to-end
metric (each is measured on every workload); a traced run prints every
per-layer metric, with 0 for a layer the workload did not exercise.
"""

from __future__ import annotations

BM25_ENTRIES = ("bm25_topk_docs",)
OPS_ENTRIES = ("pagerank_weights",)

E2E = {
    "setup_s": "s",
    "part1_p50_s": "s",
    "part2_p50_s": "s",
}
# an operation's two timed parts, in the order ``op`` returns them:
# query_batch → (WAND(auto) batch, M1 batch); entry_suite → (BM25 entries,
# ops/ entries)
PARTS = ("part1_p50_s", "part2_p50_s")

_BUILD = "index.manifest.resumable_build"
_FINAL = "index.manifest.finalize_lite"
_ENC = "index.blocks.encode_shards_from_postings"
_ANALYZE = "query.dataframe_bm25.analyze_query_terms"
_WAND = "query.wand.wand_topk_sharded"
_M1 = "query.dataframe_bm25.topk_search"


def _layers() -> dict[str, str]:
    out = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "session.peak_rss_mb": "MB",
        "setup.index_build_s": "s",
        "host.before.kernel_s": "s",
        "host.before.inflation": "ratio",
        "host.after.kernel_s": "s",
        "host.after.inflation": "ratio",
        "host.steal_share": "ratio",
        "op.count": "count",
        "op.max_s": "s",
        "trace.overhead.part1_p50_s": "s",
        "trace.overhead.part2_p50_s": "s",
        "trace.layer_coverage": "ratio",
        f"{_BUILD}.wall_s": "s",
        f"{_BUILD}.task_s": "s",
        f"{_BUILD}.jobs": "count",
        f"{_BUILD}.task_skew": "ratio",
        f"{_BUILD}.postings": "count",
        f"{_BUILD}.resume_wall_s": "s",
        f"{_BUILD}.resume_partitions_built": "count",
        f"{_FINAL}.wall_s": "s",
        f"{_FINAL}.task_s": "s",
        f"{_FINAL}.jobs": "count",
        f"{_FINAL}.shuffle_write_bytes": "bytes",
        f"{_FINAL}.spill_bytes": "bytes",
        f"{_ENC}.wall_s": "s",
        f"{_ENC}.task_s": "s",
        f"{_ENC}.blocks": "count",
        f"{_ENC}.bytes": "bytes",
        f"{_ENC}.max_shard_wall_s": "s",
    }
    for ph in ("read", "map", "sort", "encode", "write"):
        out[f"{_ENC}.{ph}_task_s"] = "s"
    for art in ("postings", "term_partials", "terms", "base", "blocks"):
        out[f"index.bytes.{art}"] = "bytes"
    out["index.bytes_per_text_byte"] = "ratio"
    out["index.turns_per_s"] = "1/s"
    out[f"{_ANALYZE}.wall_s"] = "s"
    out[f"{_ANALYZE}.wall_ms"] = "ms"
    for m, u in (
        ("call_s", "s"), ("collect_s", "s"), ("task_s", "s"), ("jobs", "count"),
        ("tasks", "count"), ("shuffle_write_bytes", "bytes"),
        ("call_ms", "ms"), ("collect_ms", "ms"),
        ("jobs_per_query", "count"), ("tasks_per_query", "count"),
    ):
        out[f"{_WAND}.{m}"] = u
    for algo in ("maxscore", "wand", "taat"):
        out[f"query.wand.algo_{algo}.batch_s"] = "s"
    for m, u in (
        ("collect_s", "s"), ("task_s", "s"), ("jobs", "count"),
        ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ):
        out[f"{_M1}.{m}"] = u
    for name in BM25_ENTRIES + OPS_ENTRIES:
        out[f"entry.{name}.wall_s"] = "s"
        out[f"entry.{name}.task_s"] = "s"
    return out


PER_LAYER = _layers()


def record(values: dict[str, float], trace: bool, attempted: int, failed: int) -> dict:
    """The last stdout line: every end-to-end metric, or with ``trace``
    every per-layer metric (0 where the workload has no such layer).
    A name outside the spec is a bug in the benchmark, not a result."""
    spec = PER_LAYER if trace else E2E
    unknown = sorted(set(values) - set(E2E) - set(PER_LAYER))
    if unknown:
        raise KeyError(f"metrics not in the spec: {unknown}")
    missing = sorted(set(E2E) - set(values))
    if missing:
        raise KeyError(f"end-to-end metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in spec.items()
        },
    }
