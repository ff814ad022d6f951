"""Resumable index build with per-partition checkpoint manifests.

North rule (BASELINE.json:6,14): a killed build restarts WITHOUT
recomputing completed partitions; each manifest row carries lineage
(input snapshot id, partition range) and metrics (postings written,
bytes compressed, terms/sec). Spark's own commit protocol only makes a
whole JOB atomic, so the expensive phase — tokenize + posting
extraction — is committed per partition here:

  index_root/
    conv_parts/                     conv_id -> partition_id map (the split)
    input_parts.done.json           split marker: input snapshot id,
                                    partition count, per-partition conv
                                    ranges
    postings/partition_id=<p>/      tokenized postings, written per
                                    partition via tmp-dir + atomic rename
    manifest/p<p>.json              one row per COMPLETED partition
                                    (written after the rename, also
                                    tmp + atomic rename)
    manifest/build_params.json      tokenizer params (ngrams, analyzer):
                                    queries are analyzed with them
    stats.json                      pinned corpus constants
                                    (n_docs, avg_doc_len — SURVEY §7.3)

Partition assignment is a deterministic conv-id RANGE split balanced by
raw text bytes (conv_partition_map; persisted as conv_parts/) —
reproducible under restart, independent of input row order, a
conversation never splits across partitions, and every partition owns a
CONTIGUOUS doc-id range, so the doc shard holds one posting run per
term (zero posting-level shuffle downstream,
blocks.encode_shards_from_postings).
The split is metadata only: the input is never copied. Each wave reads
the input table itself, joined to the wave's slice of conv_parts, so W
waves scan the input W times; the input snapshot id is taken again
before each wave promotes, and a moved input promotes nothing. Missing
partitions process in WAVES — one write job per wave over exactly the
missing partitions — so restart cost is proportional to MISSING work,
all cores stay busy regardless of partition count, and commit
granularity stays bounded (a killed wave promotes nothing; completed
waves stay done).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .blocks import encode_shards_from_postings
from .build import m1_index
from .tokenize import POSTINGS_SCHEMA, tokenize_turns

MANIFEST_VERSION = 1
# postings/ as written (tokenize columns + the hive partition column),
# declared so that reading it runs no schema-inference job
_POSTINGS_READ_SCHEMA = StructType(
    [*POSTINGS_SCHEMA.fields, StructField("partition_id", IntegerType())]
)


@dataclass
class PartitionManifest:
    """Per-partition build lineage + metrics.

    Lineage fields (snapshot_id, conv_id_min/max, status) are exact
    and idempotent under task retries. cmin/cmax come from the
    split-time conversation map (the conversations ASSIGNED to the
    partition), not from observed postings: a partition whose edge
    conversations were fully pruned (min_distinct_terms, empty turns)
    reports a range WIDER than its postings actually cover. That is a
    safe superset for conv-range pruning — readers must not treat
    cmin/cmax as tight postings bounds. The counts (turns,
    postings_written, and the terms behind terms_per_sec) are one
    aggregate over the wave's written postings, so they are exact;
    the rates divide them by the wave's wall time spread evenly over
    its partitions. bytes_compressed is derived from the written files
    and is exact."""

    partition_id: int
    snapshot_id: str
    conv_id_min: str
    conv_id_max: str
    turns: int
    postings_written: int
    bytes_compressed: int
    wall_sec: float
    terms_per_sec: float
    turns_per_sec: float
    status: str  # only "done" rows are ever written
    version: int = MANIFEST_VERSION


@dataclass
class BuildReport:
    snapshot_id: str
    partitions_total: int
    partitions_built: int
    partitions_skipped: int
    turns_built: int
    postings_built: int
    wall_sec: float
    turns_per_sec: float


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def input_snapshot_id(transcripts: DataFrame) -> str:
    """Deterministic lineage id, the stand-in for an Iceberg snapshot id.

    File-backed inputs: sha1 over the sorted file list + per-file size
    AND mtime, so a same-size content rewrite changes the snapshot and
    can never silently resume against stale partitions. In-memory inputs
    (no file lineage): digest the CONTENT — row count + order-independent
    xor + sum of per-row xxhash64 — schema alone is not identity.
    """
    h = hashlib.sha1()
    files = sorted(transcripts.inputFiles())
    if files:
        for f in files:
            h.update(f.encode())
            local = f.removeprefix("file:")
            if os.path.exists(local):
                st = os.stat(local)
                h.update(str(st.st_size).encode())
                h.update(str(st.st_mtime_ns).encode())
    else:
        # per-row hash via the column API (identifier-quoting-safe for
        # any column name), aggregated under a fixed safe alias
        row_h = F.xxhash64(*[F.col(c) for c in transcripts.columns])
        row = (
            transcripts.select(row_h.alias("_row_h"))
            .select(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(_row_h)").alias("hxor"),
                F.sum(F.col("_row_h").cast("decimal(38,0)")).alias("hsum"),
            )
            .collect()[0]
        )
        h.update(f"{row['n']}|{row['hxor']}|{row['hsum']}".encode())
    h.update(transcripts.schema.json().encode())
    return h.hexdigest()[:16]


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifest")


def _build_params_path(index_root: str) -> str:
    return os.path.join(_manifest_dir(index_root), "build_params.json")


def build_params(index_root: str) -> dict:
    """The tokenizer params the root's postings were built with
    (``ngrams``, ``analyzer``, ``min_distinct_terms``; written by
    resumable_build and build_single_shard_index). Queries against the
    root must be analyzed with the same ``ngrams`` and ``analyzer``."""
    with open(_build_params_path(index_root)) as fh:
        return json.load(fh)


def read_manifest(index_root: str) -> dict[int, PartitionManifest]:
    out: dict[int, PartitionManifest] = {}
    mdir = _manifest_dir(index_root)
    if not os.path.isdir(mdir):
        return out
    for name in os.listdir(mdir):
        if name.startswith("p") and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                row = json.load(fh)
            m = PartitionManifest(**row)
            if m.status == "done":
                out[m.partition_id] = m
    return out


def conv_partition_map(
    transcripts: DataFrame, num_partitions: int
) -> DataFrame:
    """(conv_id, partition_id): deterministic conv-RANGE split balanced
    by raw text bytes.

    Conversations are ordered by conv_id and packed into
    ``num_partitions`` contiguous ranges of ~equal total TEXT BYTES: the
    exclusive prefix sum of bytes under conv_id
    (dictionary.prefix_offsets, bounded by the input's parquet footer
    rows; None for an in-memory frame), scaled to a partition id.
    Reproducible under restart, unlike repartitionByRange: the prefix
    sum's range route samples its boundaries, but the sums it returns do
    not depend on them. Bytes, not turns: tokenize cost and postings
    volume follow text length, and under a Zipf turn-length distribution
    turn-balanced ranges left one straggler task per build wave — the
    last finisher's solo tail was the dominant non-scaling term of the
    build at high core counts (each turn also carries a small constant
    so metadata-ish empty turns still weigh). Because doc ids ascend in
    (conv_id, turn_idx), each partition owns a CONTIGUOUS doc-id range:
    the doc shard holds one posting run per term, which is what lets the
    run encode go with zero posting-level shuffle
    (blocks.encode_shards_from_postings).
    """
    from .dictionary import prefix_offsets

    ext = transcripts.groupBy("conv_id").agg(
        F.sum(
            F.octet_length(F.coalesce(F.col("text"), F.lit(""))) + F.lit(16)
        ).cast("long").alias("_n")
    )
    cum = prefix_offsets(
        ext, ["conv_id"], "_n", "cum_before", footer_rows(transcripts.inputFiles())
    )
    pid = F.least(
        F.lit(num_partitions - 1),
        F.floor(F.col("cum_before") * num_partitions / F.col("_total")),
    ).cast("int")
    return cum.select("conv_id", pid.alias("partition_id"))


def _split_input(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    num_partitions: int,
) -> str:
    """The split, written once, atomically: the conv→partition map
    (conv_parts/) and the marker with each non-empty partition's conv
    range. Both are part of the snapshot: doc-shard boundaries must
    survive restarts. No input rows are written; the waves read the
    input itself."""
    marker = os.path.join(index_root, "input_parts.done.json")
    snap = input_snapshot_id(transcripts)
    if os.path.exists(marker):
        with open(marker) as fh:
            meta = json.load(fh)
        if (
            meta.get("snapshot_id") == snap
            and meta.get("num_partitions") == num_partitions
            and "conv_ranges" in meta
        ):
            return snap
        raise ValueError(
            f"index_root {index_root} was split for snapshot "
            f"{meta.get('snapshot_id')}/{meta.get('num_partitions')} parts"
            f"{'' if 'conv_ranges' in meta else ' without conv ranges'}; "
            f"got {snap}/{num_partitions}. Use a fresh index_root."
        )
    cmap_dir = os.path.join(index_root, "conv_parts")
    tmp_cmap = cmap_dir + "._tmp"
    if os.path.isdir(tmp_cmap):
        shutil.rmtree(tmp_cmap)
    conv_partition_map(transcripts, num_partitions).write.mode(
        "overwrite"
    ).parquet(tmp_cmap)
    if os.path.isdir(cmap_dir):
        shutil.rmtree(cmap_dir)
    os.replace(tmp_cmap, cmap_dir)
    # per-partition conv ranges from the conv-level map (tiny agg): the
    # manifest's cmin/cmax, and the list of non-empty partitions
    ranges = {
        int(r["partition_id"]): [r["cmin"], r["cmax"]]
        for r in spark.read.parquet(cmap_dir)
        .groupBy("partition_id")
        .agg(F.min("conv_id").alias("cmin"), F.max("conv_id").alias("cmax"))
        .collect()
    }
    _atomic_write_json(
        marker,
        {
            "snapshot_id": snap,
            "num_partitions": num_partitions,
            "conv_ranges": ranges,
        },
    )
    return snap


def _conv_ranges(index_root: str) -> dict:
    """{partition_id: [conv_min, conv_max]} from the split marker."""
    with open(os.path.join(index_root, "input_parts.done.json")) as fh:
        return {int(k): v for k, v in json.load(fh)["conv_ranges"].items()}


def _murmur3_int(k: int) -> int:
    """Spark's ``Murmur3_x86_32.hashInt(k, 42)``: the hash that
    ``repartition(n, int_col)`` buckets by ``pmod(hash, n)``."""
    mask = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & mask

    k1 = rotl((k & mask) * 0xCC9E2D51 & mask, 15) * 0x1B873593 & mask
    h = (rotl(42 ^ k1, 13) * 5 + 0xE6546B64) & mask
    h ^= 4
    h = (h ^ (h >> 16)) * 0x85EBCA6B & mask
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & mask
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def one_partition_per_task(df: DataFrame, pids: list[int]) -> DataFrame:
    """Shuffle ``df`` (which has a ``partition_id`` column with values
    in ``pids``) into ``len(pids)`` tasks holding one partition each.

    ``repartition(n, "partition_id")`` buckets by hash and collides
    (ids 0-3 land in 2 of 4 buckets); here each partition id is mapped
    to an int slot key, picked on the driver so that the keys hash to n
    distinct buckets."""
    n = len(pids)
    keys: dict[int, int] = {}
    k = 0
    while len(keys) < n:
        keys.setdefault(_murmur3_int(k) % n, k)
        k += 1
    slot = F.create_map(
        *(F.lit(x) for j, pid in enumerate(pids) for x in (pid, keys[j]))
    )[F.col("partition_id")]
    return df.repartition(n, slot.cast("int"))


def _build_wave(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    snap: str,
    wave: list[int],
    ngrams: int,
    analyzer: str,
    min_distinct_terms: int,
) -> list[PartitionManifest]:
    """Tokenize + commit one wave of partitions.

    The write job joins the input with ``broadcast(conv_parts)`` cut to
    the wave's non-empty partitions (those the split marker lists),
    shuffles it to one partition per task (one_partition_per_task), and
    tokenizes and writes every wave partition's postings, one file per
    partition directory. One aggregate over the written postings,
    grouped by partition, gives the manifest counts. Then, if the input
    snapshot has not moved, the driver promotes each partition directory
    atomically and writes its manifest row. Commit granularity = the
    wave; within a killed wave nothing is promoted, completed waves stay
    done.
    """
    post_root = os.path.join(index_root, "postings")
    tmp_dir = os.path.join(post_root, "._tmp_wave")
    ranges = _conv_ranges(index_root)
    existing = [pid for pid in wave if pid in ranges]
    stats: dict = {}
    t0 = time.time()
    if existing:
        cmap = spark.read.parquet(os.path.join(index_root, "conv_parts")).filter(
            F.col("partition_id").isin(existing)
        )
        wave_input = one_partition_per_task(
            transcripts.join(F.broadcast(cmap), "conv_id"), existing
        )
        postings = tokenize_turns(
            wave_input,
            ngrams=ngrams,
            min_distinct_terms=min_distinct_terms,
            analyzer=analyzer,
        ).join(F.broadcast(cmap), "conv_id")
        if os.path.isdir(tmp_dir):
            shutil.rmtree(tmp_dir)
        # PURE tokenize+write: conv ranges come from the split marker and
        # the counts from the rollup below (per-row CollectMetrics here
        # was a measured ~45% overhead of the wave at 16 cores)
        postings.write.partitionBy("partition_id").mode("overwrite").parquet(
            tmp_dir
        )
        # manifest counts: one aggregate over the wave's written postings
        stats = {
            int(r["partition_id"]): r
            for r in spark.read.schema(_POSTINGS_READ_SCHEMA)
            .parquet(tmp_dir)
            .groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("postings"),
                F.sum("tf").alias("terms"),
                F.sum("is_doc_head").alias("turns"),
            )
            .collect()
        }
    wall = time.time() - t0
    now = input_snapshot_id(transcripts)
    if now != snap:
        shutil.rmtree(tmp_dir, ignore_errors=True)
        raise ValueError(
            f"input snapshot moved from {snap} to {now} during the build; "
            f"partitions {wave} were not promoted. Use a fresh index_root."
        )
    share = wall / max(1, len(existing))
    out: list[PartitionManifest] = []
    for pid in wave:
        agg = stats.get(pid)
        if agg is None:  # no conversations, or every turn pruned
            m = PartitionManifest(
                partition_id=pid, snapshot_id=snap, conv_id_min="",
                conv_id_max="", turns=0, postings_written=0,
                bytes_compressed=0, wall_sec=0.0, terms_per_sec=0.0,
                turns_per_sec=0.0, status="done",
            )
        else:
            dst = os.path.join(post_root, f"partition_id={pid}")
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.replace(os.path.join(tmp_dir, f"partition_id={pid}"), dst)
            m = PartitionManifest(
                partition_id=pid, snapshot_id=snap,
                conv_id_min=str(ranges[pid][0]),
                conv_id_max=str(ranges[pid][1]),
                turns=int(agg["turns"]),
                postings_written=int(agg["postings"]),
                bytes_compressed=_dir_bytes(dst),
                wall_sec=share,
                terms_per_sec=float(agg["terms"]) / share if share > 0 else 0.0,
                turns_per_sec=int(agg["turns"]) / share if share > 0 else 0.0,
                status="done",
            )
        _atomic_write_json(
            os.path.join(_manifest_dir(index_root), f"p{pid}.json"), asdict(m)
        )
        out.append(m)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out


def resumable_build(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    num_partitions: int = 64,
    ngrams: int = 1,
    analyzer: str = "reference",
    min_distinct_terms: int = 0,
    wave_size: int | None = None,
    max_concurrent_jobs: int | None = None,  # kept for API compat; unused
) -> BuildReport:
    """Build (or resume) the tokenize/postings phase under ``index_root``.

    Idempotent: rerunning after a kill skips every partition with a
    'done' manifest row; their outputs are untouched (asserted
    byte-identical in tests/test_resume.py). Missing partitions process
    in waves (default: 4 waves) — each wave is one write job over many
    input splits plus the rollup of its manifest counts, so all cores
    stay busy regardless of partition count, and the per-partition
    commit protocol runs driver-side only at wave boundaries.
    """
    os.makedirs(index_root, exist_ok=True)
    os.makedirs(_manifest_dir(index_root), exist_ok=True)
    t0 = time.time()
    snap = _split_input(spark, transcripts, index_root, num_partitions)

    done = read_manifest(index_root)
    stale = [p for p, m in done.items() if m.snapshot_id != snap]
    if stale:
        raise ValueError(
            f"manifest rows for snapshot(s) != {snap} present: {stale}; "
            "use a fresh index_root"
        )

    # Tokenizer-params guard: the snapshot id covers the INPUT only, so
    # resuming the same root with different build params would otherwise
    # mix postings produced under two tokenizers — the one staleness
    # path input_snapshot_id cannot see.
    params = {
        "ngrams": ngrams,
        "analyzer": analyzer,
        "min_distinct_terms": min_distinct_terms,
    }
    pfile = _build_params_path(index_root)
    if os.path.exists(pfile):
        prev = build_params(index_root)
        if prev != params:
            raise ValueError(
                f"index_root {index_root} was built with params {prev}, "
                f"resume requested with {params}; use a fresh index_root"
            )
    else:
        _atomic_write_json(pfile, params)

    os.makedirs(os.path.join(index_root, "postings"), exist_ok=True)
    todo = [pid for pid in range(num_partitions) if pid not in done]
    skipped = num_partitions - len(todo)
    if wave_size is None:
        wave_size = max(1, (num_partitions + 3) // 4)

    built = turns_total = postings_total = 0
    for i in range(0, len(todo), wave_size):
        wave = todo[i : i + wave_size]
        for m in _build_wave(
            spark, transcripts, index_root, snap, wave, ngrams, analyzer,
            min_distinct_terms,
        ):
            built += 1
            turns_total += m.turns
            postings_total += m.postings_written

    wall = time.time() - t0
    return BuildReport(
        snapshot_id=snap,
        partitions_total=num_partitions,
        partitions_built=built,
        partitions_skipped=skipped,
        turns_built=turns_total,
        postings_built=postings_total,
        wall_sec=wall,
        turns_per_sec=turns_total / wall if wall > 0 else 0.0,
    )


def load_postings(spark: SparkSession, index_root: str) -> DataFrame:
    path = os.path.join(index_root, "postings")
    return spark.read.schema(_POSTINGS_READ_SCHEMA).parquet(path)


def footer_rows(files: list[str]) -> int | None:
    """Total rows of parquet ``files`` (local paths or ``file:`` URIs),
    read from their FOOTER metadata on the driver — no Spark job: the
    row bound callers hand dictionary.prefix_offsets. None (no bound)
    when there are no files or one is not a local parquet file."""
    import pyarrow.parquet as pq

    paths = [f.removeprefix("file:") for f in files]
    if paths and all(p.endswith(".parquet") and os.path.isfile(p) for p in paths):
        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    return None


def finalize_lite(
    spark: SparkSession,
    index_root: str,
    scheme: str = "BM25",
    min_df: int = 1,
    max_df: int | None = None,
    norm: int = 0,
):
    """The one finalize of a built root (resumable_build's postings/):
    computes the dictionary, doc lengths, conversation bases and corpus
    constants and writes terms/ base/ + stats.json, which records
    ``scheme``, ``norm``, ``min_df`` and ``max_df`` for the block
    encoder (blocks.encode_shards_from_postings) and for open_index. No
    weights artifact — the posting stream is materialized exactly once
    (the tokenize output); weights, and the per-doc L1/L2 norm, are
    computed vectorized inside the shard encoder.

    The dictionary's one source is postings/: term_stats over it, whose
    map-side partial aggregation does the per-partition reduction. A
    term_partials/ directory left in a root built before this layout is
    never read. The postings footer row count bounds the vocabulary with
    no Spark job and picks dictionary.prefix_offsets' route: up to
    SMALL_RANK_ROWS postings the terms rank in one sorted partition, with
    no job before the terms/ write; above it (sf1 is about 6.6M) they
    take the range route, which gives the same ids
    (tests/test_prefix_offsets.py).

    Scaling shape (this phase was the binding flat term of the pipeline
    at small core counts — fixed driver/job barriers, not data volume):
    - TWO composite chains, each ENDING IN ITS OWN ARTIFACT WRITE:
      [dictionary agg → dense ids → terms/] and [doc_lens → conv base
      cumsum + corpus stats → base/]. Unpruned, they run as concurrent
      driver-thread jobs, so neither write waits on the other chain's
      barriers. When min_df/max_df prune, doc lengths count retained
      terms only, so the docs chain runs after terms/ and re-projects
      the postings onto the terms/ just written.
    - corpus stats ride the conversation-level aggregate
      (conv_doc_base_with_stats_ranged) instead of a second full
      doc_lens pass.

    Nothing stays cached: the conv-level aggregate is released after
    the base/ write. Returns (open_index(spark, index_root), base
    DataFrame) — the M1 view reads back the artifacts written here.
    """
    from .dictionary import (
        build_dictionary,
        conv_doc_base_with_stats_ranged,
        project_onto_dictionary,
        term_stats,
    )

    # raw postings deliberately NOT cached — page-cached parquet
    # re-reads are cheaper than JVM cache materialization (measured)
    raw_p = load_postings(spark, index_root)
    raw = raw_p.drop("partition_id")
    terms_path = os.path.join(index_root, "terms")
    pruned = min_df > 1 or max_df is not None
    box: dict = {}
    vocab_bound = footer_rows(
        glob.glob(os.path.join(index_root, "postings", "partition_id=*", "*.parquet"))
    )

    def terms_chain():
        # the write IS the materializing action; a count() first would
        # be one more barrier + pass
        build_dictionary(
            term_stats(raw), min_df=min_df, max_df=max_df, rows=vocab_bound
        ).write.mode("overwrite").parquet(terms_path)

    def docs_chain():
        # doc_lens KEEPS partition_id: the build's conv-range
        # partitioning (conv_partition_map: contiguous conv ranges
        # ascending in partition_id) lets the base cumsum run
        # shuffle-sample-free and checkpoint-free
        if pruned:
            _, doc_lens = project_onto_dictionary(
                raw_p, spark.read.parquet(terms_path),
                ("partition_id", "conv_id", "turn_idx"),
            )
        else:
            doc_lens = raw_p.filter(F.col("is_doc_head") == 1).select(
                "partition_id", "conv_id", "turn_idx", "doc_len"
            )
        base, n_docs, avg_doc_len, release = conv_doc_base_with_stats_ranged(
            doc_lens
        )
        base.write.mode("overwrite").parquet(os.path.join(index_root, "base"))
        release()
        box["base"] = base
        box["stats"] = (n_docs, avg_doc_len)

    if pruned:
        terms_chain()
        docs_chain()
    else:
        _parallel_jobs(terms_chain, docs_chain)
    n_docs, avg_doc_len = box["stats"]
    stats = {"n_docs": n_docs, "avg_doc_len": avg_doc_len, "scheme": scheme,
             "norm": norm, "min_df": min_df, "max_df": max_df}
    _atomic_write_json(os.path.join(index_root, "stats.json"), stats)
    return open_index(spark, index_root), box["base"]


def open_index(spark: SparkSession, index_root: str):
    """Read-only M1 InvertedIndex over a root finalized by finalize_lite.

    Reads terms/, stats.json and postings/ and writes nothing, so the M1
    DataFrame path scores against exactly the dictionary and corpus
    constants the block encoder used (query.wand reads the same files).
    A pruned root (stats.json min_df > 1 or a max_df) re-projects doc
    lengths onto the stored dictionary, as finalize_lite did."""
    path = os.path.join(index_root, "stats.json")
    stats: dict = {}
    if os.path.exists(path):
        with open(path) as fh:
            stats = json.load(fh)
    if not {"min_df", "max_df"} <= stats.keys():
        raise ValueError(
            f"{path} is missing or records no min_df/max_df; run "
            "manifest.finalize_lite on this index_root (with the build's "
            "min_df/max_df), then encode_shards_from_postings"
        )
    terms = spark.read.parquet(os.path.join(index_root, "terms"))
    raw = load_postings(spark, index_root).drop("partition_id")
    return m1_index(raw, terms, stats, build_params(index_root))


def build_single_shard_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_root: str,
    analyzer: str = "reference",
) -> dict:
    """Throwaway block index for an in-query build: tokenize_turns → one
    ``postings/partition_id=0`` shard → finalize_lite →
    encode_shards_from_postings. ``index_root`` must be fresh (the
    postings write refuses an existing shard); nothing here resumes —
    resumable_build's split, manifest and snapshot machinery buy nothing
    for an index that is built once and dropped; it records the same
    build_params as resumable_build. Returns the encode report."""
    tokenize_turns(transcripts, analyzer=analyzer).write.parquet(
        os.path.join(index_root, "postings", "partition_id=0")
    )
    os.makedirs(_manifest_dir(index_root), exist_ok=True)
    _atomic_write_json(
        _build_params_path(index_root),
        {"ngrams": 1, "analyzer": analyzer, "min_distinct_terms": 0},
    )
    finalize_lite(spark, index_root)
    return encode_shards_from_postings(spark, index_root)


def _parallel_jobs(*thunks) -> None:
    """Run independent Spark actions concurrently from driver threads
    (supported: one SparkSession, many jobs; the scheduler interleaves
    their tasks so no job's barrier leaves cores idle). Re-raises the
    first failure. The threads are ``InheritableThread``s, so each job
    carries the caller's local properties (its job group and
    description); plain threads drop them in pinned-thread mode."""
    from pyspark import InheritableThread

    errors: list[BaseException] = []

    def runner(fn):
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 - reraised below
            errors.append(e)

    threads = [InheritableThread(runner, args=(t,)) for t in thunks]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
