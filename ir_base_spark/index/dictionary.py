"""Dictionary (term → id) + exact corpus statistics.

Reference semantics: exact DF/TTF per term
(/root/reference/src/structures/_stat.java:54-62) — NOT
approx_count_distinct; rank-identity needs exact DF (SURVEY §4.5).
Deterministic term ids: the dense rank over (df desc, term asc) — arrival
order (the reference's expandVocabulary,
/root/reference/src/Analyzer/Analyzer.java:126-130) is not reproducible
in a distributed engine, so the canonical ordering is pinned instead
(FIXTURES.md §4). min/max-DF pruning mirrors the DF feature selector
(/root/reference/src/Analyzer/FeatureSelector.java:64-71).

Scale notes (10^12 turns → ~10^8-term dictionary):
- DF/TTF is a single shuffle of pre-aggregated (doc, term) rows keyed by
  term; AQE handles moderate skew.
- Every numbering of the index is an exclusive prefix sum under a total
  order: term ids count rows under (df desc, term asc), the build's
  conversation split sums text bytes under conv_id. prefix_offsets is
  the one routine. It picks its route from a row bound the caller
  already holds: up to SMALL_RANK_ROWS, one sorted partition; above
  (or unknown), range partitions offset by cumulative partition sums
  (a driver-side array of #partitions ints), with no single-partition
  bottleneck.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SMALL_RANK_ROWS = 8_000_000  # prefix_offsets' one-partition row bound
_RANGE_PARTITIONS = 32


def term_stats(raw_postings: DataFrame) -> DataFrame:
    """(term, df, ttf) with exact counts.

    raw_postings already has one row per (doc, term), so DF is count(*)
    — no countDistinct shuffle of doc ids needed.
    """
    return raw_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("ttf"),
    )


def prefix_offsets(
    df: DataFrame, order: list, value: str | None, out_col: str, rows: int | None
) -> DataFrame:
    """``df`` plus ``out_col``, the exclusive prefix sum of ``value``
    under ``order`` (a total order: a unique key), and for a sum
    ``_total``, the grand total, on every row. ``value=None`` counts
    rows: ``out_col`` is then the dense 0-based rank.

    ``rows`` bounds df's row count (None: unknown) and picks the route;
    both give the same rows. Up to SMALL_RANK_ROWS, one partition: a
    count numbers the sorted rows positionally (no Window, as
    functions.ranking.rank_bounded), a sum runs a running-sum window.
    No sample, checkpoint or collect: one sorted partition is
    deterministic. Above, range partitions: a prefix sum within each
    plus the driver-side exclusive sums of the partitions before it.
    """
    v = F.lit(1) if value is None else F.col(value)
    small = rows is not None and rows <= SMALL_RANK_ROWS
    if small and value is None:
        one = df.repartition(1).sortWithinPartitions(*order)
        return one.withColumn(out_col, F.monotonically_increasing_id())
    if small:
        part = df.repartition(1)
    else:
        # cache the input: repartitionByRange SAMPLES the frame for range
        # boundaries before the checkpoint pass materializes it — without
        # the cache every upstream aggregation runs twice (a measured
        # ~1.5s of the sf0.1 split phase)
        df = df.cache()
        part = df.repartitionByRange(_RANGE_PARTITIONS, *order)
    run = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_cum", F.sum(v).over(run)
    )
    if small:
        offs, total = F.lit(0), F.sum(v).over(Window.partitionBy("_pid"))
    else:
        # Pin the range partitions with an eager localCheckpoint, not
        # cache(), before the offsets collect: the offsets job and the
        # returned plan must observe the SAME range boundaries, and
        # repartitionByRange samples its boundaries — two separate
        # evaluations could disagree, silently producing overlapping id
        # ranges (observed as duplicate doc ids at 3.4M docs before this
        # pin). A lost cached partition would recompute through a fresh
        # boundary sample; the checkpoint truncates lineage so a lost
        # block fails LOUDLY instead, and the input cache can go at once.
        local = local.localCheckpoint()
        df.unpersist(blocking=False)
        # exclusive per-partition offsets, summed on the driver in _pid order
        sums = [0] * _RANGE_PARTITIONS
        for pid, s in local.groupBy("_pid").agg(F.sum(v)).collect():
            sums[pid] = s
        starts = list(accumulate(sums, initial=0))
        offs = F.array(*map(F.lit, starts))[F.col("_pid")]
        total = F.lit(starts[-1])
    out = local.withColumn(out_col, (F.col("_cum") - v + offs).cast("long"))
    if value is not None:
        out = out.withColumn("_total", total.cast("long"))
    return out.drop("_pid", "_cum")


def conv_doc_base_with_stats_ranged(
    doc_lens: DataFrame,
) -> tuple:
    """(conv_id, base) doc-id base offsets plus the corpus constants
    (n_docs, avg_doc_len), from ONE conversation-level aggregation of
    doc_lens(partition_id, conv_id, turn_idx, doc_len).

    base(c) = Σ over conversations c' < c (string order) of
    (max(turn_idx)+1), so ``doc_id = base[conv_id] + turn_idx`` is
    globally ascending in (conv_id, turn_idx) — the stable-ordering
    contract — WITHOUT ranking every turn. Ids are gapped where turns
    were dropped (empty/pruned): only the ORDER is load-bearing.
    Requires turn_idx >= 0 (schema contract). The table is
    CONVERSATION-level, so labelling a 10^12-row posting stream is a
    hash lookup + one integer add, not a turn-level shuffle.

    ``partition_id`` is the build's conv-range split (conv_partition_map
    contract: each partition owns a CONTIGUOUS conv_id range, ranges
    ascending in partition_id). The data-defined ranges stand in for
    repartitionByRange, so there is no boundary-sampling pass and no
    checkpoint: partition_id is a DATA column, so any recomputation
    (lost cache block, task retry) reproduces the identical grouping
    and sampled-boundary overlapping ids cannot occur.

    Job shape: one collect (materializes the conv-level aggregate and
    yields per-partition totals = cumsum offsets + corpus stats) and
    whatever single job the caller runs to consume the returned frame
    (the base/ write). The within-partition cumsum is a window over
    partition_id — one group per build partition, conv-level rows, so
    at 10^12 turns with 10^5 build partitions each group holds ~10^4
    conversations: no skew, no single-partition window. avg_doc_len
    equals corpus_stats' avg() bit for bit: doc_len sums are
    integer-exact well below 2^53.

    Returns (base DataFrame(conv_id, base), n_docs, avg_doc_len,
    release) — ``release()`` unpersists the backing conv-level cache
    once the caller has consumed ``base`` (e.g. after the base/ write).
    """
    ext = doc_lens.groupBy("partition_id", "conv_id").agg(
        (F.max("turn_idx") + 1).cast("long").alias("_n"),
        F.count(F.lit(1)).alias("_cnt"),
        F.sum("doc_len").cast("long").alias("_sum"),
    ).cache()
    sums = (
        ext.groupBy("partition_id")
        .agg(
            F.sum("_n").alias("s"),
            F.sum("_cnt").alias("c"),
            F.sum("_sum").alias("l"),
        )
        .collect()
    )
    sums.sort(key=lambda r: r["partition_id"])
    offsets: dict[int, int] = {}
    acc = 0
    n_docs = 0
    len_sum = 0
    for r in sums:
        offsets[r["partition_id"]] = acc
        acc += int(r["s"])
        n_docs += int(r["c"])
        len_sum += int(r["l"])
    avg = (float(len_sum) / n_docs) if n_docs else 0.0
    w = (
        Window.partitionBy("partition_id")
        .orderBy("conv_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if offsets:
        offs = F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        )[F.col("partition_id")]
    else:
        offs = F.lit(0)
    base = (
        ext.withColumn("_cum", F.sum("_n").over(w))
        .withColumn(
            "base", (F.col("_cum") - F.col("_n") + offs).cast("long")
        )
        .select("conv_id", "base")
    )
    return base, n_docs, avg, ext.unpersist


def build_dictionary(
    stats: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    rows: int | None = None,
) -> DataFrame:
    """terms(term, term_id, df, ttf) from ``stats``, the exact
    (term, df, ttf) counts (term_stats), pruned then deterministically
    ranked: term_id is prefix_offsets' dense rank over (df desc, term
    asc). ``rows`` bounds the vocabulary (a postings row count; None:
    unknown) and picks prefix_offsets' route: the same ids either way,
    and up to SMALL_RANK_ROWS no Window and no job before the consumer's
    own."""
    pruned = stats.filter(F.col("df") >= F.lit(min_df))
    if max_df is not None:
        pruned = pruned.filter(F.col("df") <= F.lit(max_df))
    return prefix_offsets(
        pruned, [F.col("df").desc(), F.col("term").asc()], None, "term_id", rows
    ).select("term", "term_id", "df", "ttf")


def project_onto_dictionary(
    raw_postings: DataFrame,
    terms: DataFrame,
    doc_keys: tuple = ("conv_id", "turn_idx"),
) -> tuple[DataFrame, DataFrame]:
    """(postings, doc_lens) re-projected onto a pruned dictionary: the
    postings of retained terms only, with doc_len recomputed over them,
    and doc_lens(*doc_keys, doc_len) for every doc that keeps a term —
    the reference's pass-2 with a frozen CV (SURVEY §3.2). ``doc_keys``
    may lead with partition_id (a conversation never spans two)."""
    kept = raw_postings.drop("doc_len").join(
        F.broadcast(terms.select("term")), "term", "left_semi"
    )
    doc_lens = kept.groupBy(*doc_keys).agg(F.sum("tf").alias("doc_len"))
    return kept.join(doc_lens, list(doc_keys)), doc_lens


def corpus_stats(doc_lens: DataFrame) -> tuple[int, float]:
    """(n_docs, avg_doc_len) — the scalar manifest constants pinned per
    index snapshot (/root/reference/src/Analyzer/Analyzer.java:191,
    238-242; SURVEY §7.3)."""
    row = doc_lens.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("navg")
    ).collect()[0]
    return int(row["n"]), float(row["navg"] or 0.0)
