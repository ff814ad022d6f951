"""Dictionary (term → id) + exact corpus statistics.

Reference semantics: exact DF/TTF per term
(/root/reference/src/structures/_stat.java:54-62) — NOT
approx_count_distinct; rank-identity needs exact DF (SURVEY §4.5).
Deterministic term ids: row_number over (df desc, term asc) — arrival
order (the reference's expandVocabulary,
/root/reference/src/Analyzer/Analyzer.java:126-130) is not reproducible
in a distributed engine, so the canonical ordering is pinned instead
(FIXTURES.md §4). min/max-DF pruning mirrors the DF feature selector
(/root/reference/src/Analyzer/FeatureSelector.java:64-71).

Scale notes (10^12 turns → ~10^8-term dictionary):
- DF/TTF is a single shuffle of pre-aggregated (doc, term) rows keyed by
  term; AQE handles moderate skew.
- Term-id assignment avoids a single-partition global window: terms are
  range-partitioned on the sort key, ranked within partitions, and offset
  by cumulative partition counts (a driver-side array of #partitions
  ints); up to SMALL_RANK_ROWS, one sorted partition is cheaper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SMALL_RANK_ROWS = 8_000_000  # vocabulary bound for small_rank callers


def term_stats(raw_postings: DataFrame) -> DataFrame:
    """(term, df, ttf) with exact counts.

    raw_postings already has one row per (doc, term), so DF is count(*)
    — no countDistinct shuffle of doc ids needed.
    """
    return raw_postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("ttf"),
    )


def assign_dense_ids(
    df: DataFrame,
    order_cols: list,
    id_name: str,
    num_partitions: int = 32,
) -> DataFrame:
    """Deterministic dense 0-based ids = row_number over ``order_cols``.

    Distributed two-phase ranking: range-partition by the sort key, rank
    within each partition, add exclusive cumulative offsets (a driver
    array of #partitions ints). Equivalent to a global-window row_number
    but with no single-partition bottleneck — safe for 10^8-term
    dictionaries and 10^12-row doc maps alike. ``order_cols`` must be a
    total order (unique key) for determinism.
    """
    # the ranked frame is traversed twice (sizes collect + final select);
    # cache the input (so upstream aggs don't recompute during the
    # boundary-sampling passes), then pin the ranked frame with an EAGER
    # localCheckpoint: repartitionByRange samples its boundaries, and
    # the two traversals must observe the SAME partition assignment or
    # the per-partition offsets are applied to the wrong partitions. A
    # plain cache() is not enough at scale — a lost cached partition
    # would silently recompute through a fresh boundary sample (the
    # overlapping-id hazard); the checkpoint truncates lineage so a lost
    # block fails LOUDLY instead, and the input cache can be released
    # immediately because nothing can recompute through it.
    df = df.cache()
    ordered = df.repartitionByRange(num_partitions, *order_cols)
    with_pid = ordered.withColumn("_pid", F.spark_partition_id())
    # local 1-based rank within each range partition
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    local = with_pid.withColumn("_rk", F.row_number().over(w)).localCheckpoint()
    # <= num_partitions rows: sorted on the driver, not in a Spark stage
    sizes = sorted(
        local.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect(),
        key=lambda r: r["_pid"],
    )
    df.unpersist()
    if not sizes:
        return local.withColumn(id_name, (F.col("_rk") - 1).cast("long")).drop(
            "_pid", "_rk"
        )
    offsets = {}
    acc = 0
    for row in sizes:
        offsets[row["_pid"]] = acc
        acc += row["n"]
    offs = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return (
        local.withColumn(id_name, (F.col("_rk") - 1 + offs[F.col("_pid")]).cast("long"))
        .drop("_pid", "_rk")
    )


def assign_term_ids(stats: DataFrame, num_partitions: int = 32) -> DataFrame:
    """Deterministic dense term ids: row_number over (df desc, term asc)
    (FIXTURES.md §4)."""
    return assign_dense_ids(
        stats,
        [F.col("df").desc(), F.col("term").asc()],
        "term_id",
        num_partitions=num_partitions,
    )


def two_phase_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum_before",
    num_partitions: int = 32,
) -> DataFrame:
    """Exclusive prefix sum of ``value_col`` under ``order_col`` order,
    fully distributed: range-partition on the key, window-cumsum within
    each partition, add #partitions driver offsets. Returns the input
    columns plus ``out_col`` (sum of all values strictly before this
    row) and ``_total`` (grand total, same on every row).

    The partitioned+ranked frame is pinned with an eager localCheckpoint
    before the offsets collect: the offsets job and the returned plan
    must observe the SAME range boundaries, and repartitionByRange
    samples its boundaries — two separate evaluations could disagree,
    silently producing overlapping id ranges (observed as duplicate doc
    ids at 3.4M docs before this pin)."""
    # cache the input: repartitionByRange SAMPLES the frame for range
    # boundaries before the checkpoint pass materializes it — without
    # the cache every upstream aggregation runs twice (assign_dense_ids
    # already does this; a measured ~1.5s of the sf0.1 split phase)
    df = df.cache()
    part = df.repartitionByRange(num_partitions, F.col(order_col).asc())
    with_pid = part.withColumn("_pid", F.spark_partition_id())
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # eager localCheckpoint, not cache(): same overlapping-id hazard as
    # assign_dense_ids — a lost cached partition would recompute through
    # a fresh boundary sample; the checkpoint truncates lineage so the
    # boundaries observed by the offsets job are the only ones possible.
    local = with_pid.withColumn("_cum", F.sum(value_col).over(w)).localCheckpoint()
    df.unpersist(blocking=False)
    sums = sorted(
        local.groupBy("_pid").agg(F.sum(value_col).alias("s")).collect(),
        key=lambda r: r["_pid"],
    )
    offsets = {}
    acc = 0
    for row in sums:
        offsets[row["_pid"]] = acc
        acc += row["s"]
    if not offsets:
        return local.withColumn(out_col, F.lit(0).cast("long")).withColumn(
            "_total", F.lit(0).cast("long")
        ).drop("_pid", "_cum")
    offs = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return (
        local.withColumn(
            out_col,
            (F.col("_cum") - F.col(value_col) + offs[F.col("_pid")]).cast("long"),
        )
        .withColumn("_total", F.lit(acc).cast("long"))
        .drop("_pid", "_cum")
    )


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


def term_stats_from_partials(partials: DataFrame) -> DataFrame:
    """(term, df, ttf) from build-time per-partition partial aggregates
    (manifest.load_term_partials). Exact: df/ttf are sums of disjoint
    per-partition counts — the final-agg half of the partial+final
    pattern, with the partial half already paid during the build wave
    while the postings were page-hot."""
    return partials.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("ttf").cast("long").alias("ttf"),
    )


def build_dictionary(
    raw_postings: DataFrame,
    min_df: int = 1,
    max_df: int | None = None,
    num_partitions: int = 32,
    stats: DataFrame | None = None,
    small_rank: bool = False,
) -> DataFrame:
    """terms(term, term_id, df, ttf), pruned then deterministically
    ranked. ``stats``: precomputed (term, df, ttf) — e.g.
    term_stats_from_partials — replacing the full-postings aggregation
    (values must be identical; the id ranking depends on exact df).

    ``small_rank``: sort in ONE partition on (df desc, term asc) and
    number rows positionally (as functions.ranking.rank_bounded does):
    identical ids, no Window, and no job before the consumer's own (the
    two-phase rank runs a range sample, a checkpoint, a sizes collect).
    A total order sorted in one partition is deterministic, so no
    checkpoint pins the ids: every evaluation recomputes the same ones.
    Callers gate it on SMALL_RANK_ROWS; 10^8-term vocabularies must
    keep the distributed path."""
    if stats is None:
        stats = term_stats(raw_postings)
    pruned = stats.filter(F.col("df") >= F.lit(min_df))
    if max_df is not None:
        pruned = pruned.filter(F.col("df") <= F.lit(max_df))
    if small_rank:
        return (
            pruned.repartition(1)
            .sortWithinPartitions(F.col("df").desc(), F.col("term").asc())
            .withColumn("term_id", F.monotonically_increasing_id())
            .select("term", "term_id", "df", "ttf")
        )
    return assign_term_ids(pruned, num_partitions=num_partitions).select(
        "term", "term_id", "df", "ttf"
    )


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
