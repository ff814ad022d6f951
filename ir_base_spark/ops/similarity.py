"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the oracle-checkable baseline (SQL:
list_cosine_similarity); the LSH-bucketed variant is the 100 TB path —
random-hyperplane signatures shrink the candidate set so the shuffle
carries (bucket, id, vec) only within matching buckets. All vector math
stays JVM-side (zip_with / aggregate — codegen, no Python).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    # cast BEFORE multiplying: float32 products would diverge from the
    # double-precision SQL oracle (and lose precision at scale)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """(rank, vec_id, sim6): brute-force cosine top-k against the vector
    with id ``query_vec_id``; the query row itself is excluded. Rounded
    to 6 dp before ranking so ties break identically to the SQL oracle.
    """
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    cand = embeddings.filter(F.col("vec_id") != query_vec_id).crossJoin(
        F.broadcast(q)
    )
    sim = cand.select(
        "vec_id",
        F.round(
            _dot(F.col("embedding"), F.col("qv"))
            / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
            6,
        ).alias("sim6"),
    )
    from ..functions.ranking import rank_bounded

    return rank_bounded(
        sim, [F.col("sim6").desc(), F.col("vec_id").asc()], k
    ).select("rank", "vec_id", "sim6")


def hyperplanes(n_planes: int = 8, dim: int = 32, seed: int = 7) -> list[list[float]]:
    """Deterministic seeded gaussian hyperplanes — shared by the Spark
    plan, the SQL oracle generator, and tests."""
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _bucket_expr(col, planes):
    """Sign-of-projection LSH bucket id as a codegen'd column expression.

    The projection folds left-to-right (F.aggregate is a sequential
    fold), matching the SQL oracle's left-associated unrolled sum — the
    sign comparison is therefore bit-identical across engines.

    The vector is sliced to the plane dimension first: zip_with would
    null-pad a longer embedding (null products → null sum → every bit 0
    → one giant bucket, i.e. silent non-pruning).
    """
    bucket = None
    dim = len(planes[0])
    sliced = F.slice(col, 1, dim)
    for i, pl in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                sliced,
                F.array(*[F.lit(x) for x in pl]),
                lambda a, b: a.cast("double") * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket


def ann_bucket_table(
    embeddings: DataFrame, n_planes: int = 8, dim: int = 32, seed: int = 7
) -> DataFrame:
    """(vec_id, bucket, embedding): the precomputed ANN index table.

    At scale this is computed ONCE per snapshot and persisted
    ``.write.bucketBy(B, "bucket")`` (or Iceberg-partitioned by bucket),
    so query time never rescans/rehashes the corpus — queries join their
    (few) probe buckets against a bucket-pruned scan.
    """
    planes = hyperplanes(n_planes=n_planes, dim=dim, seed=seed)
    return embeddings.select(
        "vec_id",
        _bucket_expr(F.col("embedding"), planes).alias("bucket"),
        "embedding",
    )


def _neighbor_bucket_col(n_planes: int):
    """qbucket + its Hamming-1 probes as an array column."""
    return F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)],
    )


def ann_lsh_topk_batch(
    embeddings: DataFrame,
    query_vec_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    dim: int = 32,
    bucket_table: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, vec_id, sim6): multi-probe LSH ANN for a BATCH of
    queries against the precomputed bucket table.

    Plan shape at 100 TB: queries (tiny) broadcast with their probe
    buckets; ONE bucket-pruned join against the persisted bucket table
    yields candidates; exact cosine re-rank; per-query bounded top-k via
    a window PARTITIONED by query_id (never a global no-partition
    window). A vector has exactly one bucket and probe lists are
    distinct, so no candidate dedup pass is needed.
    """
    bt = bucket_table if bucket_table is not None else ann_bucket_table(
        embeddings, n_planes=n_planes, dim=dim
    )
    ids = list(query_vec_ids)
    qv = bt.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    probes = qv.select(
        "query_id",
        "qv",
        F.explode(_neighbor_bucket_col(n_planes)).alias("bucket"),
    )
    cand = bt.join(F.broadcast(probes), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    sim = cand.select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("embedding"), F.col("qv"))
            / (_norm(F.col("embedding")) * _norm(F.col("qv"))),
            6,
        ).alias("sim6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim6").desc(), F.col("vec_id").asc()
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "sim6")
    )


def ann_lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 32,
    bucket_table: DataFrame | None = None,
) -> DataFrame:
    """Single-query multi-probe LSH ANN: bucket-pruned candidates, exact
    cosine re-rank, distributed bounded-heap top-k
    (``orderBy().limit(k)`` → TakeOrderedAndProject) and THEN the rank
    window over only k rows."""
    out = ann_lsh_topk_batch(
        embeddings,
        [query_vec_id],
        k=k,
        n_planes=n_planes,
        dim=dim,
        bucket_table=bucket_table,
    )
    return out.select("rank", "vec_id", "sim6")


def dedup_embedding(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 4,
    planes_per_band: int = 6,
    dim: int = 32,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup removal: banded hyperplane LSH
    candidates → exact-cosine verify → min-id survivors.

    The embedding-space sibling of ops/textops.dedup_near (MinHash) —
    the dedup a pipeline runs when near-duplicates are paraphrases
    rather than copies. Each band packs ``planes_per_band`` projection
    signs into one bucket int; vectors colliding with their band
    bucket's MIN-id anchor become candidate pairs (O(m) per duplicate
    cluster per band, never O(m²) — no self-join). Candidates verify
    with exact double cosine rounded to 6 dp (cross-engine-stable
    comparison), and a vector is removable when it verifies against a
    smaller-id anchor — the same keep-min-id convention as dedup_exact
    / dedup_near, with the same anchor-transitivity recall trade.

    Output: (vec_id, is_dup, dup_of).
    """
    planes = hyperplanes(
        n_planes=bands * planes_per_band, dim=dim, seed=seed
    )
    sig_cols = []
    for b in range(bands):
        pl = planes[b * planes_per_band : (b + 1) * planes_per_band]
        sig_cols.append(_bucket_expr(F.col("embedding"), pl))
    # ONE posexplode over the per-band bucket array + ONE min-anchor
    # window keyed by (band, bucket) — the minhash_lsh_candidates
    # shape. The previous form ran a separate groupBy+join+union chain
    # per band, each branch re-deriving every band signature from the
    # raw embeddings (bands× the projection work and a 42-Exchange
    # plan); same emitted pair set (min-id anchor per bucket per band).
    banded = embeddings.select(
        "vec_id",
        F.posexplode(F.array(*sig_cols)).alias("band", "bk"),
    )
    w = Window.partitionBy("band", "bk")
    cand = (
        banded.withColumn("anchor", F.min("vec_id").over(w))
        .filter(F.col("vec_id") > F.col("anchor"))
        .select(
            F.col("anchor").alias("vec_a"), F.col("vec_id").alias("vec_b")
        )
        .distinct()
    )

    a = embeddings.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")
    )
    bb = embeddings.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")
    )
    verified = (
        cand.join(a, "vec_a")
        .join(bb, "vec_b")
        .withColumn(
            "sim6",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (_norm(F.col("ea")) * _norm(F.col("eb"))),
                6,
            ),
        )
        .filter(F.col("sim6") >= F.lit(threshold))
        .select("vec_a", "vec_b")
    )
    dup_of = verified.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("dup_of")
    )
    return (
        embeddings.select("vec_id")
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
        )
    )


def ann_ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_clusters: int = 4,
    iterations: int = 2,
    nprobe: int = 2,
) -> DataFrame:
    """(rank, vec_id, sim6): IVF approximate nearest neighbour — the
    coarse-quantizer counterpart to the hyperplane-LSH route.

    Train: deterministic cosine KMeans (ops/kmeans.kmeans_cosine) is
    the coarse quantizer; every vector is assigned to its nearest
    centroid (the inverted lists). Query: rank centroids by cosine
    distance to the query, search the ``nprobe`` closest lists only,
    exact-cosine re-rank, bounded top-k.

    Scale shape: the centroid table is n_clusters x dim (driver-literal
    — K·dim doubles in every task closure); at 100 TB the assignment
    column is persisted ``bucketBy(n_clusters, "cluster")`` exactly
    like the LSH bucket table, so a query scans only its probed lists.
    All vector math is zip_with/aggregate codegen; no UDFs, no cross
    join beyond the broadcast 1-row query vector.

    Optimization-round shape: the quantizer trains via
    kmeans_train_cents (per-iteration centroid collect — no lineage
    pyramid; the old plan re-executed every Lloyd iteration per
    reference, 490 Exchange / 8271 plan lines, ~4 after). Probe
    selection is one array_sort over the K (cdist, c) structs computed
    against the query row — array_sort orders nulls LAST, matching the
    DuckDB oracle's ORDER BY cdist ASC (the round-5 ADVICE nulls item);
    candidate filtering and the exact-cosine re-rank are ONE map-side
    pass over the assignment column with the broadcast query row.
    """
    import math

    from .kmeans import _fold_dot, kmeans_assign_expr, kmeans_train_cents

    v = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    cents = kmeans_train_cents(v, k=n_clusters, iterations=iterations)

    # 1-row query frame: exact vector + its nprobe probe clusters,
    # ranked by (cdist asc NULLS LAST, c asc) via array_sort
    qv_col = F.col("embedding").cast("array<double>")
    qn = _norm(qv_col)
    alts = []
    for c, cv in enumerate(cents):
        cn = math.sqrt(sum(x * x for x in cv))
        cdist = F.round(
            F.lit(1.0) - _fold_dot(qv_col, cv) / F.lit(cn) / qn, 9
        )
        alts.append(F.struct(cdist.alias("cdist"), F.lit(c).alias("c")))
    probes_col = F.transform(
        F.slice(F.array_sort(F.array(*alts)), 1, nprobe), lambda s: s["c"]
    )
    qrow = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv"), probes_col.alias("probes")
    )

    # map-only: assign each vector to its list, keep only probed lists,
    # exact-cosine re-rank against the broadcast query row
    sim = (
        v.withColumn("c", kmeans_assign_expr(F.col("vec"), cents)["c"])
        .filter(F.col("id") != query_vec_id)
        .crossJoin(F.broadcast(qrow))
        .filter(F.array_contains(F.col("probes"), F.col("c")))
        .select(
            F.col("id").alias("vec_id"),
            F.round(
                _dot(F.col("vec"), F.col("qv"))
                / (_norm(F.col("vec")) * _norm(F.col("qv"))),
                6,
            ).alias("sim6"),
        )
    )
    from ..functions.ranking import rank_bounded

    return rank_bounded(
        sim, [F.col("sim6").desc(), F.col("vec_id").asc()], k
    ).select("rank", "vec_id", "sim6")
