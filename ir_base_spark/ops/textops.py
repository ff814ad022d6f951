"""Large-scale text-pipeline operators over a documents table.

Everything here is pure Catalyst column algebra (whole-stage codegen; no
Python UDFs) unless noted — the tokenizer used for SQL-verifiable ops is
``lower + split('[^a-z0-9]+')`` so each operator has an exact DuckDB
oracle. Reference analogs cited per function; the scale notes say what
each plan does at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..text.stopwords import RAW_STOPWORDS

SPLIT_RE = "[^a-z0-9]+"


def simple_tokens(documents: DataFrame) -> DataFrame:
    """(doc_id, term) exploded token stream — scan-side projection keeps
    only (doc_id, text); Catalyst prunes every other column."""
    return (
        documents.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), SPLIT_RE)).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def token_counts(documents: DataFrame) -> DataFrame:
    """TF per (doc, term) — constructSpVct analog
    (/root/reference/src/Analyzer/DocAnalyzer.java:377-423). One shuffle
    on (doc_id, term); partial aggregation is map-side."""
    return (
        simple_tokens(documents)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_stats(documents: DataFrame) -> DataFrame:
    """Exact DF/TTF per term (_stat analog,
    /root/reference/src/structures/_stat.java:54-62)."""
    return (
        token_counts(documents)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf"))
    )


def term_percentile_slice(
    documents: DataFrame, start: float = 0.4, end: float = 0.9
) -> DataFrame:
    """DF-ranked percentile slice of the dictionary — the feature-selection
    percentile cut (/root/reference/src/Analyzer/FeatureSelector.java:47-61):
    sort terms ascending by DF, keep [start, end) of the distribution.

    Rank is dictionary.prefix_offsets' dense rank, routed by the term
    count (one sorted partition up to SMALL_RANK_ROWS terms, else range
    partitions: no global single-partition window for a ~10^8-term
    dictionary); percent_rank == rk/(n-1) because (df, term) is a total
    order."""
    from ..index.dictionary import prefix_offsets

    stats = term_stats(documents)
    n = stats.count()  # small agg; recomputed (no cache pinned on stats)
    if n <= 1:
        return stats.select("term", "df", "ttf").limit(0)
    ranked = prefix_offsets(
        stats, [F.col("df").asc(), F.col("term").asc()], None, "_rk", n
    )
    pr = F.col("_rk") / float(n - 1)
    return (
        ranked.filter((pr >= start) & (pr < end))
        .select("term", "df", "ttf")
    )


def lm_topk(
    documents: DataFrame,
    query_terms: list[str],
    mu: float = 800.0,
    k: int = 20,
    background: str = "corpus",
) -> DataFrame:
    """Query-likelihood language-model retrieval with Dirichlet smoothing.

    score(q,d) = Σ_t qtf·ln((tf_td + μ·p(t)) / (dl_d + μ)) — the
    reference's rankChild4StnByLikelihood with the corpus reference
    model (/root/reference/src/topicmodels/
    languageModelBaseLine.java:41-66,204-238; μ default 800). ALL docs
    are scored (smoothing gives absent terms mass), so the plan is
    doc-lengths × query-terms (broadcast) left-joined with matched TFs.

    background:
      "corpus"  — p(t) = TTF(t)/ΣTTF (unsmoothed reference model);
      "add_one" — p(t) = (1+TTF(t))/(ΣTTF+V), the reference's add-one
      background (_Corpus.getBackgroundProb,
      /root/reference/src/structures/_Corpus.java:161-177).
    """
    tf = token_counts(documents).withColumn("tf", F.col("tf").cast("double"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    ttf = tf.groupBy("term").agg(F.sum("tf").alias("ttf"))
    total = ttf.agg(
        F.sum("ttf").alias("T"), F.count(F.lit(1)).cast("double").alias("V")
    )
    if background == "add_one":
        p_expr = (F.lit(1.0) + F.col("ttf")) / (F.col("T") + F.col("V"))
    elif background == "corpus":
        p_expr = F.col("ttf") / F.col("T")
    else:
        raise ValueError(f"unknown background model: {background}")
    p = ttf.crossJoin(F.broadcast(total)).select("term", p_expr.alias("p"))
    q = tf.sparkSession.createDataFrame(
        [(t,) for t in query_terms], "term string"
    )
    qp = p.join(F.broadcast(q), "term", "inner")  # OOV terms drop (p=0)
    pairs = dl.crossJoin(F.broadcast(qp))
    matched = pairs.join(tf, ["doc_id", "term"], "left").withColumn(
        "tf", F.coalesce(F.col("tf"), F.lit(0.0))
    )
    contrib = F.log(
        (F.col("tf") + F.lit(mu) * F.col("p")) / (F.col("dl") + F.lit(mu))
    )
    from ..functions.ranking import rank_bounded

    scores = matched.groupBy("doc_id").agg(
        F.round(F.sum(contrib), 6).alias("score6")
    )
    return rank_bounded(
        scores, [F.col("score6").desc(), F.col("doc_id").asc()], k
    ).select("rank", "doc_id", "score6")


def child_ranking_lm(
    children: DataFrame,
    stn: DataFrame,
    mu: float = 1000.0,
) -> DataFrame:
    """Rank each parent's child docs against the parent's sentence by
    smoothed language-model likelihood — the reference's
    rankChild4StnByLanguageModel composition
    (/root/reference/src/topicmodels/languageModelBaseLine.java:167-201;
    smoothingMu = 1000): for child c of parent p and sentence s,

        score(s, c) = Σ_t stn_tf(t) · ln((1-α_c)·tf_c(t)/len_c + α_c·p(t))
        α_c = μ / (μ + len_c),   p(t) = TTF(t)/ΣTTF over the child corpus

    Inputs: ``children`` (parent_id, child_id, text) and ``stn``
    (parent_id, stn_text). Output: (parent_id, child_id, rank, score6),
    rank per parent by (score desc, child_id asc).

    Plan shape: the candidate restriction IS the join key — every join
    is keyed (parent_id[, term]), so the per-parent work is bounded by
    |stn terms| × |children of p| (the reference's nested loop), never
    corpus-wide. The background model is a term-keyed broadcast; the
    per-parent rank window is partitioned (no global window).
    """
    ctok = children.select(
        "parent_id",
        "child_id",
        F.explode(F.split(F.lower(F.col("text")), SPLIT_RE)).alias("term"),
    ).filter(F.col("term") != "")
    ctf = ctok.groupBy("parent_id", "child_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    clen = ctf.groupBy("parent_id", "child_id").agg(
        F.sum("tf").alias("clen")
    )
    ttf = ctf.groupBy("term").agg(F.sum("tf").alias("ttf"))
    total = ttf.agg(F.sum("ttf").alias("T"))
    p = ttf.crossJoin(F.broadcast(total)).select(
        "term", (F.col("ttf") / F.col("T")).alias("p")
    )
    stok = stn.select(
        "parent_id",
        F.explode(F.split(F.lower(F.col("stn_text")), SPLIT_RE)).alias("term"),
    ).filter(F.col("term") != "")
    stf = stok.groupBy("parent_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("stn_tf")
    )
    pairs = (
        stf.join(p, "term")  # OOV stn terms cannot occur: stn ⊆ corpus? no —
        # a stn term absent from every child has p(t)=0 and tf=0 → ln(0);
        # the reference indexes m_wordSstat by the shared vocabulary, so
        # terms outside the child corpus vocabulary drop here (inner join)
        .join(clen, "parent_id")
        .join(
            ctf.withColumnRenamed("tf", "ctf_val"),
            ["parent_id", "child_id", "term"],
            "left",
        )
        .withColumn("ctf_val", F.coalesce(F.col("ctf_val"), F.lit(0.0)))
    )
    alpha = F.lit(mu) / (F.lit(mu) + F.col("clen"))
    contrib = F.col("stn_tf") * F.log(
        (F.lit(1.0) - alpha) * F.col("ctf_val") / F.col("clen")
        + alpha * F.col("p")
    )
    scores = pairs.groupBy("parent_id", "child_id").agg(
        F.round(F.sum(contrib), 6).alias("score6")
    )
    w = Window.partitionBy("parent_id").orderBy(
        F.col("score6").desc(), F.col("child_id").asc()
    )
    return scores.withColumn("rank", F.row_number().over(w)).select(
        "parent_id", "child_id", "rank", "score6"
    )


# ------------------------------------------------------------------ dedup

def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash (hash-groupBy dedup).

    At 100 TB: md5 computed scan-side (codegen), shuffle carries only
    (hash, doc_id) — never the text."""
    return (
        documents.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def _shingles(col, n: int = 3):
    """Distinct character n-gram shingle array — codegen'd as zip_with
    over n-1 shifted copies of the char array, then a slice to the
    window count and array_distinct.

    NOT substring(t, i, n) in a transform: UTF8String.substring is
    O(i) (it scans from the string head to find the code-point
    offset), making the sliding window O(L²) per document — a measured
    3.5s of the 5s minhash_lsh entry at sf0.1. And NOT slice/array_join
    over a char array referenced inside a transform lambda: expressions
    closed over by a lambda re-evaluate per ELEMENT (no cross-lambda
    subexpression elimination), which re-split the string L times.
    zip_with children are evaluated once per row and its lambda touches
    only its own variables, so this form is O(n·L) per row. The
    coalesce('') padding reproduces substring's short-window behavior
    for strings shorter than n; verified equal to the substring form on
    empty/short/multibyte inputs."""
    t = F.lower(col)
    cs = F.split(t, "")
    win = cs
    for j in range(1, n):
        win = F.zip_with(
            win,
            F.slice(cs, j + 1, F.greatest(F.size(cs), F.lit(1))),
            lambda a, b: F.concat(a, F.coalesce(b, F.lit(""))),
        )
    return F.array_distinct(
        F.slice(win, 1, F.greatest(F.length(t) - (n - 1), F.lit(1)))
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    shingle: int = 3,
    max_doc_id: int | None = 200,
) -> DataFrame:
    """Near-duplicate pairs by character-3-gram Jaccard.

    This is the exact (quadratic) variant used as the oracle-checkable
    baseline on a bounded id range; minhash_lsh_candidates is the scale
    path (candidate generation without the cross join). Jaccard =
    |A∩B|/|A∪B| via sort-merge of exploded shingles — the reference's
    sorted-vector jaccard (/root/reference/src/utils/Utils.java:343-362).
    """
    docs = documents
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    sh = docs.select(
        "doc_id", F.explode(_shingles(F.col("text"), shingle)).alias("sh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b_ = sh.alias("b")
    inter = (
        a.join(b_, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = 32,
    shingle: int = 3,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: h_i(x) = (a_i·x + b_i) mod p over xxhash64
    shingle keys — all codegen'd column math, no UDF.

    (doc_id, sig: array<bigint>). Deterministic (fixed seed constants).
    ``shingle_arrays`` (doc_id, sh array) reuses a precomputed (e.g.
    cached) shingle table instead of re-deriving it from the text —
    dedup_near shares one shingle pass between candidate generation
    and verification.
    """
    # 31-bit Mersenne prime: (x % p) * a + b stays far below 2^63, so the
    # expression is safe under ANSI overflow checking
    p = (1 << 31) - 1
    import random

    rnd = random.Random(20240816)
    coeffs = [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_hashes)]
    if shingle_arrays is None:
        shingle_arrays = documents.select(
            "doc_id", _shingles(F.col("text"), shingle).alias("sh")
        )
    sh = shingle_arrays.select(
        "doc_id", F.explode(F.col("sh")).alias("sh")
    ).withColumn("x", F.pmod(F.xxhash64(F.col("sh")), F.lit(p)))
    mins = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(p)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    documents: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    all_pairs: bool = False,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """LSH banding → candidate pairs (doc_a < doc_b).

    Default (``all_pairs=False``) is MIN-ANCHOR emission — the 100 TB
    shape: per (band, band_hash) bucket only the pairs
    (min_doc_in_bucket, other) are emitted, so a duplicate cluster of m
    docs costs O(m) candidate rows per band instead of the O(m²)
    all-pairs blowup (measured pathological on dup-heavy corpora). One
    window aggregation keyed by the bucket — no self-join at all. Every
    doc that shares a bucket with the cluster minimum is still paired
    with it, which is exactly what the min-id survivor rule of
    ``dedup_near`` consumes; transitive chains whose ends never share a
    bucket trade recall for the m² bound (standard LSH-dedup practice).

    ``all_pairs=True`` keeps the exhaustive same-bucket self-join for
    bounded corpora where full pair recall matters.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(
        documents,
        num_hashes=num_hashes,
        shingle=shingle,
        shingle_arrays=shingle_arrays,
    )
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("sig")[i] for i in range(b * rows, (b + 1) * rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "bh"),
    )
    if not all_pairs:
        w = Window.partitionBy("band", "bh")
        return (
            banded.withColumn("anchor", F.min("doc_id").over(w))
            .filter(F.col("doc_id") > F.col("anchor"))
            .select(
                F.col("anchor").alias("doc_a"), F.col("doc_id").alias("doc_b")
            )
            .distinct()
        )
    a = banded.alias("a")
    b_ = banded.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash64(documents: DataFrame) -> DataFrame:
    """64-bit SimHash over token xxhash64 bit votes — pure column algebra.

    The 64 per-bit weighted-majority votes are 64 conditional-sum
    aggregates in ONE groupBy (the minhash_signatures shape): no row
    blowup, one shuffle of (doc_id, 64 longs) — vs the naive
    explode(sequence(0,63)) plan that inflates the token stream 64×.

    (doc_id, simhash: bigint)."""
    tf = token_counts(documents).withColumn("h", F.xxhash64(F.col("term")))
    votes = [
        F.sum(
            F.when(
                F.expr(f"(shiftright(h, {b}) & 1L) = 1L"), F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"v{b}")
        for b in range(64)
    ]
    agg = tf.groupBy("doc_id").agg(*votes)
    # assemble the fingerprint: sum of distinct powers of two == bitwise
    # OR; shiftleft(1L, 63) is the sign bit (two's complement), exactly
    # the uint64 bit pattern reinterpreted as long
    sim = None
    for b in range(64):
        bit = F.when(
            F.col(f"v{b}") > 0, F.expr(f"shiftleft(1L, {b})")
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.alias("simhash"))


# ------------------------------------------------------- text statistics

_STOP_ARR = sorted({w for w in RAW_STOPWORDS if "'" not in w})


ADJ_ADV_TAGS = ["JJ", "JJR", "JJS", "RB", "RBR", "RBS"]


def pos_projection(
    documents: DataFrame,
    tokens_col: str = "tokens",
    tags_col: str = "pos_tags",
    keep: list[str] | None = None,
) -> DataFrame:
    """POS-projected sparse vectors: keep only adjective/adverb tokens
    and count per (doc, term) — constructPOSSpVct
    (/root/reference/src/Analyzer/DocAnalyzer.java:426-452: tag ∈
    {JJ,JJR,JJS,RB,RBR,RBS} and isLegit, then tf counting).

    The TAGGER is pluggable by design: this op consumes a ``pos_tags``
    array column positionally aligned with ``tokens`` (the container
    ships no POS model, and at 100 TB tagging is its own batch job —
    e.g. a mapInPandas over a broadcast model — whose output is exactly
    this column pair). Plan: arrays_zip keeps token/tag alignment
    through ONE explode (no positional join), the tag + legit filters
    run scan-side before the single (doc_id, term) shuffle.

    Output: (doc_id, term, tf).
    """
    keep = list(ADJ_ADV_TAGS if keep is None else keep)
    z = documents.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.col(tokens_col).alias("term"), F.col(tags_col).alias("tag")
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.term").alias("term"), F.col("p.tag").alias("tag"))
    legit = (
        (F.length("term") > 1)
        & (F.length("term") < 20)
        & ~F.col("term").isin(_STOP_ARR)
    )
    return (
        z.filter(F.col("tag").isin(keep) & legit)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-doc quality stats: token count, mean token length, stopword
    ratio, digit-token ratio, punctuation density — the quality-feature
    family of the reference's ranking features (stopword proportion,
    /root/reference/src/structures/TokenizeResult.java:10-51; length
    features, L2RMetricLearning.genRankingFV
    /root/reference/src/Classifier/metricLearning/L2RMetricLearning.java:347-383).

    All expressible in SQL: aggregates over the exploded token stream.
    """
    tok = simple_tokens(documents)
    stop_set = F.array(*[F.lit(w) for w in _STOP_ARR])
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(F.length("term")), 6).alias("mean_tok_len"),
        F.round(
            F.avg(F.array_contains(stop_set, F.col("term")).cast("double")), 6
        ).alias("stopword_ratio"),
        F.round(
            F.avg(F.col("term").rlike("^[0-9]+$").cast("double")), 6
        ).alias("digit_ratio"),
    )
    return per_doc


def langid_en(documents: DataFrame, threshold: float = 0.08) -> DataFrame:
    """Heuristic language ID: English iff stopword ratio >= threshold
    (n-gram/stopword heuristic — deterministic, SQL-checkable)."""
    return text_stats(documents).select(
        "doc_id",
        (F.col("stopword_ratio") >= threshold).cast("int").alias("is_en"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite quality score in [0,1]: favors mid-length docs with low
    digit density and a natural stopword rate."""
    s = text_stats(documents)
    score = (
        F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(F.col("digit_ratio") * 4.0, F.lit(1.0))) * 0.3
        + F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0)) * 0.3
    )
    # portable 6-dp rounding: floor(x*1e6 + 0.5)/1e6 is the same IEEE op
    # sequence in every engine (decimal-round half-up implementations
    # disagree on exact .5 boundaries across engines)
    quality = F.floor(score * 1000000.0 + 0.5) / 1000000.0
    return s.select("doc_id", quality.alias("quality"))


def dedup_near(
    documents: DataFrame,
    threshold: float = 0.6,
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
) -> DataFrame:
    """End-to-end near-dup removal: LSH candidates → exact-Jaccard verify
    → survivor set. The composition a training pipeline actually runs.

    Plan: minhash_lsh_candidates prunes to same-bucket pairs (NO cross
    join anywhere); the verify stage joins each candidate pair's two
    distinct-shingle arrays (pairs are few — LSH already filtered) and
    computes exact Jaccard via array_intersect, all codegen. A doc is
    removed when it has a verified near-dup with a smaller doc_id
    (min-id survivor rule, the keep_doc_id convention of dedup_exact).

    Output: (doc_id, is_dup, dup_of) — is_dup=1 rows are removable;
    dup_of is the smallest verified near-dup anchor below it.

    Scale note (closed): candidates use MIN-ANCHOR emission
    (minhash_lsh_candidates default), so a duplicate cluster of m docs
    yields O(m) candidate pairs per band, never O(m²) — the verify
    stage's cost is linear in cluster size. A doc is removed when it
    verifies against a smaller-id bucket anchor; docs that only chain
    to the anchor transitively (never sharing a bucket with it) are
    kept — the standard recall trade of anchor-based LSH dedup.
    """
    # ONE shingle pass, cached: candidate generation explodes it, the
    # verify stage reads the arrays twice (a/b sides) — it fills on
    # first use inside the caller's single action
    sh = documents.select(
        "doc_id", _shingles(F.col("text"), shingle).alias("sh")
    ).cache()
    cand = minhash_lsh_candidates(
        documents,
        num_hashes=num_hashes,
        bands=bands,
        shingle=shingle,
        shingle_arrays=sh,
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )
    dup_of = verified.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("dup_of")
    )
    return (
        documents.select("doc_id")
        .join(dup_of, "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().cast("int").alias("is_dup"),
            "dup_of",
        )
    )


def shuffled_sample(documents: DataFrame, n: int = 20) -> DataFrame:
    """(pos, doc_id): deterministic pseudo-random permutation prefix —
    the reference's Fisher-Yates corpus shuffle (_Corpus.shuffle,
    /root/reference/src/structures/_Corpus.java:117-124) re-expressed as
    a sort by a keyed hash (md5 is engine-portable, so the permutation
    is reproducible AND SQL-oracle-checkable; rand(seed) would depend on
    partitioning). Bounded top-n via the window-free rank."""
    from ..functions.ranking import rank_bounded

    keyed = documents.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    return (
        rank_bounded(keyed, [F.col("h").asc()], n, rank_name="pos")
        .select("pos", "doc_id")
    )


def kfold_assign(documents: DataFrame, k: int = 5) -> DataFrame:
    """(doc_id, fold): deterministic k-fold split by content-independent
    id hash — the CV mask array of the reference
    (/root/reference/src/Classifier/BaseClassifier.java:120-160, whose
    c.shuffle(k) draws random masks; a keyed hash is the reproducible
    distributed analog). fold = first 8 md5 hex digits of the id mod k —
    portable across engines, uniform, and stable under repartitioning."""
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    return documents.select(
        "doc_id", (h.cast("long") % k).cast("int").alias("fold")
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic 64-bit content fingerprint: first 16 hex chars of
    md5(lower-cased text) — portable across engines."""
    return documents.select(
        "doc_id",
        F.substring(F.md5(F.lower(F.col("text"))), 1, 16).alias("fingerprint"),
    )
