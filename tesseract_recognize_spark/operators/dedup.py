"""Deduplication operators for large-scale training-data pipelines.

All-native expressions (no Python UDFs): hashing is md5-derived so a
DuckDB oracle can reproduce every value bit-for-bit; at production scale
you'd swap `hash64_expr` for xxhash64 (same shape, one line). The
MinHash/SimHash shape is fixed by the module constants below, which the
DuckDB oracles in ``__spark_entry__`` read as well.

Scale notes (the 100-TB arguments):
  * exact dedup is one hash-aggregate — map-side partial aggregation makes
    the shuffle carry only distinct hashes per partition;
  * MinHash signatures are computed by exploding shingles ONCE and taking
    the N_HASHES minimums as codegen `min((a_i*h+b_i) % p)` aggregates in a
    single map-side-combinable groupBy — no higher-order-function lambdas
    (those run interpreted per element and dominated the round-1 bench);
  * both pair operators build one band table (``_band_table``) and
    self-join it once on (band_id, band_hash) — candidate pairs never
    materialize the O(n²) cross product;
  * n-gram Jaccard verifies the MinHash-LSH candidate pairs (linear joins
    on doc_id) instead of self-joining coarse blocks — no quadratic term
    inside a hot (lang, length) bucket at corpus scale.

The heavy per-row work (md5 per shingle or token) would otherwise fuse
into the scan stage — one task per input row group (guide §2.5, input
skew) — so each public operator spreads its input once, at its top
(``spread_small_scan``: an exchange ONLY when the scan under-parallelizes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tesseract_recognize_spark.caching import finalize, materialize
from tesseract_recognize_spark.partitioning import spread_small_scan

__all__ = [
    "hash64_expr",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_signature",
    "ngram_jaccard_pairs",
]

SHINGLE_K = 3  # characters per shingle
N_HASHES = 16  # MinHash signature components
BAND_SIZE = 4  # signature components per LSH band
EST_MIN_AGREE = 8  # components a candidate pair must share to be verified
SIMHASH_BITS = 32

# universal-hash family for MinHash: g_i(h) = (a_i·h + b_i) mod MH_P
MH_P = 2147483647  # 2^31 - 1 (prime)


def hash64_expr(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 — reproducible in any
    engine (DuckDB oracle: ('0x' || substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def mh_coeffs(i: int) -> tuple[int, int]:
    a = (1000003 * (i + 1) + 17) % MH_P
    b = (998244353 * (i + 1) + 29) % MH_P
    return a, b


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact-duplicate groups: content hash → keeper (min doc_id) + count."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def _shingle_hashes(docs: DataFrame) -> DataFrame:
    """One row per shingle POSITION: (doc_id, h) with h = 31-bit base hash
    of the k-gram. Codegen end-to-end (md5 + conv per row) — no
    higher-order-function lambdas."""
    n = F.length(F.col("text"))
    return (
        docs.where(n >= SHINGLE_K)
        .select(
            "doc_id",
            F.col("text").alias("_t"),
            F.explode(F.sequence(F.lit(1), n - (SHINGLE_K - 1))).alias("_i"),
        )
        .select(
            "doc_id",
            F.pmod(
                hash64_expr(F.col("_t").substr(F.col("_i"), F.lit(SHINGLE_K))),
                F.lit(MH_P),
            ).alias("h"),
        )
    )


def _band_table(
    spread_docs: DataFrame,
    bucket_cap: int | None,
    partitions: int | None = None,
) -> DataFrame:
    """Rows (doc_id, mh0..mh{N_HASHES-1}, band_id, band_hash): each
    document's MinHash signature, once per LSH band.

    Shingles are EXPLODED once (position-exploded substrings — duplicates
    don't change a min, so no distinct pass is needed) and the minimums run
    as `min(pmod(a_i*h + b_i, p))` aggregates in one map-side-combinable
    groupBy; values equal the oracle's list_min over distinct shingles.
    Products of the 31-bit base hash stay < 2^62 — no overflow in any
    engine. The aggregates are SQL text (one parse per aggregate instead of
    a Py4J call per Column node) but stay in the DataFrame API: dropping a
    ``spark.sql`` temp view re-caches every not-yet-loaded cache entry
    whose plan holds the view's plan, so a signature view dropped by any
    later build took ngram_jaccard_pairs' band table out of its own plan.

    ``bucket_cap``: a band bucket holding b documents yields O(b²) pairs
    in the self-join — on a templated corpus (boilerplate pages hashing
    to one band value) a single mega-bucket is THE quadratic failure mode.
    Buckets larger than the cap are dropped wholesale: one window count
    over the same (band_id, band_hash) key the join shuffles on, so the
    cap rides the join's own exchange. The DuckDB oracle mirrors it
    (count(*) over the bucket).

    ``partitions``: hash-partition the band rows on their bucket key into
    exactly this many partitions — an explicit repartition, which AQE
    does not coalesce and the cap's window reuses as its own exchange."""
    aggs = []
    for i in range(N_HASHES):
        a, b = mh_coeffs(i)
        aggs.append(F.expr(f"min(pmod({a} * h + {b}, {MH_P})) AS mh{i}"))
    sigs = _shingle_hashes(spread_docs).groupBy("doc_id").agg(*aggs)
    band_hashes = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + "))"
        for b in range(N_HASHES // BAND_SIZE)
    )
    bands = sigs.selectExpr(
        "doc_id",
        *[f"mh{i}" for i in range(N_HASHES)],
        f"posexplode(array({band_hashes})) AS (band_id, band_hash)",
    )
    if partitions:
        bands = bands.repartition(partitions, "band_id", "band_hash")
    if not bucket_cap:
        return bands
    return (
        bands.withColumn(
            "_bsz", F.expr("count(1) OVER (PARTITION BY band_id, band_hash)")
        )
        .where(F.col("_bsz") <= int(bucket_cap))
        .drop("_bsz")
    )


def _band_pairs(bands: DataFrame, min_agree: int = 0) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of documents sharing a band
    bucket; with ``min_agree``, only pairs whose signatures agree on at
    least that many components (evaluated in the join stage, before any
    pair row shuffles)."""
    pairs = bands.alias("a").join(
        bands.alias("b"),
        F.expr(
            "a.band_id = b.band_id AND a.band_hash = b.band_hash"
            " AND a.doc_id < b.doc_id"
        ),
    )
    if min_agree:
        agree = " + ".join(
            f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
            for i in range(N_HASHES)
        )
        pairs = pairs.where(F.expr(f"{agree} >= {min_agree}"))
    return pairs.selectExpr("a.doc_id AS doc_a", "b.doc_id AS doc_b").distinct()


def minhash_lsh_pairs(
    docs: DataFrame, bucket_cap: int | None = None
) -> DataFrame:
    """MinHash + banded LSH candidate pairs.

    shingle → N_HASHES minhashes → bands of BAND_SIZE → equi-join on
    (band_id, band_hash). Returns distinct (doc_a, doc_b) candidate pairs
    (doc_a < doc_b). One shuffle on the band key; no cross product. The
    band table's signature columns are never read here, so column pruning
    drops them from the plan.

    ``bucket_cap`` (see ``_band_table``) defaults to ``None`` — OFF —
    because this operator's CONTRACT is the candidate set itself
    (consumers like dedup_components expect every bucket-coincidence
    pair), unlike ngram_jaccard_pairs where dropped candidates are ones
    the verify stage would reject anyway. Opt in at scale when downstream
    can tolerate losing boilerplate mega-cliques (pair with exact_dedup,
    which still collapses them).

    The runtime-size-guarded BROADCAST of the band table is the right
    join strategy even though the build side re-runs the signature
    pipeline (nothing is persisted in this lazy operator): a shuffled
    self-join hashes every band bucket to ONE partition, so a mega-
    bucket's O(b²) pair generation serializes on one task (measured
    14.6s → 47-67s at sf1 when forced to shuffle_hash), while the
    broadcast streams bucket rows independently. Past the 64 MB size
    guard the planner falls back to shuffled joins with AQE skew
    splitting — the correct large-scale degradation."""
    bands = _band_table(spread_small_scan(docs, "doc_id"), bucket_cap)
    return _band_pairs(bands)


def simhash_signature(docs: DataFrame) -> DataFrame:
    """Per-document SimHash: sign of the per-bit vote over token hashes.

    One explode + one hash-aggregate (map-side combinable: the per-bit
    votes are plain sums). The token hash is materialized once per token
    — the per-bit votes must not each recompute the md5 (Catalyst does
    not CSE across aggregates)."""
    tok = (
        spread_small_scan(docs, "doc_id")
        .select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
        )
        .where(F.length("tok") > 0)
        .select("doc_id", hash64_expr(F.col("tok")).alias("h"))
    )
    bits = range(SIMHASH_BITS)
    votes = ", ".join(
        f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS v{b}"
        for b in bits
    )
    sig = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END"
        for b in bits
    )
    return tok.sparkSession.sql(
        f"SELECT doc_id, {sig} AS simhash FROM"
        f" (SELECT doc_id, {votes} FROM {{tok}} GROUP BY doc_id)",
        tok=tok,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    bucket_cap: int | None = 100,
) -> DataFrame:
    """Near-duplicate pairs: exact character n-gram Jaccard verification of
    the MinHash-LSH candidate pairs.

    Three stages, all linear in corpus size (no coarse-block self-join,
    which is O(n²) inside a hot block at corpus scale):
      1. banded-LSH candidates (one shuffle on the band key) with the full
         signature CARRIED ON THE BAND ROWS — N_HASHES extra longs per row
         on a table of n_docs·n_bands rows;
      2. MinHash-agreement prefilter evaluated INSIDE the band join:
         candidates must agree on ≥ EST_MIN_AGREE of the N_HASHES
         signature components — 16 integer comparisons per pair, applied
         in the join stage BEFORE any pair row ever shuffles. Templated
         corpora fire bands on 4-hash coincidences producing millions of
         raw candidate pairs; with the signatures already present, >95%
         die in-stage and only survivors reach the distinct. (The round-3
         flow materialized+distinct'ed the raw pairs and re-joined them to
         the signature table twice — three full pair-set shuffles this
         formulation deletes; 23s → single digits at sf0.1.) At 8/16
         (≈ est J .5 vs threshold .8), the miss probability for a true
         0.8-Jaccard pair is P[Binom(16,.8) < 8] ≈ 1e-3 — the standard
         verify-prefilter trade, mirrored exactly by the oracle;
      3. exact Jaccard on DISTINCT SHINGLE HASH SETS (int64 arrays — far
         cheaper to shuffle and intersect than shingle strings), built ONLY
         for doc_ids surviving the prefilter (a join with the distinct
         candidate ids): the verify shuffle is proportional to
         candidates, not corpus.
         |∩| / (|a| + |b| - |∩|), exact int/double arithmetic.

    ``bucket_cap`` (see ``_band_table``): a true near-dup pair is lost only
    if EVERY band it agrees on is a mega-bucket — at the default (4 bands,
    cap 100) the pair lives exclusively inside >cap-sized boilerplate
    clusters, which exact dedup / minhash_lsh_pairs already handle.

    Materialization note: the post-cap band table, ``prefiltered`` and
    the candidate shingle sets each feed multiple consumers that Catalyst
    does not deduplicate under AQE (left lazy, each self-join side re-ran
    the shingle-explode + 16-aggregate pipeline, the band-hash projection
    and the bucket-cap window — measured rounds 2 and 6), so each is
    computed once as lineage-free checkpoint blocks
    (``caching.materialize``); persisted instead, every further reference
    ran its own near-empty materialization job. AQE coalesces a
    checkpointed query's exchanges (a persisted plan's it did not), so
    the band table, the shingle-set aggregate and the verify joins each
    pin their stage at ``defaultParallelism`` with an explicit
    repartition. Executor loss while the call runs fails the query
    instead of recomputing an intermediate (see ``caching``). The
    OPERATOR owns cleanup (round-4 invariant): the verified pair list —
    bounded by the duplicate rate, not the corpus — materializes eagerly
    and every intermediate is freed before return
    (``caching.finalize``).
    """
    # one spread serves both consumers of docs: the band table and the
    # verify-stage shingle rebuild
    docs = spread_small_scan(docs, "doc_id")
    par = docs.sparkSession.sparkContext.defaultParallelism
    bands = materialize(_band_table(docs, bucket_cap, par))
    prefiltered = materialize(_band_pairs(bands, EST_MIN_AGREE))
    # Build shingle sets ONLY for documents that appear in a candidate pair:
    # join the candidate doc_id set to docs first. Without this,
    # verification aggregates collect_set(h) over EVERY document's shingles —
    # a full-corpus shuffle to verify a handful of pairs. No broadcast
    # HINT: the candidate set is usually tiny but is not provably bounded.
    # The ids are hash-partitioned at cluster parallelism and the join
    # keeps that partitioning, so shingle hashing and collect_set run in
    # that stage at its width: the planner broadcasts docs into it while
    # docs' size estimate is under the broadcast threshold and shuffles
    # docs on doc_id past it. (A checkpoint's size estimate is its plan's
    # join product, so the candidate side never looks small to the
    # planner; as a semi-join's right side it made docs shuffle in full.)
    # Against distinct ids an inner join keeps each doc row once, like a
    # semi-join, but may build on either side.
    cand_ids = (
        prefiltered.selectExpr("explode(array(doc_a, doc_b)) AS doc_id")
        .repartition(par, "doc_id")
        .distinct()
    )
    # `sets` feeds BOTH pair sides below and Catalyst does not deduplicate
    # the two references — recomputed, the whole candidate join +
    # shingle-explode + collect_set pipeline executed twice (measured in
    # the round-6 event-log audit: two identical ~3.4s stages per query)
    sets = materialize(
        _shingle_hashes(cand_ids.join(docs, "doc_id"))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh"))
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # The per-pair intersect is row-expensive but byte-light — exactly the
    # shape AQE's byte-based partition coalescing collapses onto ONE task
    # (a few MB of pair keys ⇒ one partition ⇒ a serial verify; measured
    # 2×3.4s single-task stages at sf0.1). An explicit repartition before
    # each join pins its stage at cluster parallelism; each replaces (not
    # adds to) that join's own exchange of the pair list.
    joined = (
        prefiltered.repartition(par, "doc_a")
        .join(a, "doc_a")
        .repartition(par, "doc_b")
        .join(b, "doc_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    verified = joined.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    return finalize(verified, [bands, prefiltered, sets])
