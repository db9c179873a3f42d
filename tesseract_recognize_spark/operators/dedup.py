"""Deduplication operators for large-scale training-data pipelines.

All-native column expressions (no Python UDFs): hashing is md5-derived so a
DuckDB oracle can reproduce every value bit-for-bit; at production scale
you'd swap `_hash64` for xxhash64 (same shape, one line).

Scale notes (the 100-TB arguments):
  * exact dedup is one hash-aggregate — map-side partial aggregation makes
    the shuffle carry only distinct hashes per partition;
  * MinHash signatures are computed by exploding shingles ONCE and taking
    the n_hashes minimums as codegen `min((a_i*h+b_i) % p)` aggregates in a
    single map-side-combinable groupBy — no higher-order-function lambdas
    (those run interpreted per element and dominated the round-1 bench);
  * MinHash-LSH shuffles once on (band_id, band_hash) — candidate pairs
    never materialize the O(n²) cross product;
  * n-gram Jaccard verifies the MinHash-LSH candidate pairs (linear joins
    on doc_id) instead of self-joining coarse blocks — no quadratic term
    inside a hot (lang, length) bucket at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from tesseract_recognize_spark.caching import finalize
from tesseract_recognize_spark.exprcache import cached_exprs
from tesseract_recognize_spark.partitioning import spread_small_scan

__all__ = [
    "hash64_expr",
    "exact_dedup",
    "shingle_hashes",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_signature",
    "ngram_jaccard_pairs",
]


def hash64_expr(col: Column) -> Column:
    """Deterministic 60-bit integer hash from md5 — reproducible in any
    engine (DuckDB oracle: ('0x' || substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


# universal-hash family for MinHash: g_i(h) = (a_i·h + b_i) mod MH_P
MH_P = 2147483647  # 2^31 - 1 (prime)


def mh_coeffs(i: int) -> tuple[int, int]:
    a = (1000003 * (i + 1) + 17) % MH_P
    b = (998244353 * (i + 1) + 29) % MH_P
    return a, b


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups: content hash → keeper (min doc_id) + count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingle_hashes(
    docs: DataFrame, text_col: str = "text", shingle_k: int = 3
) -> DataFrame:
    """One row per shingle POSITION: (doc_id, h) with h = 31-bit base hash
    of the k-gram. Codegen end-to-end (md5 + conv per row) — no
    higher-order-function lambdas."""
    n = F.length(F.col(text_col))
    return (
        docs.where(n >= shingle_k)
        .select(
            "doc_id",
            F.col(text_col).alias("_t"),
            F.explode(
                F.sequence(F.lit(1), n - (shingle_k - 1))
            ).alias("_i"),
        )
        .select(
            "doc_id",
            F.pmod(
                hash64_expr(F.col("_t").substr(F.col("_i"), F.lit(shingle_k))),
                F.lit(MH_P),
            ).alias("h"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature columns mh0..mh{n-1}.

    Shingles are EXPLODED once (position-exploded substrings — duplicates
    don't change a min, so no distinct pass is needed) and the n_hashes
    minimums run as whole-stage-codegen `min(pmod(a_i*h + b_i, p))`
    aggregates in one map-side-combinable groupBy. Values are identical to
    the naive per-doc array form (min over the same multiset) so the DuckDB
    oracle (list_min over list_distinct shingles) still matches bit-for-bit.
    One md5 per shingle position; universal hashing g_i(h) = (a_i·h + b_i)
    mod p over the 31-bit base hash keeps products < 2^62 — no overflow in
    any engine.

    The md5-per-shingle pass is the dedup family's dominant per-row cost
    and would otherwise fuse into the scan stage — one task per input
    row group (guide §2.5, input skew). ``spread_small_scan`` inserts a
    corpus-sized exchange ONLY when the scan under-parallelizes; the
    partial min-aggregation still runs map-side after it, and the
    post-aggregate exchange carries the same per-doc signature rows
    either way.
    """
    exploded = shingle_hashes(
        spread_small_scan(docs, "doc_id"), text_col, shingle_k
    )

    def build():
        aggs = []
        for i in range(n_hashes):
            a, b = mh_coeffs(i)
            aggs.append(
                F.min(
                    F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MH_P))
                ).alias(f"mh{i}")
            )
        return aggs

    aggs = cached_exprs(exploded, ("mh_aggs", n_hashes), build)
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs.

    shingle → n_hashes minhashes → bands of band_size → equi-join on
    (band_id, band_hash). Returns distinct (doc_a, doc_b) candidate pairs
    (doc_a < doc_b). One shuffle on the band key; no cross product.

    ``bucket_cap``: same degenerate-bucket guard as
    ``ngram_jaccard_pairs`` — a band bucket with b docs emits O(b²)
    pairs, the quadratic failure mode on templated corpora; buckets
    larger than the cap are dropped wholesale before the self-join
    (window count over the join's own key, so the cap rides the join's
    exchange). Default ``None`` — OFF — because this operator's
    CONTRACT is the candidate set itself (consumers like
    dedup_components expect every bucket-coincidence pair), unlike
    ngram_jaccard_pairs where dropped candidates are ones the verify
    stage would reject anyway. Opt in at scale when downstream can
    tolerate losing boilerplate mega-cliques (pair with exact_dedup,
    which still collapses them)."""
    sigs = minhash_signatures(docs, text_col, n_hashes, shingle_k)
    n_bands = n_hashes // band_size
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * band_size + j}")
                                for j in range(band_size)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    if bucket_cap:
        wb = Window.partitionBy("band_id", "band_hash")
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .where(F.col("_bsz") <= int(bucket_cap))
            .drop("_bsz")
        )
    # The runtime-size-guarded BROADCAST of the band table is the right
    # strategy here even though the build side re-runs the signature
    # pipeline (nothing is persisted in this lazy operator): a shuffled
    # self-join hashes every band bucket to ONE partition, so a mega-
    # bucket's O(b²) pair generation serializes on one task (measured
    # 14.6s → 47-67s at sf1 when forced to shuffle_hash), while the
    # broadcast streams bucket rows independently and the skewed pair
    # fan-out parallelizes across every stream partition. Past the 64 MB
    # size guard the planner falls back to shuffled joins with AQE skew
    # splitting — the correct large-scale degradation.
    left = bands.alias("a")
    right = bands.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def simhash_signature(
    docs: DataFrame, text_col: str = "text", bits: int = 32
) -> DataFrame:
    """Per-document SimHash: sign of the per-bit vote over token hashes.

    One explode + one hash-aggregate (map-side combinable: the per-bit
    votes are plain sums)."""
    tokens = F.split(F.lower(F.col(text_col)), r"\s+")
    docs = spread_small_scan(docs, "doc_id")
    tok = docs.select(
        "doc_id", F.explode(tokens).alias("tok")
    ).where(F.length("tok") > 0)
    # materialize the hash once per token — the 32 per-bit votes must not
    # each recompute the md5 (Catalyst does not CSE across aggregates)
    tok = tok.select("doc_id", hash64_expr(F.col("tok")).alias("h"))

    def build():
        h = F.col("h")
        votes = [
            F.sum(
                F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
        sig = None
        for b in range(bits):
            term = F.when(
                F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
            sig = term if sig is None else sig + term
        return votes, sig.alias("simhash")

    votes, sig = cached_exprs(tok, ("simhash", bits), build)
    agg = tok.groupBy("doc_id").agg(*votes)
    return agg.select("doc_id", sig)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    est_min_agree: int = 8,
    bucket_cap: int | None = 100,
) -> DataFrame:
    """Near-duplicate pairs: exact character n-gram Jaccard verification of
    the MinHash-LSH candidate pairs.

    Three stages, all linear in corpus size (no coarse-block self-join,
    which is O(n²) inside a hot block at corpus scale):
      1. banded-LSH candidates (one shuffle on the band key) with the full
         signature CARRIED ON THE BAND ROWS — n_hashes extra longs per row
         on a table of n_docs·n_bands rows;
      2. MinHash-agreement prefilter evaluated INSIDE the band join:
         candidates must agree on ≥ est_min_agree of the n_hashes
         signature components — 16 integer comparisons per pair, applied
         in the join stage BEFORE any pair row ever shuffles. Templated
         corpora fire bands on 4-hash coincidences producing millions of
         raw candidate pairs; with the signatures already present, >95%
         die in-stage and only survivors reach the distinct. (The round-3
         flow materialized+distinct'ed the raw pairs and re-joined them to
         the signature table twice — three full pair-set shuffles this
         formulation deletes; 23s → single digits at sf0.1.) At the
         default (8/16 ≈ est J .5 vs threshold .8), the miss probability
         for a true 0.8-Jaccard pair is P[Binom(16,.8) < 8] ≈ 1e-3 — the
         standard verify-prefilter trade, mirrored exactly by the oracle;
      3. exact Jaccard on DISTINCT SHINGLE HASH SETS (int64 arrays — far
         cheaper to shuffle and intersect than shingle strings), built ONLY
         for doc_ids surviving the prefilter (broadcast semi-join): the
         verify shuffle is proportional to candidates, not corpus.
         |∩| / (|a| + |b| - |∩|), exact int/double arithmetic.

    Caching note: the post-cap ``bands`` table and ``prefiltered`` are
    persisted (MEMORY_AND_DISK) because each feeds multiple consumers
    that Catalyst does not deduplicate under AQE (measured round 2: the
    shingle-explode + 16-aggregate pipeline re-executed per consumer;
    round 6: with only the signatures cached, the band-hash projection +
    bucket-cap window still re-ran per self-join side). The OPERATOR owns
    cleanup (round-4 invariant): the verified pair list — bounded by the
    duplicate rate, not the corpus — materializes eagerly and every
    intermediate is freed before return (``caching.finalize``).
    """
    from pyspark import StorageLevel

    # one spread serves both consumers of docs (the signature pipeline
    # and the verify-stage shingle rebuild) — no-op when the scan is
    # already parallel; see minhash_signatures' docstring
    docs = spread_small_scan(docs, "doc_id")
    sigs = minhash_signatures(docs, text_col, n_hashes, shingle_k)
    n_bands = n_hashes // band_size
    bands = sigs.select(
        "doc_id",
        *[F.col(f"mh{i}") for i in range(n_hashes)],
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"mh{b * band_size + j}")
                                for j in range(band_size)
                            ],
                        )
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    if bucket_cap:
        # Degenerate-bucket cap: a band bucket holding b documents yields
        # O(b²) candidate pairs in the self-join below — on a templated
        # corpus (boilerplate pages hashing to one band value) a single
        # mega-bucket at 10^12 docs is THE quadratic failure mode, and the
        # pairs it emits are boilerplate coincidences the est_min_agree
        # prefilter kills anyway. Buckets larger than bucket_cap are
        # dropped wholesale BEFORE the join: one window count over the
        # same (band_id, band_hash) key the join shuffles on, so the cap
        # rides the join's own exchange. Recall note: a true near-dup
        # pair is lost only if EVERY band it agrees on is a mega-bucket —
        # at the default (4 bands, cap 100) that means the pair lives
        # exclusively inside >cap-sized boilerplate clusters, which exact
        # dedup / minhash_lsh_pairs already handle; the DuckDB oracle
        # mirrors the cap bit-for-bit (QUALIFY count(*) over the bucket).
        wb = Window.partitionBy("band_id", "band_hash")
        bands = (
            bands.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .where(F.col("_bsz") <= int(bucket_cap))
            .drop("_bsz")
        )
    # Materialize the POST-CAP band table rather than the signature table:
    # the self-join below references it from both sides, and Catalyst does
    # not deduplicate the two subtrees — with only `sigs` materialized,
    # each side re-ran the band-hash md5 projection AND the bucket-cap
    # window (its own (band_id, band_hash) exchange) on top of the cached
    # signatures (measured round 6: two identical band-prep stage chains
    # per query). One O(corpus·n_bands) materialization feeds both join
    # sides and subsumes the former sigs persist — `sigs` is now a
    # single-consumer parent computed once into this table.
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    left, right = bands.alias("a"), bands.alias("b")
    agree = None
    for i in range(n_hashes):
        t = F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    prefiltered = (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(agree >= est_min_agree)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Build shingle sets ONLY for documents that appear in a candidate pair:
    # semi-join docs to the candidate doc_id set first. Without this,
    # verification aggregates collect_set(h) over EVERY document's shingles —
    # a full-corpus shuffle to verify a handful of pairs. Catalyst reuses the
    # signature-aggregate exchange between the candidate branch and this one
    # (ReusedExchange), so the LSH pipeline is not recomputed. No broadcast
    # HINT: the candidate set is usually tiny (AQE converts to a broadcast
    # semi-join at runtime) but is not provably bounded — on a pathological
    # mostly-duplicate corpus AQE degrades to a shuffled semi-join instead
    # of OOMing the driver.
    cand_ids = (
        prefiltered.select(F.col("doc_a").alias("doc_id"))
        .union(prefiltered.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    docs_c = docs.join(cand_ids, "doc_id", "left_semi")
    # persisted: `sets` feeds BOTH pair sides below and Catalyst does not
    # deduplicate the two references — unpersisted, the whole semi-join +
    # shingle-explode + collect_set pipeline executed twice (measured in
    # the round-6 event-log audit: two identical ~3.4s stages per query)
    sets = (
        shingle_hashes(docs_c, text_col, shingle_k)
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    # The per-pair intersect is row-expensive but byte-light — exactly the
    # shape AQE's byte-based partition coalescing collapses onto ONE task
    # (a few MB of pair keys ⇒ one partition ⇒ a serial verify; measured
    # 2×3.4s single-task stages at sf0.1). An explicit repartition pins
    # the verify stage at cluster parallelism; it replaces (not adds to)
    # the join's own exchange of the pair list.
    par = prefiltered.sparkSession.sparkContext.defaultParallelism
    joined = (
        prefiltered.repartition(par, "doc_a")
        .join(a, "doc_a")
        .join(b, "doc_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    verified = joined.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).where(F.col("jaccard") >= threshold)
    return finalize(verified, [bands, prefiltered, sets])
