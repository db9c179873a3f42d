"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes one entry per implemented operator family
(SURVEY.md §2 + the training-data-pipeline extensions); ``oracle_sql()``
gives the DuckDB-equivalent SQL for every SQL-expressible one. Column
names AND types are aligned on both sides (counts cast to BIGINT, window
ranks to BIGINT) because the driver's compare hashes values per column.

Hashing used by the dedup/minhash/simhash oracles is md5-derived
(hash64 = first 15 hex chars of md5 as a 60-bit int) so DuckDB reproduces
every value bit-for-bit; at production scale xxhash64 would replace it.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.functions.codecs import (
    bmp_encode,
    gif_encode,
    ppm_encode,
    tiff_encode,
)
from tesseract_recognize_spark.functions.png import png_encode
from tesseract_recognize_spark.operators.components import (
    DRIVER_MAX_EDGES,
    connected_components,
)
from tesseract_recognize_spark.operators.dedup import (
    BAND_SIZE,
    EST_MIN_AGREE,
    MH_P,
    N_HASHES,
    SHINGLE_K,
    SIMHASH_BITS,
    exact_dedup,
    mh_coeffs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signature,
)
from tesseract_recognize_spark.operators.normalize import trim_sql
from tesseract_recognize_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from tesseract_recognize_spark.operators.textstats import (
    QUANTILE_PS,
    STOPWORDS,
    doc_fingerprint,
    langid_stopwords,
    quality_score,
    token_counts,
)
from tesseract_recognize_spark.operators.explode import explode_media
from tesseract_recognize_spark.partitioning import spread_small_scan
from tesseract_recognize_spark.operators.multimodal import (
    decode_audio_features,
    decode_image_features,
    frame_sample,
)
from tesseract_recognize_spark.plans.pipeline import extract, extract_crops
from tesseract_recognize_spark.sources.testdata import (
    load_table,
    region_crops_df,
    spans_from_sf_documents,
)

SF0001 = "/root/testdata/sf0.001"


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction (text normalize + mock-OCR + post-passes +
    ordering) over span-shaped documents derived from sf0.001."""
    return _extract_full(spark, SF0001)


def _extract_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread BEFORE the span construction: the explode + both branch
    # projections otherwise fuse into the one-row-group scan task
    docs = spans_from_sf_documents(
        spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    )
    # one OCR task per core, the rule run_checkpointed applies: each Python
    # task pays a fixed cost that more, smaller tasks only multiply
    cfg = ExtractConfig(
        media_partitions=spark.sparkContext.defaultParallelism
    )
    out = extract(docs, cfg)
    return out.select(
        "doc_id", "order", "kind", "text", "media_ref", "level",
        "region_id", "line_id",
    )


# --------------------------------------------------------------------------
# queries — each maps to an operator family; see oracle_sql() for the gate
# --------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def q_trim_normalize(spark, sf_dir):
    # T9: the reference's entire text normalization (native regexp_replace)
    return _docs(spark, sf_dir).select(
        "doc_id", F.expr(trim_sql("text")).alias("text_norm")
    )


def q_span_explode_order(spark, sf_dir):
    # S2/K2: work-item explode + deterministic within-doc ordering
    return _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "token")


def q_block_filter(spark, sf_dir):
    # T1: predicate-pushdown filter + projection (scan should show
    # PushedFilters + 4-column ReadSchema)
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") <= 8).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def q_word_fill_window(spark, sf_dir):
    # P3 shape: ignorenulls last/first over preceding/following frames
    li = load_table(spark, sf_dir, "lineitem")
    v = F.when(F.col("l_linenumber") % 3 == 0, F.lit(None)).otherwise(
        F.col("l_extendedprice")
    )
    # (l_orderkey, l_linenumber) is NOT unique in this corpus — the full
    # composite makes the window order total, hence engine-independent
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    pre = F.last(v, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    fol = F.first(v, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(v, pre, fol, F.lit(-1.0)).alias("filled"),
    )


def q_dominant_orientation(spark, sf_dir):
    # P2 shape: per-group circular vote + bucket — integer-exact variant
    # (angles quantized to 90°, bucket decided by integer comparisons).
    # Spread on the group key: the partial aggregate otherwise fuses into
    # the single-row-group scan task, and the exchange it introduces is
    # the SAME hash(l_orderkey) distribution the group-by needs — no
    # second exchange appears in the plan.
    li = spread_small_scan(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey"
    )
    q = F.col("l_partkey") % 4
    dx = F.when(q == 0, 1).when(q == 2, -1).otherwise(0)
    dy = F.when(q == 1, 1).when(q == 3, -1).otherwise(0)
    agg = li.groupBy("l_orderkey").agg(
        F.sum(dx).alias("sum_dx"), F.sum(dy).alias("sum_dy")
    )
    x, y = F.col("sum_dx"), F.col("sum_dy")
    bucket = (
        F.when((y > 0) & (y >= x) & (y > -x), F.lit(-90))
        .when((y < 0) & (x > y) & (x <= -y), F.lit(90))
        .when((x < 0) & (((y >= 0) & (y <= -x)) | ((y < 0) & (y <= x))), F.lit(180))
        .otherwise(F.lit(0))
    )
    return agg.select(
        "l_orderkey", "sum_dx", "sum_dy", bucket.alias("rotate_angle")
    )


def q_dedup_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


def q_dedup_minhash_lsh(spark, sf_dir):
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def q_dedup_simhash(spark, sf_dir):
    return simhash_signature(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.8)


def q_ann_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, k=5, n_queries=50, dim=64)
    return out.select(
        "vec_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id"
    )


def q_langid(spark, sf_dir):
    out = langid_stopwords(_docs(spark, sf_dir))
    casts = [
        F.col(f"votes_{lang}").cast("bigint").alias(f"votes_{lang}")
        for lang in STOPWORDS
    ]
    return out.select("doc_id", *casts, "pred_lang")


def q_quality_score(spark, sf_dir):
    out = quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_words").cast("bigint").alias("n_words"),
        "alpha_ratio", "punct_ratio", "stop_ratio", "mean_word_len",
        "quality_score",
    )


def q_token_counts(spark, sf_dir):
    out = token_counts(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("ws_tokens").cast("bigint").alias("ws_tokens"),
        F.col("bpeish_tokens").cast("bigint").alias("bpeish_tokens"),
    )


def q_doc_fingerprint(spark, sf_dir):
    out = doc_fingerprint(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "fingerprint",
        F.col("norm_len").cast("bigint").alias("norm_len"),
    )


def q_media_reconcile(spark, sf_dir):
    # A3: image↔XML reconciliation — the reference's only join, as a
    # broadcast left-anti join (missing media detection)
    docs = _docs(spark, sf_dir)
    ref = F.concat(
        F.lit("media://"), F.col("doc_id").cast("string"), F.lit("/0")
    ).alias("media_ref")
    wanted = docs.filter(F.col("doc_id") % 3 == 0).select(ref)
    available = docs.filter(F.col("doc_id") % 6 == 0).select(ref)
    return wanted.join(F.broadcast(available), "media_ref", "left_anti")


def q_extract_full(spark, sf_dir):
    # full pipeline incl. the mock-OCR UDF — not SQL-expressible (rows-only)
    return _extract_full(spark, sf_dir)


def q_extract_region_crops(spark, sf_dir):
    # S4/S5: region-crop recognition — crop each upright page to its first
    # text block's bbox, recognize the crop, offset-add-back + crop-id
    # prefix (reference tesseract-recognize.cc:428-451,663-666,677).
    # Crop selection derives from the deterministic layout contract,
    # computed EXECUTOR-side (mapInPandas over the media spans) — no
    # driver-side materialization anywhere in the workflow.
    docs = spans_from_sf_documents(
        spread_small_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    )
    crops_df = region_crops_df(explode_media(docs))
    cfg = ExtractConfig(
        psm="auto", media_partitions=spark.sparkContext.defaultParallelism
    )
    out = extract_crops(docs, crops_df, cfg)
    return out.select(
        "doc_id", "order", "kind", "text", "media_ref", "level",
        "region_id", "line_id",
    )


def q_page_set_select(spark, sf_dir):
    # S2: page-set selection ("file.pdf[0-2,5]") — filter media spans by
    # 0-based ordinal INSIDE the media array, before the explode (the
    # skip-before-decode analog); survivors renumber (media_idx 1..n).
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents"), "doc_id"
    )
    with_spans = docs.select(
        "doc_id",
        F.array(
            *[
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("").alias("text"),
                    F.concat(
                        F.lit("media://"), F.col("doc_id").cast("string"),
                        F.lit(f"/{j}"),
                    ).alias("media_ref"),
                    F.lit(j).cast("int").alias("offset"),
                )
                for j in range(4)
            ]
        ).alias("spans"),
    )
    out = explode_media(with_spans, pages=frozenset({0, 2}))
    return out.select(
        "doc_id",
        F.col("media_idx").cast("bigint").alias("media_idx"),
        F.col("n_media").cast("bigint").alias("n_media"),
        "media_ref",
    )


def q_multimodal_frame_sample(spark, sf_dir):
    # multimodal plumbing: video-style frame sampling as native plan surgery
    # (sequence + explode); each sampled frame would then flow through the
    # Arrow codec stage (operators/multimodal.py:decode_image_features,
    # pytest-gated — the codec itself is Python, not SQL)
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        (F.col("doc_id") % 50 + 1).cast("int").alias("n_frames"),
    )
    out = frame_sample(media, every_n=7)
    return out.select(
        "doc_id",
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
    )


def _image_feature_query(spark, sf_dir, codecs):
    # Synthesize a 16×16 gradient per document executor-side, encode it
    # with the codec its doc_id round-robins to (``codecs``: (name,
    # encode) pairs, pure-stdlib encoders), decode it through the
    # engine's sniffing codec chain (multimodal.decode_image_features)
    # and mean-pool to 8×8 features. The gradient makes every pooled cell
    # closed-form ((doc_id%200) + 4i + 2j + 1.5, exact in float64), so the
    # whole decode pipeline sits under the DuckDB hash gate.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )

    def make(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            refs, payloads = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                gray = (
                    (np.arange(16)[None, :] + 2 * np.arange(16)[:, None]
                     + d % 200) % 256
                ).astype("uint8")
                name, encode = codecs[d % len(codecs)]
                refs.append(f"media://doc-{d}/{name}")
                payloads.append(encode(gray))
            yield pd.DataFrame({"media_ref": refs, "payload": payloads})

    media = docs.mapInPandas(make, "media_ref string, payload binary")
    out = decode_image_features(media, resize_to=8)
    return out.select(
        "media_ref",
        "mime",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("channels").cast("bigint").alias("channels"),
        F.posexplode("features").alias("k", "feature"),
    ).select(
        "media_ref", "mime", "width", "height", "channels",
        F.col("k").cast("bigint").alias("k"), "feature",
    )


def q_multimodal_image_features(spark, sf_dir):
    # REAL image decode path: the default codec (functions/png.py — zlib
    # inflate + scanline unfiltering, the reference's pixRead analog,
    # tesseract-recognize.cc:513-531) on every document.
    return _image_feature_query(spark, sf_dir, [("png", png_encode)])


def _as_rgb(encode):
    """``encode`` applied to the gray gradient replicated to r=g=b."""
    return lambda gray: encode(np.repeat(gray[:, :, None], 3, axis=2))


# One entry per lossless codec in the sniffing chain (JPEG is covered
# by pytest roundtrips instead — IDCT rounding makes it inexact by one
# LSB, which a value-hash gate cannot tolerate): (name, mime, decoded
# channels, encoder of the gray gradient). Order matters: the oracle SQL
# cases on doc_id % len(_CODEC_MATRIX).
_CODEC_MATRIX = [
    ("png", "image/png", 1, png_encode),
    ("pgm", "image/x-portable-graymap", 1, ppm_encode),
    ("ppm", "image/x-portable-pixmap", 3, _as_rgb(ppm_encode)),
    ("bmp", "image/bmp", 3, _as_rgb(bmp_encode)),
    ("gif", "image/gif", 3, gif_encode),  # gray palette decodes to RGB
    ("tiff-lzw", "image/tiff", 1,
     partial(tiff_encode, compression="lzw", predictor=2)),
    ("tiff-packbits", "image/tiff", 3,
     _as_rgb(partial(tiff_encode, compression="packbits"))),
]


def q_multimodal_codec_matrix(spark, sf_dir):
    # The FULL raster codec chain under the hash gate: each document
    # round-robins through every lossless container the engine decodes
    # (functions/png.py + functions/codecs.py — PNG, binary netpbm, BMP,
    # GIF, LZW/PackBits TIFF with horizontal predictor; the reference's
    # pixRead surface, tesseract-recognize.cc:513-531). Every payload
    # encodes the SAME closed-form 16×16 gradient, every codec is
    # lossless and RGB legs carry r=g=b, so the pooled features reduce
    # to the identical ((doc%200) + 4i + 2j + 1.5) formula regardless of
    # container — which the oracle states once while still pinning
    # per-container mime sniffing, decoded channel counts, and
    # bit-exact pixel recovery through five distinct decoders.
    return _image_feature_query(
        spark, sf_dir, [(c[0], c[3]) for c in _CODEC_MATRIX]
    )


def q_ann_lsh_topk(spark, sf_dir):
    # approximate ANN (bucketed) — not SQL-expressible cheaply (rows-only)
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, dim=64, k=5, bits=8, n_queries=50)
    return out.select(
        "vec_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id"
    )


def q_ann_lsh_mt_topk(spark, sf_dir):
    # multi-table LSH (2 independent hyperplane families, union of bucket
    # matches, pair dedup) — the recall knob measured in PLANS.md
    emb = load_table(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, dim=64, k=5, bits=8, n_queries=50, n_tables=2)
    return out.select(
        "vec_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id"
    )


def q_events_window_rollup(spark, sf_dir):
    # watermarked event-time window rollup, batch-parity path: the SAME
    # aggregation the streaming operator runs (streaming/windowed.py) on
    # the events table; integer-cents sum keeps the gate bit-exact
    # (double sums are addition-order-dependent across engines)
    from tesseract_recognize_spark.streaming.windowed import (
        windowed_event_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    out = windowed_event_counts(ev, window="5 minutes", value_as_cents=True)
    # timestampdiff vs an NTZ epoch literal — timezone-free epoch seconds
    # (NTZ→BIGINT cast is disallowed; NTZ→LTZ would drag the session tz in)
    epoch = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
    return out.select(
        F.expr(f"timestampdiff(SECOND, {epoch}, window_start)")
        .cast("bigint")
        .alias("window_start"),
        F.expr(f"timestampdiff(SECOND, {epoch}, window_end)")
        .cast("bigint")
        .alias("window_end"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("sum_value_cents").cast("bigint").alias("sum_value_cents"),
    )


def _components_query(spark, sf_dir, driver_max_edges):
    # pairwise near-dup verdicts -> clusters: connected components over
    # the verified Jaccard pairs (operators/components.py), singletons
    # coalesced to themselves; keeper = component minimum
    docs = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).select("doc_a", "doc_b")
    labels = connected_components(pairs, driver_max_edges=driver_max_edges)
    asg = (
        docs.select("doc_id")
        .join(labels, docs["doc_id"] == labels["node"], "left")
        .select(
            docs["doc_id"],
            F.coalesce("component_id", docs["doc_id"]).alias("component_id"),
        )
    )
    w = Window.partitionBy("component_id")
    return asg.select(
        "doc_id",
        "component_id",
        F.count("*").over(w).cast("bigint").alias("component_size"),
        (F.col("doc_id") == F.col("component_id")).alias("is_keeper"),
    )


def q_dedup_components(spark, sf_dir):
    # the verified pair list (50 symmetric edges at sf0.01, 458 at sf0.1)
    # sits far below the default threshold: driver-side union-find
    return _components_query(spark, sf_dir, DRIVER_MAX_EDGES)


def q_dedup_components_star(spark, sf_dir):
    # Same clustering contract and recursive-CTE oracle, computed by the
    # distributed large-star/small-star rounds (Kiveris et al., O(log n)
    # rounds): driver_max_edges=0 forces them, which the default
    # threshold would otherwise hand to the driver union-find, leaving
    # the rounds unchecked by the oracle.
    return _components_query(spark, sf_dir, 0)


def q_quality_quantiles(spark, sf_dir):
    # per-language quality-score quantiles by exact rank selection —
    # no interpolation arithmetic, so the double values gate bit-exact
    # (operators/textstats.py:group_quantiles)
    from tesseract_recognize_spark.operators.textstats import (
        group_quantiles,
        quality_score,
    )

    docs = _docs(spark, sf_dir)
    qs = quality_score(docs).select("doc_id", "quality_score")
    joined = qs.join(docs.select("doc_id", "lang"), "doc_id")
    return group_quantiles(joined, "lang", "quality_score", "doc_id")


def q_tfidf_top_terms(spark, sf_dir):
    # per-doc characteristic terms, linear-idf tf·idf rank
    # (operators/textstats.py:tfidf_top_terms)
    from tesseract_recognize_spark.operators.textstats import (
        tfidf_top_terms,
    )

    return tfidf_top_terms(_docs(spark, sf_dir), k=5)


_MIX_FRACTIONS = {
    "purchase": 1.0,
    "click": 0.5,
    "error": 0.25,
    "view": 0.1,
    "signup": 0.05,
}


def q_sample_stratified(spark, sf_dir):
    # deterministic corpus mixing (operators/sampling.py): per-stratum
    # hash-Bernoulli keep — zero shuffle, partitioning-independent
    from tesseract_recognize_spark.operators.sampling import (
        stratified_sample,
    )

    ev = load_table(spark, sf_dir, "events")
    return stratified_sample(
        ev.select("event_id", "event_type", "user_id"),
        strata_col="event_type",
        fractions=_MIX_FRACTIONS,
        key_col="event_id",
        salt="mix1",
    )


def q_sample_per_group_topn(spark, sf_dir):
    # exactly-n-per-stratum deterministic sample under WindowGroupLimit
    from tesseract_recognize_spark.operators.sampling import (
        per_stratum_topn,
    )

    ev = load_table(spark, sf_dir, "events")
    return per_stratum_topn(
        ev.select("event_id", "event_type"),
        strata_col="event_type",
        n=50,
        key_col="event_id",
        salt="mix1",
    )


def q_events_sessionize(spark, sf_dir):
    # gap-based sessionization (operators/temporal.py): one
    # hash(user_id) exchange serves the gap window, the running session
    # counter, and the per-session aggregate
    from tesseract_recognize_spark.operators.temporal import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_minutes=360).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "session_start_us",
        "session_end_us",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value_cents",
    )


def q_events_sessionize_salted(spark, sf_dir):
    # the skew path: pre-sessionize under a derived (user, time-chunk)
    # salt, aggregate sub-sessions, merge per user — identical output to
    # the unsalted path (same oracle SQL), without the one-task-per-hot-
    # user straggler at 10^12 events
    from tesseract_recognize_spark.operators.temporal import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(
        ev, gap_minutes=360, salt_chunk_minutes=1440
    ).select(
        "user_id",
        F.col("session_seq").cast("bigint").alias("session_seq"),
        "session_start_us",
        "session_end_us",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value_cents",
    )


def q_events_asof_join(spark, sf_dir):
    # as-of join via the union+window idiom (operators/temporal.py):
    # each click attributed to the user's latest prior-or-equal purchase
    from tesseract_recognize_spark.operators.temporal import (
        asof_join,
        epoch_us,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        "event_type",
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_us"
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us", "value_cents"
    )
    out = asof_join(
        clicks, purchases, on="user_id", right_payload=("value_cents",)
    )
    # clicks before any purchase carry NULL payload; -1 sentinel keeps
    # the value-hash gate engine-agnostic (null sort order differs)
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        F.coalesce("asof_event_id", F.lit(-1)).alias("asof_event_id"),
        F.coalesce("asof_ts_us", F.lit(-1)).alias("asof_ts_us"),
        F.coalesce("asof_value_cents", F.lit(-1)).alias("asof_value_cents"),
    )


def q_events_asof_join_narrow(spark, sf_dir):
    # the wide-payload scale path: narrow (key, id, ts) union/window core
    # + payload rejoin on unique ids — identical rows to the default
    # path (same oracle SQL), without wide columns riding the
    # partitionBy(user_id) sort at 10^12 rows
    from tesseract_recognize_spark.operators.temporal import (
        asof_join,
        epoch_us,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
        "event_type",
    )
    clicks = base.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts_us"
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts_us", "value_cents"
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        right_payload=("value_cents",),
        rejoin_payloads=True,
        left_id="event_id",
    )
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        F.coalesce("asof_event_id", F.lit(-1)).alias("asof_event_id"),
        F.coalesce("asof_ts_us", F.lit(-1)).alias("asof_ts_us"),
        F.coalesce("asof_value_cents", F.lit(-1)).alias("asof_value_cents"),
    )


def q_events_range_counts(spark, sf_dir):
    # binned range join (operators/temporal.py): clicks within ±10 min
    # of each error event, bucketized equi-join instead of an
    # inequality join
    from tesseract_recognize_spark.operators.temporal import (
        epoch_us,
        range_join_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_id", epoch_us("ts").alias("ts_us"), "event_type")
    errors = base.filter(F.col("event_type") == "error")
    clicks = base.filter(F.col("event_type") == "click")
    return range_join_counts(errors, clicks, tolerance_minutes=10).select(
        "anchor_id", "ts_us", F.col("n_within").cast("bigint").alias("n_within")
    )


def q_ann_ivf_topk(spark, sf_dir):
    # IVF-style ANN: deterministic sampled centroids, rank-1 cell
    # assignment, nprobe-cell probe + exact re-rank
    # (operators/similarity.py:ivf_topk)
    from tesseract_recognize_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # centroid_stride=None -> adaptive √N cells (O(N^1.5) total instead
    # of the O(N²/stride) assignment a fixed stride degenerates to)
    out = ivf_topk(emb, dim=64, k=5, nprobe=3, n_queries=50)
    return out.select(
        "vec_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id"
    )


def q_multimodal_audio_features(spark, sf_dir):
    # REAL audio decode path: synthesize a deterministic 1024-sample PCM
    # WAV per document executor-side (pure-stdlib encoder, functions/
    # wav.py), decode through the default codec, window into 4×256-sample
    # sum-of-|sample| features. All-integer arithmetic, so the whole
    # decode pipeline sits under the DuckDB hash gate — the audio analog
    # of multimodal_image_features.
    docs = spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )

    def make(batches):
        import numpy as np
        import pandas as pd

        from tesseract_recognize_spark.functions.wav import wav_encode

        for pdf in batches:
            refs, payloads = [], []
            for d in pdf["doc_id"]:
                v = int(d) % 200
                i = np.arange(1024, dtype=np.int64)
                s = ((i * 7 + v) % 256 - 128).astype(np.int16)
                refs.append(f"media://doc-{int(d)}/wav")
                payloads.append(wav_encode(s, 16000))
            yield pd.DataFrame({"media_ref": refs, "payload": payloads})

    media = docs.mapInPandas(make, "media_ref string, payload binary")
    out = decode_audio_features(media, window=256)
    return out.select(
        "media_ref",
        "mime",
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("n_channels").cast("bigint").alias("n_channels"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        F.posexplode("features").alias("k", "feat"),
    ).select(
        "media_ref", "mime", "sample_rate", "n_channels", "n_samples",
        F.col("k").cast("bigint").alias("k"),
        F.col("feat").cast("bigint").alias("feat"),
    )


def q_dedup_embedding_cosine(spark, sf_dir):
    # embedding-cosine near-dup pairs: LSH-bucketed candidates, exact
    # cosine threshold verify — the dedup-flavored sibling of ann_lsh_topk
    # (operators/similarity.py:embedding_cosine_pairs; the oracle mirrors
    # the bucket constants exactly). The synthetic embeddings are
    # isotropic (max natural cosine ≈ 0.51), so the corpus is salted with
    # deterministic duplicates — every 10th vector re-enters under
    # vec_id+100000 — and the query must recover exactly those pairs
    # through the bucket join + exact verify (identical vectors share
    # every bucket by construction).
    from tesseract_recognize_spark.operators.similarity import (
        embedding_cosine_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    dups = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = embedding_cosine_pairs(
        emb.unionByName(dups), dim=64, threshold=0.9, bits=8
    )
    return out.select(
        F.col("vec_a").cast("bigint").alias("vec_a"),
        F.col("vec_b").cast("bigint").alias("vec_b"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "trim_normalize": q_trim_normalize,
        "span_explode_order": q_span_explode_order,
        "block_filter": q_block_filter,
        "word_fill_window": q_word_fill_window,
        "dominant_orientation": q_dominant_orientation,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "ann_cosine_topk": q_ann_cosine_topk,
        "langid": q_langid,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "media_reconcile": q_media_reconcile,
        "extract_full": q_extract_full,
        "extract_region_crops": q_extract_region_crops,
        "page_set_select": q_page_set_select,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "multimodal_image_features": q_multimodal_image_features,
        "multimodal_codec_matrix": q_multimodal_codec_matrix,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_mt_topk": q_ann_lsh_mt_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "events_window_rollup": q_events_window_rollup,
        "dedup_components": q_dedup_components,
        "dedup_components_star": q_dedup_components_star,
        "sample_stratified": q_sample_stratified,
        "sample_per_group_topn": q_sample_per_group_topn,
        "tfidf_top_terms": q_tfidf_top_terms,
        "quality_quantiles": q_quality_quantiles,
        "events_sessionize": q_events_sessionize,
        "events_sessionize_salted": q_events_sessionize_salted,
        "events_asof_join": q_events_asof_join,
        "events_asof_join_narrow": q_events_asof_join_narrow,
        "events_range_counts": q_events_range_counts,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "multimodal_audio_features": q_multimodal_audio_features,
    }


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_WORDS_SQL = (
    r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)"
)

# range's end is exclusive: positions 1 .. length - SHINGLE_K + 1
_SHINGLES_SQL = (
    f"case when length(text) >= {SHINGLE_K} then "
    f"list_distinct(list_transform(range(1, length(text) - {SHINGLE_K - 2}), "
    f"i -> substr(text, i::INT, {SHINGLE_K}))) else [] end"
)


def _hash64_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# Golden parquet produced by the pure-Python oracle over the sf0.01-derived
# span corpus (scripts/make_golden.py) — the driver runs oracles at sf0.01.
# This puts the flagship mock-OCR pipeline under the hard rows/schema/hash
# gate (the oracle derives spans independently of Spark and of the decoder).
GOLDEN_EXTRACT_FULL = "/root/repo/golden/extract_full_sf0.01.parquet"
GOLDEN_EXTRACT_CROPS = "/root/repo/golden/extract_crops_sf0.01.parquet"


def _golden_oracle(path: str) -> str:
    return f"""
SELECT doc_id, "order", kind, text, media_ref, level, region_id, line_id
FROM '{path}'
"""


def _extract_full_oracle() -> str:
    return _golden_oracle(GOLDEN_EXTRACT_FULL)


def _minhash_ctes(bucket_cap: int | None = None) -> str:
    """Shared CTE chain: shingles → base hashes → 16 minhashes → bands →
    distinct LSH candidate pairs (mirrors operators/dedup.py exactly —
    minhash values are min-over-the-same-multiset on both sides).
    ``bucket_cap`` mirrors ngram_jaccard_pairs' degenerate-bucket cap:
    band buckets holding more than cap docs are dropped before the
    candidate self-join (same window count over the same key)."""
    mh_cols = ", ".join(
        "list_min(list_transform(hs, h -> (({a} * h + {b}) % {p}))) AS mh{i}".format(
            a=mh_coeffs(i)[0], b=mh_coeffs(i)[1], p=MH_P, i=i
        )
        for i in range(N_HASHES)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', "
        + ", ".join(f"mh{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + ")) AS band_hash FROM sigs"
        for b in range(N_HASHES // BAND_SIZE)
    )
    if bucket_cap:
        bands_ctes = f"""bands_all AS ({band_selects}),
bands AS (
  SELECT doc_id, band_id, band_hash FROM (
    SELECT doc_id, band_id, band_hash,
           count(*) OVER (PARTITION BY band_id, band_hash) AS bsz
    FROM bands_all
  ) WHERE bsz <= {int(bucket_cap)}
),"""
    else:
        bands_ctes = f"bands AS ({band_selects}),"
    return f"""
WITH shing AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
),
hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> ({_hash64_sql('s')} % {MH_P} + {MH_P}) % {MH_P}) AS hs
  FROM shing WHERE len(sh) > 0
),
sigs AS (
  SELECT doc_id, {mh_cols} FROM hashed
),
{bands_ctes}
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)"""


def _minhash_lsh_oracle() -> str:
    return _minhash_ctes() + "\nSELECT doc_a, doc_b FROM cand\n"


def _verified_pairs_ctes(threshold: float, bucket_cap: int | None) -> str:
    """The CTE chain of ngram_jaccard_pairs: ``_minhash_ctes`` candidates,
    the EST_MIN_AGREE signature-agreement prefilter (``est``), distinct
    shingle-hash sets and the exact-Jaccard verify (``vpairs``: doc_a,
    doc_b, jaccard at or above ``threshold``)."""
    agree = " + ".join(
        f"(sa.mh{i} = sb.mh{i})::INT" for i in range(N_HASHES)
    )
    return (
        _minhash_ctes(bucket_cap=bucket_cap)
        + f""",
est AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
  WHERE ({agree}) >= {EST_MIN_AGREE}
),
sets AS (SELECT doc_id, list_distinct(hs) AS sh FROM hashed),
vpairs AS (
  SELECT doc_a, doc_b, jaccard FROM (
    SELECT e.doc_a, e.doc_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::DOUBLE
           AS jaccard
    FROM est e
    JOIN sets a ON a.doc_id = e.doc_a
    JOIN sets b ON b.doc_id = e.doc_b
  )
  WHERE jaccard >= {threshold}
)"""
    )


def _ngram_jaccard_oracle(
    threshold: float = 0.8, bucket_cap: int | None = 100
) -> str:
    return (
        _verified_pairs_ctes(threshold, bucket_cap)
        + "\nSELECT doc_a, doc_b, jaccard FROM vpairs\n"
    )


def _dedup_components_oracle(
    threshold: float = 0.8, bucket_cap: int | None = 100
) -> str:
    """Recursive-CTE reachability closure over the verified Jaccard
    pairs: component_id = min node id reachable — value-for-value the
    labeling connected_components computes in Spark (driver union-find
    or the distributed star rounds)."""
    ctes = _verified_pairs_ctes(threshold, bucket_cap).replace(
        "WITH shing", "WITH RECURSIVE shing", 1
    )
    return (
        ctes
        + """,
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM vpairs
  UNION
  SELECT doc_b, doc_a FROM vpairs
),
reach AS (
  SELECT u AS node, u AS lbl FROM edges
  UNION
  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (
  SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node
),
asg AS (
  SELECT d.doc_id, coalesce(c.component_id, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
)
SELECT doc_id, component_id,
       (count(*) OVER (PARTITION BY component_id))::BIGINT
           AS component_size,
       doc_id = component_id AS is_keeper
FROM asg
"""
    )


def _sample_hash_sql(key_expr: str, salt: str) -> str:
    """DuckDB twin of sampling.sample_hash: md5-derived hash64 of
    'salt|key', pmod 1e6 (hash64 is non-negative, plain % suffices)."""
    h = _hash64_sql(f"concat_ws('|', '{salt}', ({key_expr})::VARCHAR)")
    return f"({h} % 1000000)"


def _sample_stratified_oracle(salt: str = "mix1") -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {int(f * 1000000)}"
        for s, f in sorted(_MIX_FRACTIONS.items())
    )
    return f"""
SELECT event_id, event_type, user_id FROM events
WHERE {_sample_hash_sql('event_id', salt)}
      < CASE event_type {cases} ELSE 0 END
"""


def _sample_topn_oracle(n: int, salt: str = "mix1") -> str:
    return f"""
SELECT event_id, event_type FROM (
  SELECT event_id, event_type,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY {_sample_hash_sql('event_id', salt)} ASC, event_id ASC
         ) AS rk
  FROM events
) WHERE rk <= {n}
"""


def _ann_lsh_oracle(
    dim: int = 64, k: int = 5, bits: int = 8, n_queries: int = 50,
    n_tables: int = 1,
) -> str:
    """DuckDB oracle for lsh_topk, generated from the SAME md5-derived
    hyperplane sign constants the Spark expression is built from
    (operators/similarity.py:lsh_signs). list_dot_product is a sequential
    left-to-right sum, matching Spark's unrolled dot product bit-for-bit
    (verified by the round-1 ann_cosine_topk green row). With n_tables>1
    the candidate set is the union over tables (pairs deduped by a
    max-aggregate, mirroring the Spark plan)."""
    from tesseract_recognize_spark.operators.similarity import lsh_signs

    def bucket(t):
        return " + ".join(
            "(CASE WHEN list_dot_product(v, [{s}]) > 0 THEN {p} ELSE 0 END)"
            .format(
                s=", ".join(f"{float(x)}" for x in lsh_signs(b, dim, t)),
                p=1 << b,
            )
            for b in range(bits)
        )

    bucket_cols = ", ".join(
        f"({bucket(t)}) AS bucket{t}" for t in range(n_tables)
    )
    tb_union = " UNION ALL ".join(
        f"SELECT vec_id, v, norm, {t} AS tbl, bucket{t} AS bucket FROM bk"
        for t in range(n_tables)
    )
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bk AS (
  SELECT vec_id, v,
         sqrt(list_dot_product(v, v)) AS norm,
         {bucket_cols}
  FROM base
),
tb AS ({tb_union}),
pairs AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         max(list_dot_product(q.v, c.v) / (q.norm * c.norm)) AS sim
  FROM tb q JOIN tb c
    ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id < {n_queries}
  GROUP BY q.vec_id, c.vec_id
)
SELECT vec_id, rank, neighbor_id FROM (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def _ann_ivf_oracle(
    dim: int = 64, k: int = 5, nprobe: int = 3, n_queries: int = 50,
) -> str:
    """DuckDB oracle for ivf_topk: same ADAPTIVE centroid rule
    (stride = max(1, N // isqrt(N)), cells ≈ √N — the operator's
    scale-safe default), same rank-1 cell assignment (cosine desc,
    c_id asc), same nprobe-cell probe + exact re-rank. isqrt is
    reproduced exactly in SQL: FLOOR(SQRT(N)) is within ±1 of the true
    integer sqrt for any N < 2^52, and the CASE nudges it onto the
    exact value, so both engines derive the identical stride.
    list_dot_product matches Spark's unrolled left-to-right dot
    bit-for-bit (see _ann_lsh_oracle)."""
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm FROM base
),
isq0 AS (
  SELECT cnt, CAST(FLOOR(SQRT(cnt::DOUBLE)) AS BIGINT) AS s0
  FROM (SELECT COUNT(*) AS cnt FROM base)
),
params AS (
  SELECT GREATEST(1, cnt // (
    CASE WHEN s0 * s0 > cnt THEN s0 - 1
         WHEN (s0 + 1) * (s0 + 1) <= cnt THEN s0 + 1
         ELSE s0 END
  )) AS stride
  FROM isq0
),
cent AS (
  SELECT vec_id AS c_id, v AS cv, norm AS cnorm
  FROM n, params WHERE vec_id % params.stride = 0
),
scored AS (
  SELECT n.vec_id, n.v, n.norm, c.c_id,
         row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, c.cv) / (n.norm * c.cnorm)
                      DESC, c.c_id ASC
         ) AS rn
  FROM n CROSS JOIN cent c
),
corpus AS (
  SELECT vec_id, v, norm, c_id AS cell FROM scored WHERE rn = 1
),
probes AS (
  SELECT vec_id, v, norm, c_id AS cell
  FROM scored WHERE rn <= {nprobe} AND vec_id < {n_queries}
),
pairs AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.norm * c.norm) AS sim
  FROM probes q JOIN corpus c
    ON q.cell = c.cell AND q.vec_id != c.vec_id
)
SELECT vec_id, rank, neighbor_id FROM (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def _emb_cosine_oracle(
    dim: int = 64, threshold: float = 0.9, bits: int = 8
) -> str:
    """DuckDB oracle for embedding_cosine_pairs: same md5-derived
    hyperplane constants, same bucket equi-join, same left-to-right
    cosine (list_dot_product)."""
    from tesseract_recognize_spark.operators.similarity import lsh_signs

    bucket = " + ".join(
        "(CASE WHEN list_dot_product(v, [{s}]) > 0 THEN {p} ELSE 0 END)"
        .format(
            s=", ".join(f"{float(x)}" for x in lsh_signs(b, dim)),
            p=1 << b,
        )
        for b in range(bits)
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id % 10 = 0
),
bk AS (
  SELECT vec_id, v,
         sqrt(list_dot_product(v, v)) AS norm,
         ({bucket}) AS bucket
  FROM base
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM bk a JOIN bk b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= {threshold}
"""


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(case when ((h >> {b}) & 1) = 1 then 1 else -1 end) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(case when v{b} > 0 then {1 << b}::BIGINT else 0::BIGINT end)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS tok FROM documents
),
h AS (SELECT doc_id, {_hash64_sql('tok')} AS h FROM tok),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, ({sig}) AS simhash FROM v
"""


def _langid_oracle() -> str:
    vote_cols = []
    for lang, sw in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in sw)
        vote_cols.append(
            f"len(list_filter(w, x -> list_contains([{lst}], x)))::BIGINT"
            f" AS votes_{lang}"
        )
    langs = list(STOPWORDS)
    m = "greatest(" + ", ".join(f"votes_{la}" for la in langs) + ")"
    pred = "CASE "
    for la in langs[:-1]:
        pred += f"WHEN votes_{la} = {m} THEN '{la}' "
    pred += f"ELSE '{langs[-1]}' END"
    return f"""
WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
v AS (SELECT doc_id, {", ".join(vote_cols)} FROM w)
SELECT doc_id, {", ".join(f"votes_{la}" for la in langs)},
       CASE WHEN {m} > 0 THEN ({pred}) ELSE 'und' END AS pred_lang
FROM v
"""


def _quality_sql() -> str:
    """The quality_score SELECT, shared by the quality_score gate and
    the per-language quantile gate (one definition, two consumers)."""
    all_sw = ", ".join(
        f"'{w}'" for sw in STOPWORDS.values() for w in sw
    )
    return f"""
SELECT doc_id,
       length(text)::BIGINT AS n_chars,
       len({_WORDS_SQL})::BIGINT AS n_words,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
         / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)::DOUBLE
         AS alpha_ratio,
       length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
         / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)::DOUBLE
         AS punct_ratio,
       len(list_filter({_WORDS_SQL}, x -> list_contains([{all_sw}], x)))::DOUBLE
         / (CASE WHEN len({_WORDS_SQL}) > 0 THEN len({_WORDS_SQL}) ELSE 1 END)::DOUBLE
         AS stop_ratio,
       length(regexp_replace(text, '\\s', '', 'g'))::DOUBLE
         / (CASE WHEN len({_WORDS_SQL}) > 0 THEN len({_WORDS_SQL}) ELSE 1 END)::DOUBLE
         AS mean_word_len,
       (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
          / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)::DOUBLE) * 0.4
       + (len(list_filter({_WORDS_SQL}, x -> list_contains([{all_sw}], x)))::DOUBLE
          / (CASE WHEN len({_WORDS_SQL}) > 0 THEN len({_WORDS_SQL}) ELSE 1 END)::DOUBLE) * 0.4
       + (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
          / (CASE WHEN length(text) > 0 THEN length(text) ELSE 1 END)::DOUBLE) * 0.2
       AS quality_score
FROM documents
"""


def _quality_quantiles_oracle() -> str:
    ps_list = ", ".join(str(p) for p in QUANTILE_PS)
    return f"""
WITH qs AS ({_quality_sql()}),
j AS (
  SELECT d.lang, q.quality_score, q.doc_id
  FROM qs q JOIN documents d USING (doc_id)
),
r AS (
  SELECT lang, quality_score, doc_id,
         row_number() OVER (
           PARTITION BY lang ORDER BY quality_score ASC, doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM j
)
SELECT lang, p, quantile_value FROM (
  SELECT lang, quality_score AS quantile_value, rn, cnt,
         unnest([{ps_list}]::DOUBLE[]) AS p
  FROM r
) WHERE rn = floor((cnt - 1) * p) + 1
"""


def _codec_matrix_oracle() -> str:
    """Closed-form expectation for q_multimodal_codec_matrix: every
    container is lossless and carries the same gradient, so features
    share one formula; mime/channels vary by doc_id % n_formats
    (DuckDB list literals are 1-indexed)."""
    n = len(_CODEC_MATRIX)
    names = ", ".join(f"'{c[0]}'" for c in _CODEC_MATRIX)
    mimes = ", ".join(f"'{c[1]}'" for c in _CODEC_MATRIX)
    chans = ", ".join(str(c[2]) for c in _CODEC_MATRIX)
    return f"""
SELECT concat('media://doc-', doc_id, '/',
              [{names}][(doc_id % {n}) + 1]) AS media_ref,
       [{mimes}][(doc_id % {n}) + 1] AS mime,
       16::BIGINT AS width, 16::BIGINT AS height,
       ([{chans}][(doc_id % {n}) + 1])::BIGINT AS channels,
       k::BIGINT AS k,
       (doc_id % 200)::DOUBLE + 4 * (k // 8) + 2 * (k % 8) + 1.5 AS feature
FROM documents, range(0, 64) t(k)
"""


def oracle_sql() -> dict[str, str]:
    oracles = {
        "trim_normalize": r"""
SELECT doc_id, regexp_replace(text, '^\s+|\s+$', '', 'g') AS text_norm
FROM documents
""",
        "span_explode_order": """
SELECT doc_id,
       generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
       unnest(string_split(text, ' ')) AS token
FROM documents
""",
        "block_filter": """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem WHERE l_quantity <= 8
""",
        "word_fill_window": """
SELECT l_orderkey, l_linenumber,
       coalesce(v,
                last_value(v IGNORE NULLS) OVER w_pre,
                first_value(v IGNORE NULLS) OVER w_fol,
                -1.0) AS filled
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice,
         CASE WHEN l_linenumber % 3 = 0 THEN NULL
              ELSE l_extendedprice END AS v
  FROM lineitem
)
WINDOW
  w_pre AS (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
  w_fol AS (PARTITION BY l_orderkey
            ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
""",
        "dominant_orientation": """
WITH v AS (
  SELECT l_orderkey,
         -- ::BIGINT: DuckDB sum(INTEGER) yields HUGEINT; Spark sum(int)
         -- yields BIGINT, and the driver's value hash is typed
         sum(CASE l_partkey % 4 WHEN 0 THEN 1 WHEN 2 THEN -1 ELSE 0 END)::BIGINT AS sum_dx,
         sum(CASE l_partkey % 4 WHEN 1 THEN 1 WHEN 3 THEN -1 ELSE 0 END)::BIGINT AS sum_dy
  FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey, sum_dx, sum_dy,
       CASE
         WHEN sum_dy > 0 AND sum_dy >= sum_dx AND sum_dy > -sum_dx THEN -90
         WHEN sum_dy < 0 AND sum_dx > sum_dy AND sum_dx <= -sum_dy THEN 90
         WHEN sum_dx < 0 AND ((sum_dy >= 0 AND sum_dy <= -sum_dx)
                              OR (sum_dy < 0 AND sum_dy <= sum_dx)) THEN 180
         ELSE 0
       END AS rotate_angle
FROM v
""",
        "dedup_exact": """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS dup_count
FROM documents GROUP BY 1
""",
        "dedup_minhash_lsh": _minhash_lsh_oracle(),
        "dedup_simhash": _simhash_oracle(),
        "dedup_ngram_jaccard": _ngram_jaccard_oracle(0.8),
        "ann_cosine_topk": """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v)
         / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
         AS sim
  FROM base q JOIN base c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 50
)
SELECT vec_id, rank, neighbor_id FROM (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= 5
""",
        "langid": _langid_oracle(),
        "quality_score": _quality_sql(),
        "quality_quantiles": _quality_quantiles_oracle(),
        "token_counts": r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                       x -> len(x) > 0))::BIGINT AS ws_tokens,
       len(regexp_extract_all(lower(text),
                              '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT
         AS bpeish_tokens
FROM documents
""",
        "doc_fingerprint": r"""
WITH n AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(lower(text), '\s+', ' ', 'g'),
                        '^ | $', '', 'g') AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS fingerprint, length(norm)::BIGINT AS norm_len
FROM n
""",
        "media_reconcile": """
SELECT concat('media://', doc_id, '/0') AS media_ref
FROM documents WHERE doc_id % 3 = 0
EXCEPT
SELECT concat('media://', doc_id, '/0') AS media_ref
FROM documents WHERE doc_id % 6 = 0
""",
        "ann_lsh_topk": _ann_lsh_oracle(dim=64, k=5, bits=8, n_queries=50),
        "ann_lsh_mt_topk": _ann_lsh_oracle(
            dim=64, k=5, bits=8, n_queries=50, n_tables=2
        ),
        "ann_ivf_topk": _ann_ivf_oracle(
            dim=64, k=5, nprobe=3, n_queries=50
        ),
        "events_window_rollup": """
SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT
           AS window_start,
       epoch(time_bucket(INTERVAL '5 minutes', ts)
             + INTERVAL '5 minutes')::BIGINT AS window_end,
       event_type,
       count(*)::BIGINT AS n_events,
       sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS sum_value_cents
FROM events
GROUP BY 1, 2, 3
""",
        "dedup_components": _dedup_components_oracle(0.8),
        # star must land the identical min-reachable-label fixpoint
        "dedup_components_star": _dedup_components_oracle(0.8),
        "sample_stratified": _sample_stratified_oracle(),
        "sample_per_group_topn": _sample_topn_oracle(50),
        "tfidf_top_terms": f"""
WITH tok AS (SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf_count FROM tok GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*)::BIGINT AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf_count, d.doc_freq,
         (t.tf_count::DOUBLE * n.n_docs) / d.doc_freq AS score
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf_count, doc_freq, score FROM (
  SELECT doc_id, term, tf_count, doc_freq, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC
         ) AS rank
  FROM scored
) WHERE rank <= 5
""",
        "events_sessionize": """
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
), flagged AS (
  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w > 21600000000
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sessed AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq::BIGINT AS session_seq,
       min(ts_us)::BIGINT AS session_start_us,
       max(ts_us)::BIGINT AS session_end_us,
       count(*)::BIGINT AS n_events,
       sum(value_cents)::BIGINT AS sum_value_cents
FROM sessed GROUP BY 1, 2
""",
        "events_asof_join": """
WITH base AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS value_cents, event_type
  FROM events
), u AS (
  SELECT user_id, event_id, ts_us, 1 AS _side,
         NULL::BIGINT AS p_id, NULL::BIGINT AS p_ts, NULL::BIGINT AS p_val
  FROM base WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, event_id, ts_us, 0,
         event_id, ts_us, value_cents
  FROM base WHERE event_type = 'purchase'
), filled AS (
  SELECT user_id, event_id, ts_us, _side,
         last_value(p_id IGNORE NULLS) OVER w AS asof_event_id,
         last_value(p_ts IGNORE NULLS) OVER w AS asof_ts_us,
         last_value(p_val IGNORE NULLS) OVER w AS asof_value_cents
  FROM u
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, _side, event_id
               ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id, ts_us,
       coalesce(asof_event_id, -1)::BIGINT AS asof_event_id,
       coalesce(asof_ts_us, -1)::BIGINT AS asof_ts_us,
       coalesce(asof_value_cents, -1)::BIGINT AS asof_value_cents
FROM filled WHERE _side = 1
""",
        "events_range_counts": """
WITH base AS (
  SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events
)
SELECT a.event_id AS anchor_id, a.ts_us AS ts_us,
       count(p.ts_us)::BIGINT AS n_within
FROM base a LEFT JOIN base p
  ON p.event_type = 'click' AND abs(p.ts_us - a.ts_us) <= 600000000
WHERE a.event_type = 'error'
GROUP BY 1, 2
""",
        "dedup_embedding_cosine": _emb_cosine_oracle(
            dim=64, threshold=0.9, bits=8
        ),
        "multimodal_audio_features": """
SELECT concat('media://doc-', doc_id, '/wav') AS media_ref,
       'audio/x-wav' AS mime,
       16000::BIGINT AS sample_rate,
       1::BIGINT AS n_channels,
       1024::BIGINT AS n_samples,
       k::BIGINT AS k,
       list_sum(list_transform(range(256),
           j -> abs((((k * 256 + j) * 7 + doc_id % 200) % 256) - 128)
       ))::BIGINT AS feat
FROM documents
CROSS JOIN (SELECT unnest(range(4)) AS k)
""",
        "extract_full": _extract_full_oracle(),
        "extract_region_crops": _golden_oracle(GOLDEN_EXTRACT_CROPS),
        "page_set_select": """
SELECT doc_id, 1::BIGINT AS media_idx, 2::BIGINT AS n_media,
       concat('media://', doc_id, '/0') AS media_ref
FROM documents
UNION ALL
SELECT doc_id, 2::BIGINT AS media_idx, 2::BIGINT AS n_media,
       concat('media://', doc_id, '/2') AS media_ref
FROM documents
""",
        "multimodal_frame_sample": """
SELECT doc_id,
       (doc_id % 50 + 1)::BIGINT AS n_frames,
       unnest(range(0, (doc_id % 50 + 1)::INT, 7))::BIGINT AS frame_idx
FROM documents
""",
        "multimodal_image_features": """
SELECT concat('media://doc-', doc_id, '/png') AS media_ref,
       'image/png' AS mime,
       16::BIGINT AS width, 16::BIGINT AS height, 1::BIGINT AS channels,
       k::BIGINT AS k,
       (doc_id % 200)::DOUBLE + 4 * (k // 8) + 2 * (k % 8) + 1.5 AS feature
FROM documents, range(0, 64) t(k)
""",
        "multimodal_codec_matrix": _codec_matrix_oracle(),
    }
    # the salted skew path must produce the IDENTICAL sessions — one
    # oracle string serves both (the whole point of the pin)
    oracles["events_sessionize_salted"] = oracles["events_sessionize"]
    # the narrow-core (wide-payload) as-of path must produce the
    # IDENTICAL attribution — one oracle string serves both paths
    oracles["events_asof_join_narrow"] = oracles["events_asof_join"]
    return oracles
