"""Training-data pipeline operators: dedup, similarity, text stats,
multimodal plumbing. Cross-engine value equality is covered by the driver
gate (scripts/check_correctness.py); these tests pin semantics."""

import numpy as np
import pytest

from tesseract_recognize_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_signature,
)
from tesseract_recognize_spark.operators.multimodal import (
    decode_image_features,
    fake_codec,
    frame_sample,
    synth_media_bytes,
)
from tesseract_recognize_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from tesseract_recognize_spark.operators.textstats import (
    langid_stopwords,
    quality_score,
    token_counts,
)

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat and the dog sat", "en"),
        (2, "the cat and the dog sat", "en"),        # exact dup of 1
        (3, "the cat and the dog sat here", "en"),   # near dup
        (4, "der hund und die katze ist da und das", "de"),
        (5, "completely different text about spark engines", "en"),
        (6, "xy", "en"),                              # shorter than a shingle
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_exact_dedup(spark, docs):
    out = {r["keep_doc_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2          # docs 1+2 collapse
    assert out[3] == 1


def test_minhash_finds_near_dup(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert (1, 2) in pairs                       # identical → all bands match
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] < 1.0


def test_simhash_similar_texts_close(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signature(docs).collect()}
    assert sigs[1] == sigs[2]
    ham = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham < ham_far


def test_brute_force_topk_ranks(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),     # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),    # farthest from 0
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = brute_force_topk(emb, dim=3, n_queries=4, k=3)
    rows = {(r["vec_id"], r["rank"]): r["neighbor_id"] for r in out.collect()}
    assert rows[(0, 1)] == 1 and rows[(0, 3)] == 3


def test_brute_force_topk_rejects_empty_query_set(spark):
    emb = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="n_queries"):
        brute_force_topk(emb, dim=2, n_queries=0)


def test_topk_plan_prunes_before_single_exchange(spark):
    """Pin the two_phase_topk physical shape: Catalyst's rank-limit
    pushdown (WindowGroupLimit, Spark >= 3.5) must insert a map-side
    per-vec_id prune BELOW the one hash(vec_id) exchange, so the shuffle
    carries <= k rows per (query, map partition) — never the full pair
    set. A Spark upgrade that silently dropped the rewrite would
    reintroduce the 10^9-scale straggler wall; this test catches it."""
    import io
    from contextlib import redirect_stdout

    rng = np.random.RandomState(1)
    emb = spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(30)],
        ["vec_id", "embedding"],
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        brute_force_topk(emb, dim=8, n_queries=30, k=3).explain("formatted")
    plan = buf.getvalue()
    # parse "(id) OpName" detail-section headers (children get LOWER ids)
    ids: dict[str, list[int]] = {}
    for ln in plan.splitlines():
        s = ln.strip()
        if s.startswith("(") and ") " in s:
            op_id = int(s[1:s.index(")")])
            name = s[s.index(") ") + 2:].split()[0]
            ids.setdefault(name, []).append(op_id)
    assert len(ids.get("WindowGroupLimit", [])) == 2  # Partial + Final
    assert len(ids.get("Exchange", [])) == 1  # the one pruned shuffle
    assert min(ids["WindowGroupLimit"]) < ids["Exchange"][0] < max(
        ids["WindowGroupLimit"]
    )


def test_lsh_topk_subset_of_bruteforce(spark):
    rng = np.random.RandomState(0)
    vecs = [(i, rng.randn(16).tolist()) for i in range(40)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, dim=16, n_queries=40, k=39).collect()
    }
    approx = lsh_topk(emb, dim=16, k=5, bits=4).collect()
    assert len(approx) > 0
    assert all((r["vec_id"], r["neighbor_id"]) in exact for r in approx)


def test_ivf_topk_exact_at_full_probe_and_subset(spark):
    """Probing every cell makes IVF exact search (must equal brute
    force row-for-row); a small nprobe returns a subset of the exact
    neighbor pairs with contiguous ranks per query."""
    from tesseract_recognize_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(3)
    vecs = [(i, rng.randn(8).tolist()) for i in range(60)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    n_cells = sum(1 for i in range(60) if i % 7 == 0)  # stride-7 rule
    full = ivf_topk(
        emb, dim=8, k=4, nprobe=n_cells, centroid_stride=7
    ).collect()
    exact = brute_force_topk(emb, dim=8, n_queries=60, k=4).collect()
    key = lambda r: (r["vec_id"], r["rank"], r["neighbor_id"])  # noqa: E731
    assert sorted(map(key, full)) == sorted(map(key, exact))

    approx = ivf_topk(emb, dim=8, k=4, nprobe=2, centroid_stride=7).collect()
    exact_pairs = {
        (r["vec_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, dim=8, n_queries=60, k=59).collect()
    }
    assert len(approx) > 0
    assert all((r["vec_id"], r["neighbor_id"]) in exact_pairs for r in approx)
    ranks = {}
    for r in approx:
        ranks.setdefault(r["vec_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in ranks.values())
    spark.catalog.clearCache()


def test_ivf_topk_adaptive_stride_matches_explicit(spark):
    """centroid_stride=None derives stride = max(1, N // isqrt(N)) from
    a count of the input — the √N-cells sizing that keeps assignment
    O(N^1.5) instead of O(N²/const). Pinned identical to passing the
    same stride explicitly (60 vecs → isqrt=7 → stride=8)."""
    import math

    from tesseract_recognize_spark.operators.similarity import ivf_topk

    rng = np.random.RandomState(11)
    vecs = [(i, rng.randn(8).tolist()) for i in range(60)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    stride = max(1, 60 // math.isqrt(60))
    assert stride == 8
    key = lambda r: (r["vec_id"], r["rank"], r["neighbor_id"])  # noqa: E731
    adaptive = ivf_topk(emb, dim=8, k=3, nprobe=2).collect()
    explicit = ivf_topk(
        emb, dim=8, k=3, nprobe=2, centroid_stride=stride
    ).collect()
    assert sorted(map(key, adaptive)) == sorted(map(key, explicit))
    assert len(adaptive) > 0
    spark.catalog.clearCache()


def test_langid_and_stats(spark, docs):
    pred = {r["doc_id"]: r["pred_lang"] for r in langid_stopwords(docs).collect()}
    assert pred[1] == "en" and pred[4] == "de"
    q = {r["doc_id"]: r for r in quality_score(docs).collect()}
    assert 0 <= q[1]["quality_score"] <= 1
    assert q[1]["n_words"] == 6
    t = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert t[1]["ws_tokens"] == 6
    assert t[1]["bpeish_tokens"] == 6


def test_multimodal_decode_plumbing(spark):
    rows = [
        ("m://a", synth_media_bytes("m://a", 32, 16)),
        ("m://b", synth_media_bytes("m://b", 640, 480, 1)),
    ]
    df = spark.createDataFrame(rows, ["media_ref", "payload"])
    out = decode_image_features(df, codec=fake_codec, resize_to=4).collect()
    by_ref = {r["media_ref"]: r for r in out}
    assert by_ref["m://a"].width == 32 and by_ref["m://a"].height == 16
    assert by_ref["m://b"].channels == 1
    assert len(by_ref["m://a"].features) == 16
    # deterministic across runs
    again = decode_image_features(df, codec=fake_codec, resize_to=4).collect()
    assert sorted(r["features"] for r in again) == sorted(
        r["features"] for r in out
    )


def test_multimodal_undecodable_payload_quarantined(spark):
    """One bad payload must NOT fail the stage (10^12-row discipline):
    IMG1 synthetic bytes have no stdlib codec, so the row survives with
    NULL metadata/features and the decode error recorded, while the good
    PNG row in the same batch decodes normally."""
    from tesseract_recognize_spark.functions.png import png_encode

    good = png_encode(np.arange(64, dtype=np.uint8).reshape(8, 8))
    rows = [
        ("m://bad", synth_media_bytes("m://bad", 8, 8)),
        ("m://trunc", good[:20]),  # truncated PNG → malformed, not fatal
        ("m://good", good),
    ]
    df = spark.createDataFrame(rows, ["media_ref", "payload"])
    out = {r["media_ref"]: r for r in decode_image_features(df).collect()}
    assert len(out) == 3
    assert out["m://bad"].error is not None
    assert "no stdlib codec" in out["m://bad"].error
    assert out["m://bad"].features is None and out["m://bad"].width is None
    assert out["m://trunc"].error is not None
    assert out["m://good"].error is None
    assert out["m://good"].width == 8 and out["m://good"].mime == "image/png"


def test_multimodal_nonpng_codecs_and_mime(spark):
    """PPM/PGM and BMP payloads decode through the default chain and the
    mime column reflects the DETECTED container."""
    from tesseract_recognize_spark.functions.codecs import (
        bmp_encode,
        ppm_encode,
    )

    gray = (np.arange(96, dtype=np.uint8).reshape(8, 12) * 2) % 256
    rgb = np.dstack([gray, gray // 2, 255 - gray])
    rows = [
        ("m://pgm", bytearray(ppm_encode(gray))),
        ("m://ppm", bytearray(ppm_encode(rgb))),
        ("m://bmp", bytearray(bmp_encode(rgb))),
    ]
    df = spark.createDataFrame(rows, ["media_ref", "payload"])
    out = {r["media_ref"]: r for r in
           decode_image_features(df, resize_to=4).collect()}
    assert out["m://pgm"].mime == "image/x-portable-graymap"
    assert out["m://ppm"].mime == "image/x-portable-pixmap"
    assert out["m://bmp"].mime == "image/bmp"
    for r in out.values():
        assert r.error is None
        assert (r.width, r.height, r.channels) in {(12, 8, 1), (12, 8, 3)}
    # PPM and BMP carry the same RGB pixels → identical pooled features
    assert out["m://ppm"].features == out["m://bmp"].features


def test_multimodal_codec_matrix_closed_form(spark):
    """Every lossless container in the chain (PNG, PGM, PPM, BMP, GIF,
    LZW-TIFF w/ predictor, PackBits-TIFF) carries the same 16×16
    gradient; mean-pooled 8×8 features must land the identical
    closed-form values bit-for-bit regardless of container — the same
    invariant the driver's multimodal_codec_matrix hash gate enforces at
    sf0.01 (__spark_entry__._CODEC_MATRIX)."""
    from tesseract_recognize_spark.functions.codecs import (
        bmp_encode,
        gif_encode,
        ppm_encode,
        tiff_encode,
    )
    from tesseract_recognize_spark.functions.png import png_encode

    v = 37
    gray = (
        (np.arange(16)[None, :] + 2 * np.arange(16)[:, None] + v) % 256
    ).astype(np.uint8)
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    rows = [
        ("m://png", bytearray(png_encode(gray)), "image/png", 1),
        ("m://pgm", bytearray(ppm_encode(gray)),
         "image/x-portable-graymap", 1),
        ("m://ppm", bytearray(ppm_encode(rgb)),
         "image/x-portable-pixmap", 3),
        ("m://bmp", bytearray(bmp_encode(rgb)), "image/bmp", 3),
        ("m://gif", bytearray(gif_encode(gray)), "image/gif", 3),
        ("m://tiff-lzw", bytearray(tiff_encode(gray, "lzw", predictor=2)),
         "image/tiff", 1),
        ("m://tiff-pb", bytearray(tiff_encode(rgb, "packbits")),
         "image/tiff", 3),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], ["media_ref", "payload"]
    )
    out = {r["media_ref"]: r for r in
           decode_image_features(df, resize_to=8).collect()}
    expect = [float(v + 4 * i + 2 * j + 1.5)
              for i in range(8) for j in range(8)]
    for ref, _, mime, channels in rows:
        r = out[ref]
        assert r.error is None, (ref, r.error)
        assert r.mime == mime
        assert (r.width, r.height, r.channels) == (16, 16, channels)
        assert r.features == expect, ref


def test_multimodal_alpha_excluded_from_features(spark):
    """RGBA features must ignore alpha: same RGB + different alpha planes
    → identical pooled features (the alpha-averaging bug the round-3
    advisor flagged)."""
    from tesseract_recognize_spark.functions.png import png_encode

    rng = np.random.RandomState(3)
    rgb = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)
    opaque = np.dstack([rgb, np.full((8, 8), 255, np.uint8)])
    clear = np.dstack([rgb, np.zeros((8, 8), np.uint8)])
    df = spark.createDataFrame(
        [("m://op", png_encode(opaque)), ("m://cl", png_encode(clear))],
        ["media_ref", "payload"],
    )
    out = {r["media_ref"]: r for r in
           decode_image_features(df, resize_to=4).collect()}
    assert out["m://op"].channels == 4
    assert out["m://op"].features == out["m://cl"].features


def test_frame_sample(spark):
    df = spark.createDataFrame([("v1", 25)], ["media_ref", "n_frames"])
    out = frame_sample(df, every_n=10).collect()
    assert [r["frame_idx"] for r in out] == [0, 10, 20]


def test_embedding_cosine_pairs_threshold_and_subset(spark):
    """Near-dup pairs are (a) truly above the cosine threshold and (b) a
    subset of the exact all-pairs answer (LSH recall < 1); a pair of
    identical vectors (cos=1) in one bucket by construction is found."""
    from tesseract_recognize_spark.operators.similarity import (
        embedding_cosine_pairs,
    )

    rng = np.random.RandomState(7)
    vecs = [(i, rng.randn(16).tolist()) for i in range(30)]
    vecs.append((30, list(vecs[0][1])))  # exact duplicate of vec 0
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {(r["vec_a"], r["vec_b"]) for r in
           embedding_cosine_pairs(emb, dim=16, threshold=0.95, bits=4)
           .collect()}
    arr = {i: np.array(v) for i, v in vecs}
    exact = {
        (a, b)
        for a in arr for b in arr if a < b
        and float(arr[a] @ arr[b])
        / (np.linalg.norm(arr[a]) * np.linalg.norm(arr[b])) >= 0.95
    }
    assert (0, 30) in got          # identical pair always shares buckets
    assert got <= exact            # no false positives (exact verify)
    spark.catalog.clearCache()


def test_audio_features_decode_and_quarantine(spark):
    """WAV payloads decode through the stdlib codec with integer-exact
    windowed features; undecodable audio quarantines per row."""
    from tesseract_recognize_spark.functions.wav import wav_encode
    from tesseract_recognize_spark.operators.multimodal import (
        decode_audio_features,
    )

    s = ((np.arange(512, dtype=np.int64) * 3) % 100 - 50).astype(np.int16)
    rows = [
        ("a://ok", bytearray(wav_encode(s, 16000))),
        ("a://bad", bytearray(b"OggS notawav")),
    ]
    df = spark.createDataFrame(rows, ["media_ref", "payload"])
    out = {r["media_ref"]: r for r in
           decode_audio_features(df, window=128).collect()}
    ok = out["a://ok"]
    assert ok.error is None and ok.mime == "audio/x-wav"
    assert ok.sample_rate == 16000 and ok.n_samples == 512
    expect = np.abs(s.astype(np.int64)).reshape(4, 128).sum(axis=1)
    assert ok.features == [int(x) for x in expect]
    bad = out["a://bad"]
    assert bad.error is not None and bad.features is None


def test_ngram_jaccard_mega_bucket_cap(spark):
    """Degenerate-bucket cap: a templated corpus collapses into one LSH
    band bucket per band; uncapped, a bucket of b docs yields O(b²)
    candidate pairs — the 10^12-row quadratic failure mode. With
    bucket_cap set (the default), over-cap buckets are dropped wholesale
    BEFORE the self-join, so the boilerplate clique contributes zero
    pairs while genuine small-cluster duplicates still verify."""
    template = [(i, "identical boilerplate page body text", "en")
                for i in range(300)]
    genuine = [
        (1000, "unique snowflake document alpha variant", "en"),
        (1001, "unique snowflake document alpha variant", "en"),
        (2000, "another distinct duplicate cluster beta", "en"),
        (2001, "another distinct duplicate cluster beta", "en"),
    ]
    docs = spark.createDataFrame(
        template + genuine, ["doc_id", "text", "lang"]
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(
            docs, threshold=0.8, bucket_cap=100
        ).collect()
    }
    assert capped == {(1000, 1001), (2000, 2001)}
    # sanity: the cap (not the verify) is what bounds the clique — a cap
    # above the clique size re-admits its ~45k pairs
    uncapped = ngram_jaccard_pairs(
        docs, threshold=0.8, bucket_cap=None
    ).count()
    assert uncapped == 300 * 299 // 2 + 2


def test_arrow_fold_bitwise_equals_sql_chain(spark):
    """The round-5 vectorization contract: the numpy left-to-right
    dimension fold (_pair_dot_lr, and the mapInPandas variants built
    the same way) produces BIT-IDENTICAL doubles to the unrolled SQL
    chain (_dot_sql) — not approximately-equal: the ANN operators'
    DuckDB hash gates depend on exact equality of every similarity."""
    from tesseract_recognize_spark.operators.similarity import (
        _dot_sql,
        _pair_dot_lr,
    )

    from pyspark.sql import functions as F

    rng = np.random.RandomState(7)
    dim = 16
    # adversarial magnitudes: mixed scales maximize rounding sensitivity
    # to summation order, which is exactly what the fold must preserve
    vecs = [
        (i, (rng.randn(dim) * (10.0 ** rng.randint(-8, 9, dim))).tolist())
        for i in range(40)
    ]
    emb = spark.createDataFrame(vecs, ["vec_id", "v"])
    a, b = emb.alias("a"), emb.alias("b")
    both = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.expr(_dot_sql("a.v", "b.v", dim)).alias("sql_dot"),
            _pair_dot_lr(F.col("a.v"), F.col("b.v")).alias("arrow_dot"),
        )
        .collect()
    )
    assert len(both) == 40 * 39 // 2
    import struct as _struct

    for r in both:
        assert _struct.pack("<d", r["sql_dot"]) == _struct.pack(
            "<d", r["arrow_dot"]
        ), (r["sql_dot"], r["arrow_dot"])


def test_minhash_bucket_cap_bounds_mega_clique(spark):
    """minhash_lsh_pairs(bucket_cap=...) drops band mega-buckets before
    the self-join (the O(b²) templated-corpus failure mode), while
    ordinary duplicate pairs survive. Default (cap off) keeps the full
    candidate-set contract."""
    template = [
        (i, "identical boilerplate page body text", "en")
        for i in range(200)
    ]
    genuine = [
        (1000, "a unique document about distributed joins", "en"),
        (1001, "a unique document about distributed joins", "en"),
    ]
    docs = spark.createDataFrame(
        template + genuine, ["doc_id", "text", "lang"]
    )
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, bucket_cap=50).collect()
    }
    assert capped == {(1000, 1001)}
    uncapped = minhash_lsh_pairs(docs).count()
    assert uncapped == 200 * 199 // 2 + 1
