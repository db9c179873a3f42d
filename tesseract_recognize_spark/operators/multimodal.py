"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct. The Spark-side plumbing — schema, Arrow batch shape,
``mapInPandas`` signatures, partitioning — is real and tested. The
default codec chain decodes PNG, baseline JPEG, binary PPM/PGM,
uncompressed BMP, baseline TIFF (uncompressed/LZW/deflate/PackBits
strips + horizontal predictor) and GIF for real (pure stdlib, functions/png.py
+ functions/jpeg.py + functions/codecs.py); formats that are not
stdlib-decodable (progressive JPEG, CCITT-fax TIFF,
video containers, ...) stay behind the
injectable-codec seam because no image/audio libraries ship in this
container, and ``fake_codec`` provides the deterministic stand-in used by
tests (it parses the synthetic payload header). Undecodable payloads are
quarantined per row (``error`` column), never stage failures.

Synthetic payload format (produced by ``synth_media_bytes``):
    b"IMG1" + width:uint16 + height:uint16 + channels:uint8 + payload
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "IMAGE_FEATURES_SCHEMA",
    "AUDIO_FEATURES_SCHEMA",
    "synth_media_bytes",
    "fake_codec",
    "decode_image_features",
    "decode_audio_features",
    "frame_sample",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    list(MEDIA_META_SCHEMA.fields)
    + [
        T.StructField("features", T.ArrayType(T.DoubleType())),
        T.StructField("error", T.StringType()),
    ]
)

_MAGIC = b"IMG1"


def synth_media_bytes(media_ref: str, width: int, height: int, channels: int = 3) -> bytes:
    """Deterministic fake payload for a media_ref (tests/fixtures)."""
    rng_byte = sum(media_ref.encode()) % 251
    body = bytes(
        (rng_byte + i) % 256 for i in range(min(width * height, 4096))
    )
    return _MAGIC + struct.pack("<HHB", width, height, channels) + body


def fake_codec(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decoder: parses the synthetic header and
    materializes a small gradient image — real pixel decode would slot in
    here (PIL/libvips/ffmpeg)."""
    if payload[:4] != _MAGIC:
        raise ValueError("not a synthetic IMG1 payload")
    w, h, c = struct.unpack("<HHB", payload[4:9])
    w_, h_ = min(w, 64), min(h, 64)
    base = np.frombuffer(payload[9:], dtype=np.uint8)
    img = np.resize(base, (h_, w_, c))
    return img


def _decode_rows(
    media_df: DataFrame,
    decode: Callable[[bytes], dict],
    schema: T.StructType,
) -> DataFrame:
    """(media_ref, payload) → one ``schema`` row per payload via an
    Arrow-batched UDF: ``mime`` is the sniffed container, ``n_bytes`` the
    payload size, and the other fields come from ``decode(payload)``. A
    payload that ``decode`` raises on is quarantined (the ocr_expand
    level='error' discipline): its row survives with NULL decoded fields
    and the error message in ``error`` — one bad payload in a 10^12-row
    corpus must not fail the stage."""
    from tesseract_recognize_spark.functions.codecs import sniff_mime

    cols = [f.name for f in schema.fields]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                payload = bytes(payload)
                row = dict.fromkeys(cols)
                row.update(
                    media_ref=ref,
                    mime=sniff_mime(payload) or "application/octet-stream",
                    n_bytes=len(payload),
                )
                try:
                    row.update(decode(payload))
                except Exception as e:  # quarantine, don't fail the stage
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return media_df.mapInPandas(fn, schema=schema)


def decode_image_features(
    media_df: DataFrame,
    codec: Callable[[bytes], np.ndarray] | None = None,
    resize_to: int = 8,
) -> DataFrame:
    """binary payloads → per-image features via an Arrow-batched UDF.

    Input: (media_ref string, payload binary). Output: metadata struct
    fields + a mean-pooled ``resize_to``×``resize_to`` grayscale feature
    vector (array<double>) + an ``error`` column. With ``codec=None``
    PNG, baseline JPEG, binary PPM/PGM, uncompressed BMP, baseline
    TIFF (uncompressed/LZW/deflate/PackBits strips, horizontal
    predictor) and GIF payloads decode for real via the pure-stdlib codec
    chain (functions/png.py + functions/jpeg.py + functions/codecs.py —
    the reference's pixRead analog, tesseract-recognize.cc:513-531);
    the remaining formats (progressive JPEG, CCITT-fax TIFF, ...) still
    need an injected codec (no image libraries ship in this container).
    ``mime`` reflects the DETECTED container, not the claimed one.
    Malformed payloads are quarantined per row (see ``_decode_rows``).
    """
    if codec is None:
        from tesseract_recognize_spark.functions.codecs import decode_image

        codec = decode_image

    def features(payload: bytes) -> dict:
        img = codec(payload)
        h, w = img.shape[:2]
        c = 1 if img.ndim == 2 else img.shape[2]
        # grayscale pooling EXCLUDING any alpha channel:
        # GA → gray plane, RGBA → mean of RGB only
        if img.ndim == 2:
            gray = img.astype(float)
        elif c == 2:
            gray = img[:, :, 0].astype(float)
        elif c == 4:
            gray = img[:, :, :3].mean(axis=2)
        else:
            gray = img.mean(axis=2)
        # mean-pool to a fixed grid (integer bucket edges)
        ys = np.linspace(0, h, resize_to + 1).astype(int)
        xs = np.linspace(0, w, resize_to + 1).astype(int)
        feat = [
            float(gray[ys[i]:max(ys[i + 1], ys[i] + 1),
                       xs[j]:max(xs[j + 1], xs[j] + 1)].mean())
            for i in range(resize_to)
            for j in range(resize_to)
        ]
        return dict(width=w, height=h, channels=c, features=feat)

    return _decode_rows(media_df, features, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType()),
        T.StructField("mime", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        # per-window sum of |sample| over full windows — integer-exact,
        # so the DuckDB hash gate can reproduce it bit-for-bit
        T.StructField("features", T.ArrayType(T.LongType())),
        T.StructField("error", T.StringType()),
    ]
)


def decode_audio_features(
    media_df: DataFrame,
    codec: Callable[[bytes], tuple[int, np.ndarray]] | None = None,
    window: int = 256,
) -> DataFrame:
    """binary audio payloads → typed metadata + windowed features via an
    Arrow-batched UDF — the audio leg of the multimodal column story.

    Input: (media_ref string, payload binary). With ``codec=None`` PCM
    WAV decodes for real (pure-stdlib, functions/wav.py); compressed
    audio (MP3/AAC/...) needs an injected codec returning
    (rate, int16 ndarray). Features are the per-window sums of |sample|
    over full ``window``-sample windows of the first channel — exact
    int64 arithmetic, reproducible by the DuckDB oracle. Malformed
    payloads are quarantined per row (see ``_decode_rows``).
    """
    if codec is None:
        from tesseract_recognize_spark.functions.wav import wav_decode

        codec = wav_decode

    def features(payload: bytes) -> dict:
        rate, samples = codec(payload)
        n_ch = 1 if samples.ndim == 1 else samples.shape[1]
        mono = samples if samples.ndim == 1 else samples[:, 0]
        n = len(mono)
        n_win = n // window
        absd = np.abs(mono[: n_win * window].astype(np.int64))
        feats = absd.reshape(n_win, window).sum(axis=1)
        return dict(
            sample_rate=rate, n_channels=n_ch, n_samples=n,
            features=[int(x) for x in feats],
        )

    return _decode_rows(media_df, features, AUDIO_FEATURES_SCHEMA)


def frame_sample(media_df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video-style frame sampling as pure plan surgery: one row per sampled
    frame index (native sequence + explode — the decode of each sampled
    frame would then go through decode_image_features). Media with
    ``n_frames <= 0`` degrade to zero rows (explode of NULL) instead of a
    runtime 'illegal sequence boundaries' error."""
    return media_df.withColumn(
        "frame_idx",
        F.explode(
            F.when(
                F.col("n_frames") > 0,
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n)),
            )
        ),
    )
