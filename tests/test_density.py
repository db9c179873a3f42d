"""--density analog: a k*300-dpi run recognizes identical content with all
geometry in the k*-scaled frame (reference tesseract-recognize.cc:45,542)."""

from __future__ import annotations

import pytest

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.generator import (
    gen_documents,
    write_documents_parquet,
)
from tesseract_recognize_spark.oracle.oracle import (
    expected_crop_spans,
    expected_spans,
)
from tesseract_recognize_spark.plans.pipeline import extract, extract_crops
from tests.test_crops_pageset import _crops_for_docs

pytestmark = pytest.mark.spark

# compared exactly against the oracle; the floats within 1e-9 (the
# engine's closed-form P3 and the oracle's sequential loop differ by ULPs)
_EXACT = ("kind", "text", "media_ref", "level", "region_id", "line_id",
          "word_idx", "glyph_idx", "page_w", "page_h", "orientation_k",
          "osd_angle", "baseline_clipped", "coords_filled")
_FLOAT = ("b1x", "b1y", "b2x", "b2y", "poly_height", "poly_offset")


def _assert_matches_oracle(rows, expected):
    exp = {(e["doc_id"], e["order"]): e for e in expected}
    assert len(rows) == len(exp)
    for r in rows:
        e = exp[(r["doc_id"], r["order"])]
        key = (r["doc_id"], r["order"])
        for c in _EXACT:
            assert r[c] == e[c], (key, c, r[c], e[c])
        for c in _FLOAT:
            assert (r[c] is None) == (e[c] is None), (key, c)
            if r[c] is not None:
                assert abs(r[c] - e[c]) <= 1e-9, (key, c, r[c], e[c])
        rc, ec = r["coords"], e["coords"]
        assert (rc is None) == (ec is None), key
        if rc is not None:
            assert len(rc) == len(ec), key
            for a, b in zip(rc, ec):
                assert abs(a["x"] - b[0]) <= 1e-9, (key, rc, ec)
                assert abs(a["y"] - b[1]) <= 1e-9, (key, rc, ec)


def test_density_validation():
    with pytest.raises(ValueError, match="density"):
        ExtractConfig(density=150)
    with pytest.raises(ValueError, match="density"):
        ExtractConfig(density=301)
    ExtractConfig(density=600)  # ok


def test_density_scales_geometry_only(spark, tmp_path):
    docs = gen_documents(12, seed=9)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)

    base = extract(ddf, ExtractConfig(media_partitions=2)).collect()
    scaled = extract(
        ddf, ExtractConfig(media_partitions=2, density=600)
    ).collect()
    assert len(base) == len(scaled)

    k = {(r["doc_id"], r["order"]): r for r in base}
    for s in scaled:
        b = k[(s["doc_id"], s["order"])]
        # content + structure identical
        for c in ("kind", "text", "media_ref", "level", "region_id",
                  "line_id", "conf", "orientation_k", "reading_direction"):
            assert s[c] == b[c], c
        # page dims double exactly
        for c in ("page_w", "page_h"):
            assert s[c] == (None if b[c] is None else b[c] * 2), c
        # inclusive pixel geometry: a primitive coordinate p at canonical
        # dpi maps into {2p, 2p+1} at 2x density (min edge -> 2p, max edge
        # -> 2p+1); geometry DERIVED from several primitives (baseline
        # clips, polystripe corners, rotated frames) accumulates one pixel
        # per composed inclusive edge — drift stays within a few pixels of
        # exact 2x, and never shrinks below 2x-1
        for c in ("b1x", "b1y", "b2x", "b2y", "poly_height", "poly_offset"):
            if b[c] is not None:
                assert 2 * b[c] - 1 - 1e-9 <= s[c] <= 2 * b[c] + 4 + 1e-9, c
        if b["coords"] is not None:
            # every polygon point p maps near {2p, 2p+1} (which depends on
            # whether it references a min or a max pixel edge; polystripe
            # points compose two edges, widening the band slightly)
            bx = [pt["x"] for pt in b["coords"]]
            by = [pt["y"] for pt in b["coords"]]
            sx = [pt["x"] for pt in s["coords"]]
            sy = [pt["y"] for pt in s["coords"]]
            for got, base_v in zip(sx + sy, bx + by):
                assert 2 * base_v - 1 <= got <= 2 * base_v + 4


def test_density_matches_oracle(spark, tmp_path):
    """At density 600 the engine matches the oracle exactly, full pages
    and region crops alike: the crop offset and a crop's page dims are
    scaled with the rest of the geometry."""
    docs = gen_documents(30, seed=9)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)
    cfg = ExtractConfig(media_partitions=2, density=600)
    _assert_matches_oracle(
        extract(ddf, cfg).collect(),
        [r for d in docs for r in expected_spans(d["doc_id"], d["spans"], cfg)],
    )

    crop_docs, crops = _crops_for_docs(docs)
    crops_df = spark.createDataFrame(
        [(c["doc_id"], c["offset"], c["crop_id"],
          c["x0"], c["y0"], c["x1"], c["y1"]) for c in crops],
        "doc_id string, offset int, crop_id string, "
        "crop_x0 int, crop_y0 int, crop_x1 int, crop_y1 int",
    )
    crop_cfg = ExtractConfig(psm="auto", media_partitions=2, density=600)
    by_doc: dict = {}
    for c in crops:
        by_doc.setdefault(c["doc_id"], []).append(c)
    _assert_matches_oracle(
        extract_crops(ddf, crops_df, crop_cfg).collect(),
        [
            r
            for d in crop_docs
            for r in expected_crop_spans(
                d["doc_id"], d["spans"], by_doc[d["doc_id"]], crop_cfg
            )
        ],
    )
