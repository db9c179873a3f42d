"""T4 reading-direction derivation: RTL-script blocks render with mirrored
word order; the decoder recovers reading order from script membership and
the emitter sets per-region readingDirection — the mock analog of
Tesseract's writing_direction driving the reference's region attribute
(tesseract-recognize.cc:682-706)."""

from __future__ import annotations

import numpy as np

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.constants import RTL_ALPHABET
from tesseract_recognize_spark.fixtures.raster import (
    Block,
    Layout,
    Word,
    layout_from_ref,
    layout_geometry,
    render_upright,
)
from tesseract_recognize_spark.functions.emission import emit_page_rows
from tesseract_recognize_spark.operators.ocr_core import decode_raster
from tesseract_recognize_spark.oracle.oracle import page_struct_from_layout


def _rtl_layout():
    return Layout(
        orientation_k=0,
        blocks=[
            Block(
                block_type=1,
                rtl=True,
                paras=[[[Word("AB", False), Word("CDE", False),
                         Word("FG", False)]]],
            ),
            Block(
                block_type=1,
                paras=[[[Word("ab", False), Word("cd", False)]]],
            ),
        ],
    )


def test_rtl_decode_reading_order_and_mirrored_positions():
    layout = _rtl_layout()
    geo = layout_geometry(layout)
    page = decode_raster(render_upright(layout, geo))
    rtl_block, ltr_block = page["blocks"]
    assert rtl_block["rtl"] is True and ltr_block["rtl"] is False
    line = rtl_block["paras"][0][0]
    # reading order preserved ...
    assert [w["text"] for w in line["words"]] == ["AB", "CDE", "FG"]
    # ... while positions are mirrored: reading-word 0 is RIGHTMOST
    xs = [w["bbox"][0] for w in line["words"]]
    assert xs[0] > xs[1] > xs[2]
    # the LTR block stays left-to-right positionally
    lxs = [w["bbox"][0] for w in ltr_block["paras"][0][0]["words"]]
    assert lxs[0] < lxs[1]


def test_rtl_decode_matches_oracle_structure():
    layout = _rtl_layout()
    decoded = decode_raster(render_upright(layout))
    oracle = page_struct_from_layout(layout)
    oracle["orientation_k"] = decoded["orientation_k"] = 0
    assert decoded == oracle


def test_rtl_emission_reading_direction():
    layout = _rtl_layout()
    page = page_struct_from_layout(layout)
    rows = emit_page_rows(page, ExtractConfig(), 1, 1)
    by_region: dict[str, set] = {}
    for r in rows:
        if r["region_id"]:
            by_region.setdefault(r["region_id"], set()).add(
                r["reading_direction"]
            )
    assert by_region["b1"] == {"right-to-left"}
    assert by_region["b2"] == {"left-to-right"}


def test_generator_produces_rtl_blocks():
    found_rtl = found_unk_rtl = False
    for i in range(300):
        layout = layout_from_ref(f"media://rtl-probe/{i}")
        for blk in layout.blocks:
            if blk.is_text and blk.rtl:
                found_rtl = True
                assert all(
                    set(w.text) <= set(RTL_ALPHABET)
                    for para in blk.paras for ln in para for w in ln
                )
                if any(w.unk for para in blk.paras for ln in para for w in ln):
                    found_unk_rtl = True
    assert found_rtl and found_unk_rtl


def test_rtl_roundtrip_with_rotation():
    """Orientation detection still unambiguous with RTL glyphs present."""
    layout = Layout(
        orientation_k=2,
        blocks=[Block(block_type=1, rtl=True,
                      paras=[[[Word("ABC", False), Word("DE", True)]]])],
    )
    geo = layout_geometry(layout)
    img = np.rot90(render_upright(layout, geo), 2)
    page = decode_raster(img)
    assert page["orientation_k"] == 2
    line = page["blocks"][0]["paras"][0][0]
    assert [w["text"] for w in line["words"]] == ["ABC", "DE"]
    assert line["words"][1]["unk"] is True


def test_rtl_page_through_ocr_stage():
    """The OCR stage's output rows: per-region reading direction, and the
    RTL line's word coords mirrored (reading-word 0 rightmost)."""
    from tesseract_recognize_spark.operators.ocr import _expand_columns

    layout = _rtl_layout()
    cols = {"doc_id": ["d"], "offset": [0], "media_ref": ["fx://rtl"],
            "media_idx": [1], "n_media": [1]}
    rows = _expand_columns(
        cols, ExtractConfig(), lambda _: render_upright(layout)
    ).to_pylist()
    by_region: dict[str, set] = {}
    for r in rows:
        by_region.setdefault(r["region_id"], set()).add(r["reading_direction"])
    assert by_region == {"b1": {"right-to-left"}, "b2": {"left-to-right"}}
    words = [r for r in rows if r["level"] == "word" and r["region_id"] == "b1"]
    assert [w["text"] for w in words] == ["AB", "CDE", "FG"]
    xs = [w["coords"][0]["x"] for w in words]
    assert xs[0] > xs[1] > xs[2]
    assert all(w["coords_filled"] is False for w in words)
