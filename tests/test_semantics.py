"""Emission semantics: trim, ID scheme, gating, post-pass reference impls.

All pure-Python (no Spark) — these pin the single-threaded semantics the
distributed pipeline must reproduce."""

import pytest

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.raster import Block, Layout, Word
from tesseract_recognize_spark.functions.emission import emit_page_rows
from tesseract_recognize_spark.oracle.oracle import (
    expected_spans,
    page_struct_from_layout,
    trim,
)
from tesseract_recognize_spark.oracle.reference_ops import (
    p1_apply_orientation,
    p3_fill_word_coords,
    t1_filter,
    t3_coords,
)


# --- trim (T9, tesseract-recognize.cc:205-212) ---------------------------

TRIM_CASES = [
    ("  hello  ", "hello"),
    ("\t\n a  b \n\t", "a  b"),          # internal runs preserved
    ("", ""),
    ("   \t  ", ""),                       # whitespace-only → empty
    ("no-ws", "no-ws"),
    (" \n x", "x"),
]


@pytest.mark.parametrize("raw,want", TRIM_CASES)
def test_trim_reference_semantics(raw, want):
    assert trim(raw) == want


# --- layout helpers -------------------------------------------------------

def _mk_layout(k=0, blocks=None):
    if blocks is None:
        blocks = [
            Block(
                block_type=1,
                paras=[
                    [[Word("ab", False), Word("c", False)]],
                    [[Word("de", False)], [Word("fg", False)]],
                ],
            )
        ]
    return Layout(orientation_k=k, blocks=blocks)


def _emit(layout, cfg, page_num=1, n_pages=1):
    return emit_page_rows(page_struct_from_layout(layout), cfg, page_num, n_pages)


# --- ID scheme (tesseract-recognize.cc:657-670, 709-727) ------------------

def test_id_scheme_single_page():
    rows = _emit(_mk_layout(), ExtractConfig())
    regions = [r for r in rows if r["level"] == "region"]
    lines = [r for r in rows if r["level"] == "line"]
    assert [r["region_id"] for r in regions] == ["b1"]
    assert [r["line_id"] for r in lines] == ["b1_p1_l1", "b1_p2_l1", "b1_p2_l2"]


def test_id_scheme_multipage_prefix():
    rows = _emit(_mk_layout(), ExtractConfig(), page_num=3, n_pages=4)
    assert [r["region_id"] for r in rows if r["level"] == "region"] == ["pg3_b1"]
    assert [r["line_id"] for r in rows if r["level"] == "line"][0] == "pg3_b1_p1_l1"


def test_id_scheme_crop_prefix():
    page = page_struct_from_layout(_mk_layout())
    crop = {"crop_id": "r7", "x": 0, "y": 0, "seq": 0,
            "page_w": page["page_w"], "page_h": page["page_h"]}
    rows = emit_page_rows(page, ExtractConfig(), 1, 1, crop=crop)
    # crop mode writes into the selected region: no region row of its own
    assert {r["region_id"] for r in rows} == {"r7_b1"}
    assert [r["line_id"] for r in rows if r["level"] == "line"] == [
        "r7_b1_p1_l1", "r7_b1_p2_l1", "r7_b1_p2_l2"
    ]


def test_nontext_blocks_skip_counter():
    blocks = [
        Block(block_type=1, paras=[[[Word("aa", False)]]]),
        Block(block_type=11, nontext_width=50),
        Block(block_type=1, paras=[[[Word("bb", False)]]]),
    ]
    rows = _emit(_mk_layout(blocks=blocks), ExtractConfig())
    kept = t1_filter(rows)
    # the non-text block emitted a droppable row but didn't bump the counter
    assert [r["region_id"] for r in rows if r["level"] == "region"] == [
        "b1", None, "b2"
    ]
    assert [r["region_id"] for r in kept if r["level"] == "region"] == ["b1", "b2"]
    assert [r["sub_order"] for r in kept] == list(range(len(kept)))


# --- level / text gating (tesseract-recognize.cc:632,678,733,752,763) -----

def test_layout_level_gating():
    for level, want_levels in [
        ("region", {"region"}),
        ("line", {"region", "line"}),
        ("word", {"region", "line", "word"}),
        ("glyph", {"region", "line", "word", "glyph"}),
    ]:
        cfg = ExtractConfig(layout_level=level, text_levels=(level,))
        rows = _emit(_mk_layout(), cfg)
        assert {r["level"] for r in rows} == want_levels


def test_text_level_gating():
    cfg = ExtractConfig(layout_level="word", text_levels=("line",))
    rows = _emit(_mk_layout(), cfg)
    for r in rows:
        if r["level"] == "line":
            assert r["text"] != "" and r["conf"] is not None
        else:
            assert r["text"] == "" and r["conf"] is None


def test_only_layout_suppresses_text():
    cfg = ExtractConfig(layout_level="word", text_levels=("line", "word"),
                        only_layout=True)
    rows = _emit(_mk_layout(), cfg)
    assert all(r["text"] == "" for r in rows)
    assert all(r["conf"] is None for r in rows)


def test_region_text_is_block_text():
    cfg = ExtractConfig(layout_level="region", text_levels=("region",))
    rows = _emit(_mk_layout(), cfg)
    assert rows[0]["text"] == "ab c\n\nde\nfg"


def test_glyph_rows_text():
    cfg = ExtractConfig(layout_level="glyph",
                        text_levels=("line", "word", "glyph"))
    rows = _emit(_mk_layout(), cfg)
    glyphs = [r for r in rows if r["level"] == "glyph"]
    assert "".join(g["text"] for g in glyphs) == "abcdefg"
    assert [g["glyph_idx"] for g in glyphs] == [0, 1, 0, 0, 1, 0, 1]


# --- order / oracle end-to-end --------------------------------------------

def test_expected_spans_interleaves_by_offset():
    spans = [
        {"kind": "text", "text": " a ", "media_ref": "", "offset": 2},
        {"kind": "text", "text": "b", "media_ref": "", "offset": 0},
        {"kind": "media", "text": "", "media_ref": "media://x/0#s", "offset": 1},
    ]
    rows = expected_spans("d", spans)
    assert rows[0]["text"] == "b" and rows[0]["order"] == 0
    assert rows[-1]["text"] == "a"
    assert [r["order"] for r in rows] == list(range(len(rows)))
    media = [r for r in rows if r["kind"] == "media"]
    assert all(r["media_ref"] == "media://x/0#s" for r in media)


def test_unk_word_gets_sentinel_then_filled():
    blocks = [Block(block_type=1, paras=[[[
        Word("aa", False), Word("xx", True), Word("bb", False)
    ]]])]
    cfg = ExtractConfig()
    rows = t1_filter(_emit(_mk_layout(blocks=blocks), cfg))
    t3_coords(rows)
    words = [r for r in rows if r["level"] == "word"]
    assert len(words[1]["coords"]) == 2          # sentinel before fill
    p1_apply_orientation(rows)
    p3_fill_word_coords(rows)
    # both-neighbor quad: [pre[1], fol[0], fol[3], pre[2]]
    pre, mid, fol = words
    assert mid["coords"] == [
        pre["coords"][1], fol["coords"][0], fol["coords"][3], pre["coords"][2]
    ]
    assert mid["coords_filled"] is True


# --- the OCR stage's output columns (operators/ocr.py) --------------------

def _stage(layouts):
    """Run the OCR stage's column function over one media span per
    media_ref of ``layouts`` → (output rows, column names). A ``None``
    layout resolves to a raster that violates the contract."""
    import numpy as np

    from tesseract_recognize_spark.fixtures.raster import render_upright
    from tesseract_recognize_spark.operators.ocr import _expand_columns

    def render(ref):
        lay = layouts[ref]
        if lay is None:
            return np.ones((13, 13), np.uint8)
        img = render_upright(lay)
        return np.rot90(img, lay.orientation_k) if lay.orientation_k else img

    refs = sorted(layouts)
    cols = {
        "doc_id": ["d"] * len(refs), "offset": list(range(len(refs))),
        "media_ref": refs, "media_idx": [i + 1 for i in range(len(refs))],
        "n_media": [len(refs)] * len(refs),
    }
    batch = _expand_columns(cols, ExtractConfig(), render)
    return batch.to_pylist(), batch.schema.names


def test_ocr_stage_emits_final_coords():
    from tesseract_recognize_spark.schemas import MEDIA_ROWS_SCHEMA

    blocks = [
        Block(block_type=1, paras=[[[
            Word("aa", False), Word("xx", True), Word("bb", False)
        ]]]),
        Block(block_type=11, nontext_width=50),
    ]
    layout = _mk_layout(k=1, blocks=blocks)
    rows, names = _stage({"fx://p": layout})
    assert names == MEDIA_ROWS_SCHEMA.names
    assert not {"x0", "y0", "x1", "y1", "full_page"} & set(names)
    # T1 ran in the stage: the non-text block's row is gone
    assert all(r["block_type"] <= 8 for r in rows)
    assert all(r["error"] is None for r in rows)
    exp = expected_spans("d", [{
        "kind": "media", "text": "", "media_ref": "fx://p", "offset": 0,
    }], layout_provider=lambda _: layout)
    assert len(rows) == len(exp)
    for r, e in zip(rows, exp):
        assert r["sub_order"] == e["sub_order"]
        assert (r["page_w"], r["page_h"]) == (e["page_w"], e["page_h"])
        assert r["coords_filled"] == e["coords_filled"]
        assert [(p["x"], p["y"]) for p in r["coords"]] == e["coords"]
    mid = [r for r in rows if r["level"] == "word"][1]
    assert mid["coords_filled"] is True and len(mid["coords"]) == 4


def test_ocr_stage_quarantine_row():
    rows, _ = _stage({"bad://0": None, "fx://1": _mk_layout()})
    bad = [r for r in rows if r["media_ref"] == "bad://0"]
    assert len(bad) == 1
    assert bad[0]["level"] == "error" and bad[0]["error"]
    assert bad[0]["coords"] is None and bad[0]["sub_order"] == -1
    assert all(
        r["error"] is None and r["coords"] for r in rows
        if r["media_ref"] == "fx://1"
    )


def _crop_stage(layout, crops):
    """Run the OCR stage's column function over one page row carrying
    ``crops`` (crop_id, x0, y0, x1, y1) → (output rows, resolver calls)."""
    from tesseract_recognize_spark.fixtures.raster import render_upright
    from tesseract_recognize_spark.operators.ocr import _expand_columns

    calls = []

    def render(ref):
        calls.append(ref)
        return render_upright(layout)

    cols = {
        "doc_id": ["d"], "offset": [0], "media_ref": ["fx://p"],
        "media_idx": [1], "n_media": [1],
        "crops": [[
            dict(crop_id=c, crop_x0=x0, crop_y0=y0, crop_x1=x1, crop_y1=y1)
            for c, x0, y0, x1, y1 in sorted(crops)
        ]],
    }
    batch = _expand_columns(cols, ExtractConfig(psm="auto"), render)
    return batch.to_pylist(), calls


def test_ocr_stage_page_with_crops_is_one_work_item():
    from tesseract_recognize_spark.fixtures.raster import layout_geometry
    from tesseract_recognize_spark.oracle.oracle import expected_crop_spans

    blocks = [
        Block(block_type=1, paras=[[[Word(w, False), Word("xy", False)]]])
        for w in ("ab", "cd", "ef")
    ]
    layout = _mk_layout(blocks=blocks)
    crops = [
        (f"c{j}", *bg["bbox"])
        for j, bg in enumerate(layout_geometry(layout)["blocks"])
    ]
    assert len(crops) == 3
    rows, calls = _crop_stage(layout, crops)
    assert calls == ["fx://p"]  # the page's raster is resolved once
    exp = expected_crop_spans(
        "d",
        [{"kind": "media", "text": "", "media_ref": "fx://p", "offset": 0}],
        [dict(offset=0, crop_id=c, x0=x0, y0=y0, x1=x1, y1=y1)
         for c, x0, y0, x1, y1 in crops],
        ExtractConfig(psm="auto"),
        layout_provider=lambda _: layout,
    )
    assert len(rows) == len(exp)
    for r, e in zip(rows, exp):
        for c in ("sub_order", "line_sub", "level", "region_id", "line_id",
                  "text", "page_w", "page_h", "coords_filled"):
            assert r[c] == e[c], (c, r[c], e[c])
        assert r["error"] is None
        assert [(p["x"], p["y"]) for p in r["coords"]] == e["coords"]
    assert {r["region_id"] for r in rows} == {"c0_b1", "c1_b1", "c2_b1"}


def test_ocr_stage_failed_crop_quarantines_its_page():
    from tesseract_recognize_spark.fixtures.raster import layout_geometry

    layout = _mk_layout()
    good = ("c0", *layout_geometry(layout)["blocks"][0]["bbox"])
    # a crop inside the blank margin decodes to nothing: DecodeError
    rows, _ = _crop_stage(layout, [good, ("c1", 0, 0, 3, 3)])
    assert len(rows) == 1
    assert rows[0]["level"] == "error"
    assert rows[0]["error"].startswith("DecodeError: ")
