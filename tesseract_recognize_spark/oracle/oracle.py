"""Pure-Python single-process oracle: document → expected span sequence.

Computes the expected output of the extraction pipeline directly from the
generator's layout parameters — WITHOUT running the image decoder — so the
Spark pipeline's image-processing path is tested against an independent
derivation. Shares only the emission walk (functions/emission.py: ID scheme,
order, gating) and the geometry primitives with the engine.

The per-row invariant (BASELINE.json): for every doc_id the ordered
projection (kind, text, media_ref, order) matches exactly.
"""

from __future__ import annotations

import re

from tesseract_recognize_spark.config import DEFAULT_CONFIG, ExtractConfig
from tesseract_recognize_spark.fixtures.fonts import word_glyph_indices
from tesseract_recognize_spark.fixtures.raster import (
    Layout,
    layout_from_ref,
    layout_geometry,
)
from tesseract_recognize_spark.functions.emission import emit_page_rows
from tesseract_recognize_spark.oracle.reference_ops import (
    p1_apply_orientation,
    p2_dominant_baselines,
    p3_fill_word_coords,
    t1_filter,
    t3_coords,
)
from tesseract_recognize_spark.constants import GLYPH_W

__all__ = [
    "page_struct_from_layout",
    "expected_spans",
    "expected_crop_spans",
    "trim",
]

_TRIM_RE = re.compile(r"^\s+|\s+$")


def trim(s: str) -> str:
    """The reference's entire text normalization: strip leading/trailing
    whitespace (tesseract-recognize.cc:209 — the regex replaces with a
    reference to a nonexistent group, i.e. with the empty string)."""
    return _TRIM_RE.sub("", s)


def page_struct_from_layout(layout: Layout) -> dict:
    """Ground-truth page structure in the decoder's output shape."""
    geo = layout_geometry(layout)
    blocks = []
    for bg in geo["blocks"]:
        blk = bg["block"]
        if not blk.is_text:
            blocks.append(
                {"block_type": blk.block_type, "bbox": bg["rect"], "paras": None}
            )
            continue
        paras = []
        for pg in bg["paras"]:
            lines = []
            for lg in pg:
                words = []
                for wg in lg["words"]:
                    w = wg["word"]
                    n_glyphs = len(word_glyph_indices(w.text, w.unk))
                    wx0, wy0, _, wy1 = wg["bbox"]
                    cells = [
                        (wx0 + j * (GLYPH_W + 1), wy0,
                         wx0 + j * (GLYPH_W + 1) + GLYPH_W - 1, wy1)
                        for j in range(n_glyphs)
                    ]
                    if w.unk:  # marker glyph is not a text glyph
                        cells = cells[1:]
                    words.append(
                        {
                            "text": w.text,
                            "unk": w.unk,
                            "bbox": wg["bbox"],
                            "glyph_bboxes": cells,
                        }
                    )
                lines.append(
                    {"bbox": lg["bbox"], "words": words, "rtl": blk.rtl}
                )
            paras.append(lines)
        blocks.append(
            {
                "block_type": 1,
                "bbox": bg["bbox"],
                "paras": paras,
                "rtl": bg["block"].rtl,
            }
        )
    return {
        "orientation_k": layout.orientation_k,
        "page_w": geo["page_w"],
        "page_h": geo["page_h"],
        "blocks": blocks,
    }


_TEXT_ROW_DEFAULTS = dict(
    level="text",
    sub_order=0,
    block_type=None,
    region_id=None,
    line_id=None,
    line_sub=None,
    word_idx=None,
    glyph_idx=None,
    conf=None,
    coords=None,
    coords_filled=None,
    b1x=None,
    b1y=None,
    b2x=None,
    b2y=None,
    baseline_clipped=None,
    poly_height=None,
    poly_offset=None,
    page_w=None,
    page_h=None,
    orientation_k=None,
    osd_angle=None,
    reading_direction=None,
    textline_order=None,
    deskew=None,
    full_page=None,
    x0=None,
    y0=None,
    x1=None,
    y1=None,
)


def expected_spans(
    doc_id: str,
    spans: list[dict],
    cfg: ExtractConfig = DEFAULT_CONFIG,
    layout_provider=layout_from_ref,
) -> list[dict]:
    """Expected output rows for one document, in final emission order.

    ``spans`` are input-span dicts (kind, text, media_ref, offset). Output
    rows carry the full diagnostic schema; the equality projection is
    (kind, text, media_ref, order).
    """
    ordered = sorted(spans, key=lambda s: s["offset"])
    n_pages = sum(1 for s in ordered if s["kind"] == "media")
    out: list[dict] = []
    page_num = 0
    for span in ordered:
        if span["kind"] == "text":
            out.append(
                dict(
                    doc_id=doc_id,
                    kind="text",
                    text=trim(span["text"]),
                    media_ref=span["media_ref"],
                    offset=span["offset"],
                    **_TEXT_ROW_DEFAULTS,
                )
            )
            continue
        page_num += 1
        layout = layout_provider(span["media_ref"])
        page = page_struct_from_layout(layout)
        rows = emit_page_rows(page, cfg, page_num, n_pages)
        rows = t1_filter(rows)
        t3_coords(rows)
        p1_apply_orientation(rows)
        p2_dominant_baselines(rows)
        p3_fill_word_coords(rows)
        for r in rows:
            r.pop("x0"), r.pop("y0"), r.pop("x1"), r.pop("y1")
            r.pop("full_page")
            out.append(
                dict(
                    doc_id=doc_id,
                    kind="media",
                    media_ref=span["media_ref"],
                    offset=span["offset"],
                    **{**r, "text": trim(r["text"])},
                )
            )
    for order, r in enumerate(out):
        r["order"] = order
    return out


def _shift_bbox(b, dx, dy):
    return (b[0] + dx, b[1] + dy, b[2] + dx, b[3] + dy)


def _crop_page_struct(layout: Layout, rect: tuple[int, int, int, int]) -> dict:
    """Ground-truth structure of a CROP decode: the layout's content that
    falls inside ``rect`` (raster frame of an upright page), shifted into
    the crop frame. Mirrors what decode_raster sees on the cut sub-raster —
    the engine still recovers it from pixels alone."""
    assert layout.orientation_k == 0, "crops are defined on upright pages"
    page = page_struct_from_layout(layout)
    x0, y0, x1, y1 = rect

    def inside(b):
        return b[0] >= x0 and b[1] >= y0 and b[2] <= x1 and b[3] <= y1

    blocks = []
    for blk in page["blocks"]:
        if not inside(blk["bbox"]):
            continue
        nb = dict(blk, bbox=_shift_bbox(blk["bbox"], -x0, -y0))
        if blk["paras"] is not None:
            nb["paras"] = [
                [
                    {
                        "bbox": _shift_bbox(ln["bbox"], -x0, -y0),
                        "words": [
                            dict(
                                w,
                                bbox=_shift_bbox(w["bbox"], -x0, -y0),
                                glyph_bboxes=[
                                    _shift_bbox(g, -x0, -y0)
                                    for g in w["glyph_bboxes"]
                                ],
                            )
                            for w in ln["words"]
                        ],
                    }
                    for ln in para
                ]
                for para in blk["paras"]
            ]
        blocks.append(nb)
    return {
        "orientation_k": 0,
        "page_w": x1 - x0 + 1,
        "page_h": y1 - y0 + 1,
        "blocks": blocks,
    }


def expected_crop_spans(
    doc_id: str,
    spans: list[dict],
    crops: list[dict],
    cfg: ExtractConfig,
    layout_provider=layout_from_ref,
) -> list[dict]:
    """Expected output of region-crop recognition mode (plans/pipeline.py:
    extract_crops) for one document.

    ``crops``: dicts (offset, crop_id, x0, y0, x1, y1) in page raster
    coordinates, upright pages only (psm='auto' — extract_crops enforces
    it). Reference semantics chain: page.crop → per-crop recognition →
    '{crop_id}_b{n}' ids, no region rows, offset add-back
    (tesseract-recognize.cc:428-451,663-666,677).
    """
    assert cfg.psm == "auto"
    ordered = sorted(spans, key=lambda s: s["offset"])
    media = [s for s in ordered if s["kind"] == "media"]
    n_pages = len(media)
    by_page: dict[int, list[dict]] = {}
    for c in crops:
        by_page.setdefault(c["offset"], []).append(c)
    out: list[dict] = []
    for page_num, span in enumerate(media, start=1):
        page_crops = sorted(
            by_page.get(span["offset"], []), key=lambda c: c["crop_id"]
        )
        if not page_crops:
            continue
        layout = layout_provider(span["media_ref"])
        geo = layout_geometry(layout)
        rows: list[dict] = []
        for seq, c in enumerate(page_crops):
            rect = (c["x0"], c["y0"], c["x1"], c["y1"])
            page = _crop_page_struct(layout, rect)
            crop = {
                "crop_id": c["crop_id"],
                "x": c["x0"],
                "y": c["y0"],
                "seq": seq,
                "page_w": geo["page_w"],
                "page_h": geo["page_h"],
            }
            rows += emit_page_rows(page, cfg, page_num, n_pages, crop=crop)
        rows = t1_filter(rows)
        t3_coords(rows)
        p3_fill_word_coords(rows)
        for r in rows:
            r.pop("x0"), r.pop("y0"), r.pop("x1"), r.pop("y1")
            r.pop("full_page")
            out.append(
                dict(
                    doc_id=doc_id,
                    kind="media",
                    media_ref=span["media_ref"],
                    offset=span["offset"],
                    **{**r, "text": trim(r["text"])},
                )
            )
    for order, r in enumerate(out):
        r["order"] = order
    return out
