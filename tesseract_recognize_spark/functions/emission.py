"""Page structure → flat span rows: the reference's iterator walk.

Re-expresses the 4-deep nested block→para→line→word→glyph emission loop of
tesseract-recognize.cc:630-788 as a pure function over a decoded page
structure. Used by the Spark mock-OCR UDF (on decoder output) and by the
pure-Python oracle (on generator ground truth) — sharing it pins the ID
scheme and emission order to one definition while the two sides' *geometry
and text* come from entirely independent paths.

Semantics reproduced:
  * non-text blocks (type > 8) do not increment the block counter and emit
    no kept content (tesseract-recognize.cc:651-660) — here they are emitted
    as rows with ``sub_order=-1`` and dropped by the T1 pass
    (functions/pagepass.py in the engine, t1_filter in the oracle);
  * region id "b{n}" over kept blocks, "{crop_id}_" prefix in region-crop
    mode, "pg{k}_" prefix when the document has >1 page
    (tesseract-recognize.cc:657-670);
  * line id "{rid}_p{para}_l{line}" — paragraphs are counted but not
    materialized (tesseract-recognize.cc:708-727);
  * TextEquiv gating by --text-levels/--only-layout at each level
    (tesseract-recognize.cc:678,733,752,763);
  * bboxes reported in the raster frame (what the engine "saw"), with the
    baseline clipped to the bbox sides and the polystripe computed at
    emission time (setLineCoords, tesseract-recognize.cc:177-203);
  * the output frame: geometry and page dims scaled to the --density
    render (tesseract-recognize.cc:45,542) and, in region-crop mode, the
    crop offset added back (tesseract-recognize.cc:677) — here and nowhere
    else, so the engine and the oracle share it;
  * OSD page properties per PSM_AUTO_OSD (tesseract-recognize.cc:609-628).
"""

from __future__ import annotations

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.constants import (
    CONF_OK,
    CONF_UNK,
    ORIENT_K_TO_ANGLE,
)
from tesseract_recognize_spark.functions.geometry import (
    bbox_u_to_r,
    clip_baseline,
    corner_points,
    point_u_to_r,
    polystripe,
    rframe_dims,
)

__all__ = ["emit_page_rows"]


def _row(**kw) -> dict:
    base = dict(
        sub_order=-1,
        level=None,
        block_type=None,
        region_id=None,
        line_id=None,
        line_sub=None,
        word_idx=None,
        glyph_idx=None,
        text="",
        conf=None,
        x0=None,
        y0=None,
        x1=None,
        y1=None,
        full_page=False,
        b1x=None,
        b1y=None,
        b2x=None,
        b2y=None,
        baseline_clipped=None,
        poly_height=None,
        poly_offset=None,
    )
    base.update(kw)
    return base


def emit_page_rows(
    page: dict,
    cfg: ExtractConfig,
    page_num: int,
    n_pages: int,
    crop: dict | None = None,
) -> list[dict]:
    """Emit the ordered span rows of one decoded page (raster frame).

    ``page`` is the structure produced by ``decode_raster`` (or the oracle's
    ground-truth equivalent): upright-frame geometry + orientation_k.
    ``page_num`` is the 1-based index of this page among the document's
    media spans; ids get a "pg{page_num}_" prefix when ``n_pages > 1``.

    Emission is the one place decoded geometry meets the output frame.
    Density (reference --density, tesseract-recognize.cc:45,542): the page
    is decoded at the canonical 300 dpi, and with ``d = cfg.density // 300``
    every bbox is read as the d·300-dpi render sees it — pixel [x0..x1]
    covers [d·x0 .. d·x1+d−1] — and the page dims are ×d, so the rotation
    to the raster frame, the baseline clip, the polystripe and every
    post-pass work in the d·300-dpi frame. A crop's offset is added back
    at the same scale.

    ``crop`` enables region-crop recognition mode (the reference's xpath
    selection of existing TextRegions, tesseract-recognize.cc:428-451):
    ``{"crop_id": str, "x": int, "y": int, "seq": int, "page_w": int,
    "page_h": int}`` where (x, y) is the crop's offset inside the page
    raster, ``seq`` its 0-based order among the page's crops and
    (page_w, page_h) the page raster's dims, which the crop's rows report.
    Semantics mirrored from the reference:
      * region ids become "{crop_id}_b{n}" (then the "pg{k}_" prefix —
        tesseract-recognize.cc:663-670);
      * no region row is emitted — recognition writes INTO the selected
        existing region (xreg = node at cc:666; addTextRegion is gated on
        node_level < LEVEL_REGION at cc:673);
      * the crop offset is added back to every emitted coordinate, bbox and
        baseline alike (setCoords/setLineCoords receive images[n].x/y —
        cc:677,732,751,762);
      * sub_order/line_sub are offset by seq·10^6 so multiple crops of one
        page keep a total per-page order without widening any sort key
        (bounds: <2048 crops/page, <10^6 rows/crop).
    """
    k = page["orientation_k"]
    d = cfg.density // 300
    pw, ph = page["page_w"] * d, page["page_h"] * d
    if crop is None:
        rw, rh = rframe_dims(pw, ph, k)
    else:  # coords are page-frame after the offset add-back
        rw, rh = crop["page_w"] * d, crop["page_h"] * d
    osd_angle = ORIENT_K_TO_ANGLE[k] if cfg.psm == "auto_osd" else None

    page_cols = dict(
        page_w=rw,
        page_h=rh,
        orientation_k=k,
        osd_angle=osd_angle,
        textline_order="top-to-bottom",
        deskew=0.0,
        # default: non-text rows (dropped by T1, but also surfaceable as
        # quarantine) carry LTR instead of None / a neighboring block's value
        reading_direction="left-to-right",
    )

    def scaled(bbox):
        x0, y0, x1, y1 = bbox
        return (d * x0, d * y0, d * x1 + d - 1, d * y1 + d - 1)

    def to_r(bbox):
        x0, y0, x1, y1 = bbox_u_to_r(scaled(bbox), pw, ph, k)
        return dict(x0=int(x0), y0=int(y0), x1=int(x1), y1=int(y1))

    rows: list[dict] = []
    sub = crop["seq"] * 1_000_000 if crop else 0
    block_counter = 0
    for blk in page["blocks"]:
        if blk["block_type"] > 8:
            # emitted for the T1 pass to drop; never counted
            rows.append(
                _row(block_type=blk["block_type"], level="region",
                     **to_r(blk["bbox"]), **page_cols)
            )
            continue
        block_counter += 1
        # T4: per-region readingDirection derived from the block's script
        # direction (reference: Tesseract writing_direction →
        # region readingDirection attr, tesseract-recognize.cc:682-706) —
        # a per-block COPY, never a mutation of the shared page dict
        blk_cols = dict(
            page_cols,
            reading_direction=(
                "right-to-left" if blk.get("rtl") else "left-to-right"
            ),
        )
        rid = f"b{block_counter}"
        if crop is not None:
            rid = f"{crop['crop_id']}_{rid}"
        if n_pages > 1:
            rid = f"pg{page_num}_{rid}"
        region_text = ""
        if cfg.text_at("region"):
            region_text = "\n\n".join(
                "\n".join(" ".join(w["text"] for w in ln["words"]) for ln in para)
                for para in blk["paras"]
            )
        if crop is None:  # crop mode writes INTO the existing region node
            rows.append(
                _row(
                    sub_order=sub,
                    level="region",
                    block_type=blk["block_type"],
                    region_id=rid,
                    # regions have no line: anchor to self so the combined
                    # (line_sub, sub_order) sort equals plain sub_order
                    line_sub=sub,
                    text=region_text,
                    conf=CONF_OK if cfg.text_at("region") else None,
                    **to_r(blk["bbox"]),
                    **blk_cols,
                )
            )
        sub += 1
        if cfg.layout_rank < 1:
            continue
        for pi, para in enumerate(blk["paras"], start=1):
            for li, line in enumerate(para, start=1):
                lid = f"{rid}_p{pi}_l{li}"
                # numeric within-page anchor of this line: shared by the
                # line and its word/glyph children, its sort order
                # COINCIDES with emission order, which the order window and
                # the checkpoint sink sort on (PLANS.md)
                line_sub = sub
                lrow = _row(
                    sub_order=sub,
                    level="line",
                    block_type=blk["block_type"],
                    region_id=rid,
                    line_id=lid,
                    line_sub=line_sub,
                    text=(
                        " ".join(w["text"] for w in line["words"])
                        if cfg.text_at("line")
                        else ""
                    ),
                    conf=CONF_OK if cfg.text_at("line") else None,
                    **to_r(line["bbox"]),
                    **blk_cols,
                )
                # baseline: reading-direction bottom edge in raster frame,
                # clipped to the bbox sides (setLineCoords)
                lx0, _, lx1, ly1 = scaled(line["bbox"])
                b1 = point_u_to_r(float(lx0), float(ly1), pw, ph, k)
                b2 = point_u_to_r(float(lx1), float(ly1), pw, ph, k)
                rbox = (lrow["x0"], lrow["y0"], lrow["x1"], lrow["y1"])
                corners = corner_points(rbox, k)
                p1, p2, clipped = clip_baseline(b1, b2, corners)
                height, off = polystripe(p1, p2, corners)
                lrow.update(
                    b1x=float(p1[0]), b1y=float(p1[1]),
                    b2x=float(p2[0]), b2y=float(p2[1]),
                    baseline_clipped=clipped,
                    poly_height=height, poly_offset=off,
                )
                rows.append(lrow)
                sub += 1
                if cfg.layout_rank < 2:
                    continue
                for wi, word in enumerate(line["words"]):
                    rows.append(
                        _row(
                            sub_order=sub,
                            level="word",
                            block_type=blk["block_type"],
                            region_id=rid,
                            line_id=lid,
                            line_sub=line_sub,
                            word_idx=wi,
                            text=word["text"] if cfg.text_at("word") else "",
                            conf=(
                                (CONF_UNK if word["unk"] else CONF_OK)
                                if cfg.text_at("word")
                                else None
                            ),
                            full_page=word["unk"],
                            **to_r(word["bbox"]),
                            **blk_cols,
                        )
                    )
                    sub += 1
                    if cfg.layout_rank < 3:
                        continue
                    for gi, gbox in enumerate(word["glyph_bboxes"]):
                        rows.append(
                            _row(
                                sub_order=sub,
                                level="glyph",
                                block_type=blk["block_type"],
                                region_id=rid,
                                line_id=lid,
                                line_sub=line_sub,
                                word_idx=wi,
                                glyph_idx=gi,
                                text=(
                                    word["text"][gi]
                                    if cfg.text_at("glyph")
                                    else ""
                                ),
                                conf=CONF_OK if cfg.text_at("glyph") else None,
                                **to_r(gbox),
                                **blk_cols,
                            )
                        )
                        sub += 1
    if crop is not None:
        # offset add-back: every coordinate the crop decode reported is in
        # the crop frame; translate into the page frame
        # (tesseract-recognize.cc:677,732,751,762)
        cx, cy = crop["x"] * d, crop["y"] * d
        for r in rows:
            if r["x0"] is not None:
                r["x0"] += cx
                r["x1"] += cx
                r["y0"] += cy
                r["y1"] += cy
            if r["b1x"] is not None:
                r["b1x"] += float(cx)
                r["b2x"] += float(cx)
                r["b1y"] += float(cy)
                r["b2y"] += float(cy)
    return rows
