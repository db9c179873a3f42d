"""Region-crop recognition mode (S4/S5) and page-set selection (S2) vs the
pure-Python oracle.

Crop mode mirrors tesseract-recognize.cc:428-451,663-666,677: cut the
selected region's sub-raster, recognize it independently, prefix ids with
the crop id, emit no region rows, and add the crop (x,y) offset back to
every coordinate. Page-set selection mirrors parsePagesSet +
skip-before-decode (cc:222-235,470-471,497-498).
"""

from __future__ import annotations

import pytest

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.generator import (
    gen_documents,
    write_documents_parquet,
)
from tesseract_recognize_spark.fixtures.raster import (
    layout_from_ref,
    layout_geometry,
)
from tesseract_recognize_spark.operators.explode import parse_pages_set
from tesseract_recognize_spark.oracle.oracle import (
    expected_crop_spans,
    expected_spans,
)
from tesseract_recognize_spark.plans.pipeline import extract, extract_crops

pytestmark = pytest.mark.spark


def test_parse_pages_set():
    # reference parsePagesSet semantics (tesseract-recognize.cc:222-235)
    assert parse_pages_set("0-2,5") == {0, 1, 2, 5}
    assert parse_pages_set("3") == {3}
    assert parse_pages_set("1,1,2-2") == {1, 2}


def _crops_for_docs(docs):
    """Build crop specs from each upright page's text-block bboxes — the
    realistic source: region coords from a previous extraction."""
    crops = []
    crop_docs = []
    for d in docs:
        media = [s for s in d["spans"] if s["kind"] == "media"]
        if not media:
            continue
        doc_crops = []
        for s in media:
            layout = layout_from_ref(s["media_ref"])
            if layout.orientation_k != 0:
                continue
            geo = layout_geometry(layout)
            text_blocks = [
                bg for bg in geo["blocks"] if bg["block"].is_text
            ]
            for j, bg in enumerate(text_blocks):
                x0, y0, x1, y1 = bg["bbox"]
                doc_crops.append(
                    dict(
                        doc_id=d["doc_id"],
                        offset=s["offset"],
                        crop_id=f"c{j}",
                        x0=int(x0), y0=int(y0), x1=int(x1), y1=int(y1),
                    )
                )
            # one multi-block crop exercises per-crop block numbering b1,b2
            # — only over ADJACENT text blocks (an intervening non-text
            # block would be partially cut by the rect and diverge)
            for i in range(len(geo["blocks"]) - 1):
                g0, g1 = geo["blocks"][i], geo["blocks"][i + 1]
                if g0["block"].is_text and g1["block"].is_text:
                    a, b = g0["bbox"], g1["bbox"]
                    doc_crops.append(
                        dict(
                            doc_id=d["doc_id"],
                            offset=s["offset"],
                            crop_id="wide",
                            x0=int(min(a[0], b[0])), y0=int(a[1]),
                            x1=int(max(a[2], b[2])), y1=int(b[3]),
                        )
                    )
                    break
        if doc_crops:
            crops.extend(doc_crops)
            crop_docs.append(d)
    return crop_docs, crops


def test_extract_crops_exact_match(spark, tmp_path):
    docs = gen_documents(30, seed=9)
    crop_docs, crops = _crops_for_docs(docs)
    assert crops, "fixture must yield at least one croppable page"
    p = str(tmp_path / "cropdocs.parquet")
    write_documents_parquet(crop_docs, p)
    cfg = ExtractConfig(psm="auto", media_partitions=3)
    crops_df = spark.createDataFrame(
        [(c["doc_id"], c["offset"], c["crop_id"],
          c["x0"], c["y0"], c["x1"], c["y1"]) for c in crops],
        "doc_id string, offset int, crop_id string, "
        "crop_x0 int, crop_y0 int, crop_x1 int, crop_y1 int",
    )
    rows = extract_crops(spark.read.parquet(p), crops_df, cfg).collect()

    by_doc = {}
    for c in crops:
        by_doc.setdefault(c["doc_id"], []).append(
            dict(offset=c["offset"], crop_id=c["crop_id"],
                 x0=c["x0"], y0=c["y0"], x1=c["x1"], y1=c["y1"])
        )
    exp = {}
    for d in crop_docs:
        for r in expected_crop_spans(
            d["doc_id"], d["spans"], by_doc[d["doc_id"]], cfg
        ):
            exp[(r["doc_id"], r["order"])] = r
    assert len(rows) == len(exp)
    n_cropped = 0
    for r in rows:
        e = exp[(r["doc_id"], r["order"])]
        assert (r["kind"], r["text"], r["media_ref"]) == (
            e["kind"], e["text"], e["media_ref"],
        ), (r["doc_id"], r["order"])
        for k in ("level", "region_id", "line_id", "word_idx",
                  "glyph_idx", "page_w", "page_h", "coords_filled"):
            assert r[k] == e[k], (r["doc_id"], r["order"], k, r[k], e[k])
        # no region rows in crop mode; ids carry the crop prefix
        # (exact ids are pinned by the oracle comparison above)
        assert r["level"] != "region"
        assert "_b" in r["region_id"]
        rc, ec = r["coords"], e["coords"]
        assert (rc is None) == (ec is None)
        if rc is not None:
            assert len(rc) == len(ec)
            for a, b in zip(rc, ec):
                assert abs(a["x"] - b[0]) <= 1e-9
                assert abs(a["y"] - b[1]) <= 1e-9
            n_cropped += 1
    assert n_cropped > 0


@pytest.mark.parametrize("density", [300, 600])
def test_extract_crops_offset_addback(spark, tmp_path, density):
    """The emitted line coords must be in the PAGE frame (crop offset added
    back), equal to the block content's absolute position — at a d·300-dpi
    density in the d-scaled page frame, page dims included."""
    d_ = density // 300
    docs = gen_documents(30, seed=9)
    crop_docs, crops = _crops_for_docs(docs)
    one = next(c for c in crops if c["x0"] > 0 or c["y0"] > 0)
    d = next(x for x in crop_docs if x["doc_id"] == one["doc_id"])
    p = str(tmp_path / "one.parquet")
    write_documents_parquet([d], p)
    cfg = ExtractConfig(psm="auto", media_partitions=1, density=density)
    crops_df = spark.createDataFrame(
        [(one["doc_id"], one["offset"], one["crop_id"],
          one["x0"], one["y0"], one["x1"], one["y1"])],
        "doc_id string, offset int, crop_id string, "
        "crop_x0 int, crop_y0 int, crop_x1 int, crop_y1 int",
    )
    rows = extract_crops(spark.read.parquet(p), crops_df, cfg).collect()
    lines = [r for r in rows if r["level"] == "line"]
    assert lines
    ref = next(
        s["media_ref"] for s in d["spans"]
        if s["kind"] == "media" and s["offset"] == one["offset"]
    )
    geo = layout_geometry(layout_from_ref(ref))
    # every line of this crop sits inside the crop rect in PAGE coordinates:
    # pixel [x0..x1] covers [d·x0 .. d·x1+d−1] in the d-scaled render
    for r in lines:
        xs = [pt["x"] for pt in r["coords"]]
        ys = [pt["y"] for pt in r["coords"]]
        assert min(xs) >= d_ * one["x0"]
        assert max(xs) <= d_ * one["x1"] + d_ - 1
        assert min(ys) >= d_ * one["y0"]
        assert max(ys) <= d_ * one["y1"] + d_ - 1
        assert (r["page_w"], r["page_h"]) == (
            d_ * geo["page_w"], d_ * geo["page_h"]
        )


def test_extract_crops_requires_auto_psm(spark, tmp_path):
    docs = gen_documents(5, seed=9)
    p = str(tmp_path / "d.parquet")
    write_documents_parquet(docs, p)
    crops_df = spark.createDataFrame(
        [("doc-00000000", 0, "c0", 0, 0, 10, 10)],
        "doc_id string, offset int, crop_id string, "
        "crop_x0 int, crop_y0 int, crop_x1 int, crop_y1 int",
    )
    with pytest.raises(ValueError, match="psm"):
        extract_crops(spark.read.parquet(p), crops_df, ExtractConfig())


def _select_spans(spans, pages):
    """Oracle-side page-set selection: keep text spans + selected media
    ordinals (the renumbering happens inside expected_spans, which counts
    the media spans it is given)."""
    out = []
    k = 0
    for s in sorted(spans, key=lambda x: x["offset"]):
        if s["kind"] != "media":
            out.append(s)
            continue
        if k in pages:
            out.append(s)
        k += 1
    return out


def test_page_set_selection_exact_match(spark, tmp_path):
    docs = [d for d in gen_documents(60, seed=13)
            if sum(s["kind"] == "media" for s in d["spans"]) >= 3][:6]
    assert docs
    p = str(tmp_path / "multimedia.parquet")
    write_documents_parquet(docs, p)
    cfg = ExtractConfig(media_partitions=2)
    rows = extract(spark.read.parquet(p), cfg, pages="0,2").collect()
    exp = {}
    for d in docs:
        sel = _select_spans(d["spans"], {0, 2})
        for r in expected_spans(d["doc_id"], sel, cfg):
            exp[(r["doc_id"], r["order"])] = r
    assert len(rows) == len(exp)
    for r in rows:
        e = exp[(r["doc_id"], r["order"])]
        assert (r["kind"], r["text"], r["media_ref"]) == (
            e["kind"], e["text"], e["media_ref"],
        )
        assert r["region_id"] == e["region_id"]  # pages RENUMBER (pg1, pg2)


def test_media_override(spark, tmp_path):
    """--image analog (tesseract-recognize.cc:414-420): an override
    re-points a media span to a different raster before decode; the output
    carries the NEW ref and the new raster's content."""
    docs = gen_documents(12, seed=31)
    d = next(x for x in docs if any(s["kind"] == "media" for s in x["spans"]))
    media = [s for s in sorted(d["spans"], key=lambda s: s["offset"])
             if s["kind"] == "media"]
    target = media[0]
    new_ref = "media://override-target/0#cafe0123"
    p = str(tmp_path / "ov.parquet")
    write_documents_parquet([d], p)
    ov = spark.createDataFrame(
        [(d["doc_id"], target["offset"], new_ref)],
        "doc_id string, offset int, new_media_ref string",
    )
    cfg = ExtractConfig(media_partitions=1)
    rows = extract(
        spark.read.parquet(p), cfg, media_overrides=ov
    ).collect()
    new_spans = [
        dict(s, media_ref=new_ref)
        if s["kind"] == "media" and s["offset"] == target["offset"]
        else s
        for s in d["spans"]
    ]
    exp = {
        (r["doc_id"], r["order"]): r
        for r in expected_spans(d["doc_id"], new_spans, cfg)
    }
    assert len(rows) == len(exp)
    for r in rows:
        e = exp[(r["doc_id"], r["order"])]
        assert (r["kind"], r["text"], r["media_ref"]) == (
            e["kind"], e["text"], e["media_ref"],
        )
    assert any(r["media_ref"] == new_ref for r in rows)


def test_save_crops_debug_sink(spark, tmp_path):
    """K3 (--save-crops, tesseract-recognize.cc:551-555): dev-only dumps of
    the cut sub-rasters, one file per crop work item."""
    import glob

    import numpy as np

    from tesseract_recognize_spark.fixtures.raster import render_raster

    docs = gen_documents(30, seed=9)
    crop_docs, crops = _crops_for_docs(docs)
    one = crops[0]
    d = next(x for x in crop_docs if x["doc_id"] == one["doc_id"])
    p = str(tmp_path / "sc.parquet")
    write_documents_parquet([d], p)
    out_dir = str(tmp_path / "crops_out")
    crops_df = spark.createDataFrame(
        [(one["doc_id"], one["offset"], one["crop_id"],
          one["x0"], one["y0"], one["x1"], one["y1"])],
        "doc_id string, offset int, crop_id string, "
        "crop_x0 int, crop_y0 int, crop_x1 int, crop_y1 int",
    )
    cfg = ExtractConfig(psm="auto", media_partitions=1)
    extract_crops(
        spark.read.parquet(p), crops_df, cfg, save_crops_dir=out_dir
    ).collect()
    files = glob.glob(f"{out_dir}/crop_*.npy")
    assert len(files) == 1
    saved = np.load(files[0])
    ref = next(
        s["media_ref"] for s in d["spans"]
        if s["kind"] == "media" and s["offset"] == one["offset"]
    )
    full = render_raster(ref)
    expected = full[one["y0"]: one["y1"] + 1, one["x0"]: one["x1"] + 1]
    assert (saved == expected).all()


def test_page_set_skips_before_decode(spark, tmp_path):
    """Non-selected pages must never reach the decode stage: resolving them
    raises RuntimeError (NOT the quarantined DecodeError), which would fail
    the job if the engine attempted the decode."""
    docs = [d for d in gen_documents(60, seed=13)
            if sum(s["kind"] == "media" for s in d["spans"]) >= 3][:3]
    p = str(tmp_path / "skipdecode.parquet")
    write_documents_parquet(docs, p)

    allowed = set()
    for d in docs:
        media = [s for s in sorted(d["spans"], key=lambda x: x["offset"])
                 if s["kind"] == "media"]
        allowed.update(media[k]["media_ref"] for k in (0, 2))

    from tesseract_recognize_spark.fixtures.raster import render_raster

    def resolver(ref):
        if ref not in allowed:
            raise RuntimeError(f"decode attempted on skipped page {ref}")
        return render_raster(ref)

    cfg = ExtractConfig(media_partitions=2)
    rows = extract(
        spark.read.parquet(p), cfg, pages=frozenset({0, 2}),
        resolver=resolver,
    ).collect()
    assert rows
