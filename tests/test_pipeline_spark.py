"""Spark pipeline end-to-end vs the pure-Python oracle.

The per-row invariant (BASELINE.json): for every doc_id, the ordered
projection (kind, text, media_ref, order) matches exactly — at multiple
partition counts. Diagnostic columns (ids, coords) are compared too, with
1e-9 tolerance on filled word coords (see oracle/reference_ops.py on unit-
vector renormalization).
"""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.generator import write_documents_parquet
from tesseract_recognize_spark.fixtures.raster import (
    Block,
    Layout,
    Word,
    layout_geometry,
    render_upright,
)
from tesseract_recognize_spark.oracle.oracle import expected_spans, trim
from tesseract_recognize_spark.plans.pipeline import extract
from tests.test_semantics import TRIM_CASES

pytestmark = pytest.mark.spark


def _compare(rows, docs, cfg, layout_provider=None):
    kwargs = {"layout_provider": layout_provider} if layout_provider else {}
    exp: dict = {}
    for d in docs:
        for r in expected_spans(d["doc_id"], d["spans"], cfg, **kwargs):
            exp[(r["doc_id"], r["order"])] = r
    assert len(rows) == len(exp), f"row count {len(rows)} != {len(exp)}"
    for r in rows:
        e = exp[(r["doc_id"], r["order"])]
        assert (r["kind"], r["text"], r["media_ref"]) == (
            e["kind"], e["text"], e["media_ref"],
        ), f"invariant mismatch at {r['doc_id']}#{r['order']}"
        for k in ("level", "region_id", "line_id", "word_idx", "glyph_idx",
                  "block_type", "page_w", "page_h", "osd_angle",
                  "coords_filled", "reading_direction"):
            assert r[k] == e[k], (r["doc_id"], r["order"], k, r[k], e[k])
        rc, ec = r["coords"], e["coords"]
        assert (rc is None) == (ec is None)
        if rc is not None:
            assert len(rc) == len(ec)
            tol = 1e-9
            for a, b in zip(rc, ec):
                assert abs(a["x"] - b[0]) <= tol and abs(a["y"] - b[1]) <= tol, (
                    r["doc_id"], r["order"], rc, ec,
                )


def test_e2e_exact_match_default_config(spark, fx_small_docs, fx_small_path):
    cfg = ExtractConfig(media_partitions=4)
    df = spark.read.parquet(fx_small_path)
    rows = extract(df, cfg).collect()
    _compare(rows, fx_small_docs, cfg)


def test_partition_count_invariance(spark, fx_small_path):
    df = spark.read.parquet(fx_small_path)

    def canon(mp, rp):
        out = extract(df.repartition(rp), ExtractConfig(media_partitions=mp))
        return sorted(
            (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
            for r in out.collect()
        )

    assert canon(1, 1) == canon(7, 5)


def test_e2e_glyph_level_auto_psm(spark, fx_small_docs, tmp_path):
    docs = fx_small_docs[:10]
    p = str(tmp_path / "docs10.parquet")
    write_documents_parquet(docs, p)
    cfg = ExtractConfig(
        layout_level="glyph",
        text_levels=("line", "word", "glyph"),
        psm="auto",           # no OSD property → P1/P2 must not run
        media_partitions=2,
    )
    rows = extract(spark.read.parquet(p), cfg).collect()
    _compare(rows, docs, cfg)


def test_e2e_only_layout(spark, fx_small_docs, tmp_path):
    docs = fx_small_docs[10:16]
    p = str(tmp_path / "docs6.parquet")
    write_documents_parquet(docs, p)
    cfg = ExtractConfig(only_layout=True, media_partitions=2)
    rows = extract(spark.read.parquet(p), cfg).collect()
    assert all(r["text"] == "" for r in rows if r["kind"] == "media")
    _compare(rows, docs, cfg)


def test_quarantine_bad_media(spark, tmp_path):
    docs = [
        {"doc_id": "d1", "spans": [
            {"kind": "text", "text": " ok ", "media_ref": "", "offset": 0},
            {"kind": "media", "text": "", "media_ref": "bad://d1/0", "offset": 1},
            {"kind": "media", "text": "", "media_ref": "media://d1/1#f", "offset": 2},
        ]},
    ]
    p = str(tmp_path / "bad.parquet")
    write_documents_parquet(docs, p)
    from tesseract_recognize_spark.fixtures.raster import render_raster

    def resolver(ref):
        if ref.startswith("bad://"):
            return np.ones((13, 13), np.uint8)  # contract violation
        return render_raster(ref)

    rows = extract(
        spark.read.parquet(p), ExtractConfig(media_partitions=1),
        resolver=resolver,
    ).orderBy("doc_id", "order").collect()
    assert rows[0]["text"] == "ok"
    assert all(not r["media_ref"].startswith("bad://") for r in rows)
    assert [r["order"] for r in rows] == list(range(len(rows)))
    # surviving page keeps its stable page number (pg2)
    regions = [r["region_id"] for r in rows if r["level"] == "region"]
    assert regions and all(rid.startswith("pg2_") for rid in regions)


@pytest.mark.parametrize("escaped_literals", ["false", "true"])
def test_trim_in_plan_matches_oracle(spark, tmp_path, escaped_literals):
    # a wrongly escaped T9 pattern still runs, but matches a literal
    # backslash, so no text loses its whitespace; the SQL text holds no
    # backslash, so the parser's literal-escaping setting cannot change it
    raws = [raw for raw, _ in TRIM_CASES] + [
        "\x0b x \x0b", "\f y \f", "\r z \r\n", " a\\sb ", "\\s",
    ]
    docs = [
        {"doc_id": f"d{i}", "spans": [
            {"kind": "text", "text": raw, "media_ref": "", "offset": 0},
        ]}
        for i, raw in enumerate(raws)
    ]
    p = str(tmp_path / "trim.parquet")
    write_documents_parquet(docs, p)
    df = spark.read.parquet(p)
    want = {f"d{i}": trim(raw) for i, raw in enumerate(raws)}
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, escaped_literals)
    try:
        got = {r["doc_id"]: r["text"] for r in extract(df).collect()}
    finally:
        spark.conf.unset(key)
    assert got == want


def test_empty_table(spark, tmp_path):
    p = str(tmp_path / "empty.parquet")
    write_documents_parquet([], p)
    assert extract(spark.read.parquet(p), ExtractConfig()).count() == 0


def test_p3_closed_form_matches_sequential(spark, tmp_path):
    """The engine's per-line closed form (run in the OCR stage) vs the
    reference's sequential chaining, on crafted runs of unlocatable words —
    incl. on a rotated page (P1+P3)."""
    def line(*specs):
        return [Word(t, unk) for t, unk in specs]

    cases = {
        "fx://both-single": [line(("aa", False), ("bb", True), ("cc", False))],
        "fx://both-chain": [line(("aa", False), ("bb", True), ("cc", True),
                                 ("dd", False))],
        "fx://pre-chain": [line(("aa", False), ("bb", True), ("cc", True))],
        "fx://fol-chain": [line(("aa", True), ("bb", True), ("cc", False))],
        "fx://all-unk": [line(("aa", True), ("bb", True))],
        "fx://rotated": [line(("aa", False), ("bb", True), ("cc", True),
                              ("dd", False))],
    }
    layouts = {
        ref: Layout(
            orientation_k=2 if ref == "fx://rotated" else 0,
            blocks=[Block(block_type=1, paras=[lines])],
        )
        for ref, lines in cases.items()
    }

    def resolver(ref):
        lay = layouts[ref]
        img = render_upright(lay, layout_geometry(lay))
        return np.rot90(img, lay.orientation_k) if lay.orientation_k else img

    docs = [
        {"doc_id": f"d-{i}", "spans": [
            {"kind": "media", "text": "", "media_ref": ref, "offset": 0}
        ]}
        for i, ref in enumerate(sorted(layouts))
    ]
    p = str(tmp_path / "p3.parquet")
    write_documents_parquet(docs, p)
    cfg = ExtractConfig(media_partitions=2)
    rows = extract(
        spark.read.parquet(p), cfg, resolver=resolver
    ).collect()
    _compare(rows, docs, cfg, layout_provider=lambda ref: layouts[ref])
    filled = [r for r in rows if r["coords_filled"]]
    assert len(filled) == 11  # one per unk word across the six cases
