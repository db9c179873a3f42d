"""The engine's page-local post-passes (functions/pagepass.py) against the
sequential oracle (oracle/reference_ops.py, T1→T3→P1→P2→P3) on generated
layouts: every orientation, runs of unlocatable words at the start,
middle and end of a line and whole-unk lines, RTL blocks and non-text
blocks. No Spark."""

from __future__ import annotations

import copy

from hypothesis import given, settings, strategies as st

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.constants import ALPHABET, RTL_ALPHABET
from tesseract_recognize_spark.fixtures.raster import Block, Layout, Word
from tesseract_recognize_spark.functions.emission import emit_page_rows
from tesseract_recognize_spark.functions.pagepass import finish_page
from tesseract_recognize_spark.oracle import reference_ops as ref
from tesseract_recognize_spark.oracle.oracle import page_struct_from_layout


def _line(script):
    word = st.builds(
        Word,
        text=st.text(alphabet=script, min_size=1, max_size=4),
        unk=st.booleans(),
    )
    return st.lists(word, min_size=1, max_size=6)


def _text_block(rtl):
    script = RTL_ALPHABET if rtl else ALPHABET
    para = st.lists(_line(script), min_size=1, max_size=3)
    return st.builds(
        Block,
        block_type=st.just(1),
        paras=st.lists(para, min_size=1, max_size=2),
        rtl=st.just(rtl),
    )


_nontext_block = st.builds(
    Block,
    block_type=st.integers(min_value=9, max_value=14),
    nontext_width=st.integers(min_value=40, max_value=199),
)

_layouts = st.builds(
    Layout,
    orientation_k=st.integers(min_value=0, max_value=3),
    blocks=st.lists(
        st.one_of(_text_block(False), _text_block(True), _nontext_block),
        min_size=1,
        max_size=4,
    ),
)

_configs = st.sampled_from([
    ExtractConfig(),
    ExtractConfig(psm="auto"),
    ExtractConfig(layout_level="glyph", text_levels=("line", "word", "glyph")),
])

_GEOMETRY = ("coords", "xs", "ys", "x0", "y0", "x1", "y1", "full_page")


@settings(max_examples=150, deadline=None)
@given(
    layout=_layouts,
    cfg=_configs,
    # a wrong OSD angle leaves the derotated baselines off-horizontal, so
    # P2's fix-up rotations run too
    osd=st.sampled_from([None, 90, 180, -90]),
)
def test_finish_page_matches_sequential_oracle(layout, cfg, osd):
    rows = emit_page_rows(page_struct_from_layout(layout), cfg, 1, 2)
    if osd is not None and cfg.psm == "auto_osd":
        for r in rows:
            r["osd_angle"] = osd
    expected = ref.t1_filter(copy.deepcopy(rows))
    ref.t3_coords(expected)
    ref.p1_apply_orientation(expected)
    ref.p2_dominant_baselines(expected)
    ref.p3_fill_word_coords(expected)

    got = finish_page(rows)

    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert {k: v for k, v in g.items() if k not in _GEOMETRY} == {
            k: v for k, v in e.items() if k not in _GEOMETRY
        }
        pts = list(zip(g["xs"], g["ys"]))
        assert len(pts) == len(e["coords"])
        for (gx, gy), (ex, ey) in zip(pts, e["coords"]):
            assert abs(gx - ex) <= 1e-9 and abs(gy - ey) <= 1e-9, (pts, e)


def test_finish_page_drops_nontext_rows_only():
    layout = Layout(orientation_k=0, blocks=[
        Block(block_type=1, paras=[[[Word("ab", False)]]]),
        Block(block_type=12, nontext_width=50),
    ])
    rows = emit_page_rows(page_struct_from_layout(layout), ExtractConfig(), 1, 1)
    kept = finish_page(rows)
    assert [r["level"] for r in kept] == ["region", "line", "word"]
    assert all(r["block_type"] <= 8 for r in kept)
