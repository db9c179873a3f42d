"""P3 word-coords filler: the reference's sequential chaining semantics
(tesseract-recognize.cc:816-858, backwards in-place loop) on hand-built
rows. The engine's closed form (functions/pagepass.py) is tested against
this in tests/test_pagepass.py and the Spark e2e parity tests."""

import pytest

from tesseract_recognize_spark.oracle.reference_ops import p3_fill_word_coords


def _word(i, coords):
    return {
        "level": "word",
        "line_id": "b1_p1_l1",
        "word_idx": i,
        "sub_order": 10 + i,
        "coords": coords,
        "coords_filled": False,
    }


def _line(coords):
    return {
        "level": "line",
        "line_id": "b1_p1_l1",
        "word_idx": None,
        "sub_order": 9,
        "coords": coords,
        "coords_filled": False,
    }


SENT = [(0.0, 0.0), (0.0, 0.0)]


def _quad(x0, x1, y0=0.0, y1=6.0):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def test_both_neighbors_single():
    a, b, c = _word(0, _quad(0, 10)), _word(1, SENT), _word(2, _quad(20, 30))
    rows = [_line(_quad(0, 30)), a, b, c]
    p3_fill_word_coords(rows)
    assert b["coords"] == [(10, 0), (20, 0), (20, 6), (10, 6)]


def test_both_neighbors_chain_degenerates():
    """Run of 2 sentinels between real words: backwards iteration fills the
    run-final word with the true quad; the earlier one then sees the filled
    word as its 'following real sibling' and degenerates onto pre's edge."""
    a = _word(0, _quad(0, 10))
    b, c = _word(1, SENT), _word(2, SENT)
    d = _word(3, _quad(20, 30))
    rows = [_line(_quad(0, 30)), a, b, c, d]
    p3_fill_word_coords(rows)
    assert c["coords"] == [(10, 0), (20, 0), (20, 6), (10, 6)]
    assert b["coords"] == [(10, 0), (10, 0), (10, 6), (10, 6)]  # degenerate


def test_pre_only_extrudes_one_px():
    a, b = _word(0, _quad(0, 10)), _word(1, SENT)
    rows = [_line(_quad(0, 10)), a, b]
    p3_fill_word_coords(rows)
    assert b["coords"] == [(10, 0), (11, 0), (11, 6), (10, 6)]


def test_pre_only_chain():
    a, b, c = _word(0, _quad(0, 10)), _word(1, SENT), _word(2, SENT)
    rows = [_line(_quad(0, 10)), a, b, c]
    p3_fill_word_coords(rows)
    assert c["coords"] == [(10, 0), (11, 0), (11, 6), (10, 6)]
    assert b["coords"] == [(10, 0), (10, 0), (10, 6), (10, 6)]


def test_fol_only_chain_extends_backwards():
    b, c = _word(0, SENT), _word(1, SENT)
    d = _word(2, _quad(20, 30))
    rows = [_line(_quad(0, 30)), b, c, d]
    p3_fill_word_coords(rows)
    assert c["coords"] == [(19, 0), (20, 0), (20, 6), (19, 6)]
    assert b["coords"] == pytest.approx(
        [(18, 0), (19, 0), (19, 6), (18, 6)]
    )


def test_no_neighbors_parent_then_chain():
    b, c = _word(0, SENT), _word(1, SENT)
    rows = [_line(_quad(0, 30)), b, c]
    p3_fill_word_coords(rows)
    assert c["coords"] == _quad(0, 30)             # parent line coords
    # earlier word extrudes backwards off the line quad
    assert b["coords"] == pytest.approx(
        [(-1, 0), (0, 0), (0, 6), (-1, 6)]
    )
    assert b["coords_filled"] and c["coords_filled"]
