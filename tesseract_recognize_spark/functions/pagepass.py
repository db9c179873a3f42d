"""Page-local post-passes: one page's emitted rows → final geometry.

Runs inside the OCR Arrow stage, right after ``emit_page_rows``. Every
pass reads only rows of the page it runs on (P2 aggregates over the page,
P3 over one line), so a page — in region-crop mode with all its crops,
whose ``line_sub`` carries each crop's seq·10^6 offset so no line spans
two crops — is complete on its own and needs no shuffle:

  T1  block-type filter            (tesseract-recognize.cc:651-655)
  T3  corner polygon + sentinel    (tesseract-recognize.cc:155-175)
  P1  apply-image-orientation      (tesseract-recognize.cc:793-799)
  P2  dominant-baseline fix-up     (tesseract-recognize.cc:800-814)
  P3  word-coords filler           (tesseract-recognize.cc:816-858)

Geometry travels as two parallel tuples per row, ``xs`` and ``ys``: the
four corners in emission order, or the two-point '0,0 0,0' sentinel of an
unlocatable word. The Arrow stage flattens them straight into the
``coords`` list column.

P3 is the closed form of the reference's backwards in-place loop: within
a run of unlocatable words the run-final word gets the true neighbour
quad (or a 1-px extrusion), the others degenerate onto the preceding
word's right edge, and leading runs become m-step extrusions. The
sequential loop lives in oracle/reference_ops.py, which the tests compare
against. Both carry the same two deviations from the reference: the
sentinel is frame-invariant under rotation, and a run is extruded with
one unit vector instead of one renormalized per step (equal up to float
ULPs).
"""

from __future__ import annotations

import math
from bisect import bisect_left

from tesseract_recognize_spark.constants import MAX_TEXT_BLOCK_TYPE
from tesseract_recognize_spark.functions.geometry import (
    corner_points,
    point_r_to_u,
    rotate_back_angle_k,
)

__all__ = ["finish_page"]

_SENTINEL = (0.0, 0.0)


def finish_page(rows: list[dict]) -> list[dict]:
    """T1 → T3 → P1 → P2 → P3 over the emitted rows of one page.
    Returns the kept rows, each with ``xs``/``ys`` and
    ``coords_filled`` set."""
    rows = [r for r in rows if r["block_type"] <= MAX_TEXT_BLOCK_TYPE]
    if not rows:
        return rows
    for r in rows:
        if r["full_page"]:
            r["xs"] = r["ys"] = _SENTINEL
        else:
            r["xs"], r["ys"] = zip(*corner_points(
                (r["x0"], r["y0"], r["x1"], r["y1"]), r["orientation_k"]
            ))
        r["coords_filled"] = False
    angle = rows[0]["osd_angle"]
    if angle:
        _rotate_page(rows, rotate_back_angle_k(angle))
        _dominant_baselines(rows)
    _fill_words(rows)
    return rows


def _rotate_page(rows: list[dict], k: int) -> None:
    """rotatePage's point map: derotate every corner and baseline of the
    page by k and swap the page dims on a quarter turn."""
    if k == 0:
        return
    w, h = rows[0]["page_w"], rows[0]["page_h"]
    nw, nh = (h, w) if k % 2 else (w, h)
    for r in rows:
        if len(r["xs"]) == 4:  # the sentinel stays frame-invariant
            r["xs"], r["ys"] = zip(*(
                point_r_to_u(x, y, w, h, k) for x, y in zip(r["xs"], r["ys"])
            ))
        if r["b1x"] is not None:
            r["b1x"], r["b1y"] = point_r_to_u(r["b1x"], r["b1y"], w, h, k)
            r["b2x"], r["b2y"] = point_r_to_u(r["b2x"], r["b2y"], w, h, k)
        r["page_w"], r["page_h"] = nw, nh


def _dominant_baselines(rows: list[dict]) -> None:
    """P2: bucket the circular mean of the line baseline angles into a
    90°/180° fix-up rotation (OSD pages only, like the reference)."""
    thetas = [
        math.atan2(-(r["b2y"] - r["b1y"]), r["b2x"] - r["b1x"])
        for r in rows
        if r["level"] == "line" and r["b1x"] is not None
    ]
    if not thetas:
        return
    dom = math.atan2(
        sum(math.sin(t) for t in thetas) / len(thetas),
        sum(math.cos(t) for t in thetas) / len(thetas),
    )
    q = math.pi / 4
    if q <= dom < 3 * q:
        angle = -90
    elif -3 * q < dom <= -q:
        angle = 90
    elif dom >= 3 * q or dom <= -3 * q:
        angle = 180
    else:
        return
    # rotatePage(angle) ⇔ the derotation for -angle (180 ↔ 180)
    _rotate_page(rows, rotate_back_angle_k(180 if angle == 180 else -angle))


def _fill_words(rows: list[dict]) -> None:
    """P3 over every line of the page (a line row precedes its words)."""
    line, words = None, []
    for r in rows:
        if r["level"] == "line":
            _fill_line(line, words)
            line, words = r, []
        elif r["level"] == "word":
            words.append(r)
    _fill_line(line, words)


def _unit(dx: float, dy: float) -> tuple[float, float]:
    n = math.sqrt(dx * dx + dy * dy)
    return dx / n, dy / n


def _extrude_back(xs, ys, m: float):
    """The m-step backwards extrusion off quad (xs, ys)."""
    ux, uy = _unit(xs[0] - xs[1], ys[0] - ys[1])
    lx, ly = _unit(xs[3] - xs[2], ys[3] - ys[2])
    return (
        (xs[0] + m * ux, xs[0] + (m - 1) * ux,
         xs[3] + (m - 1) * lx, xs[3] + m * lx),
        (ys[0] + m * uy, ys[0] + (m - 1) * uy,
         ys[3] + (m - 1) * ly, ys[3] + m * ly),
    )


def _fill_line(line: dict | None, words: list[dict]) -> None:
    """Closed-form P3 over one line's words (word_idx order). Only words
    that were real before the pass serve as neighbours."""
    real = [i for i, w in enumerate(words) if len(w["xs"]) == 4]
    if len(real) == len(words):
        return
    last = len(words) - 1
    for i, w in enumerate(words):
        if len(w["xs"]) == 4:
            continue
        at = bisect_left(real, i)
        pre = words[real[at - 1]] if at > 0 else None
        fol = real[at] if at < len(real) else None
        if pre is not None:
            px, py = pre["xs"], pre["ys"]
            if fol == i + 1:  # run-final word: the true gap quad
                fx, fy = words[fol]["xs"], words[fol]["ys"]
                xs = (px[1], fx[0], fx[3], px[2])
                ys = (py[1], fy[0], fy[3], py[2])
            elif fol is None and i == last:  # line-final: 1-px extrusion
                ux, uy = _unit(px[1] - px[0], py[1] - py[0])
                lx, ly = _unit(px[2] - px[3], py[2] - py[3])
                xs = (px[1], px[1] + ux, px[2] + lx, px[2])
                ys = (py[1], py[1] + uy, py[2] + ly, py[2])
            else:  # degenerate onto the preceding word's right edge
                xs = (px[1], px[1], px[2], px[2])
                ys = (py[1], py[1], py[2], py[2])
        elif fol is not None:
            xs, ys = _extrude_back(
                words[fol]["xs"], words[fol]["ys"], float(fol - i)
            )
        elif i == last:
            xs, ys = line["xs"], line["ys"]
        else:
            xs, ys = _extrude_back(line["xs"], line["ys"], float(last - i))
        w["xs"], w["ys"], w["coords_filled"] = xs, ys, True
