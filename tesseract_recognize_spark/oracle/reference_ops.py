"""Pure-Python reference implementations of the engine's post-passes.

These are the single-threaded, sequential semantics of the reference's
post-passes (tesseract-recognize.cc:793-858), used by the oracle. The
engine implements the SAME semantics independently, per page inside its
OCR stage (functions/pagepass.py, with P3 as a closed form); pytest
compares the two row-for-row — that parity is what validates the
engine's re-expression. The engine never imports this module.

Documented deviations from the reference (both sides implement these):
  * rotatePage in the reference would also rotate the literal "0,0 0,0"
    word-coords sentinel, after which the word-filler XPath no longer
    matches it on rotated pages — an artifact of string matching. Here the
    sentinel (a 2-point coords list) is frame-invariant, so the filler
    applies uniformly on all pages.
  * the reference filler renormalizes unit vectors at every chained
    extrusion step; the engine's closed form multiplies one unit vector —
    identical up to float ULPs (compared with 1e-9 tolerance in tests).
"""

from __future__ import annotations

import math

from tesseract_recognize_spark.functions.geometry import (
    corner_points,
    point_r_to_u,
    rotate_back_angle_k,
)

__all__ = [
    "t1_filter",
    "t3_coords",
    "p1_apply_orientation",
    "p2_dominant_baselines",
    "p3_fill_word_coords",
]

SENTINEL = [(0.0, 0.0), (0.0, 0.0)]


def t1_filter(rows: list[dict]) -> list[dict]:
    """Drop non-text blocks (BlockType > PT_CAPTION_TEXT) — the reference
    skips them before any emission (tesseract-recognize.cc:651-655)."""
    return [r for r in rows if r["sub_order"] >= 0 and r["block_type"] <= 8]


def t3_coords(rows: list[dict]) -> None:
    """Attach the 4-corner polygon (or the unlocatable sentinel) to each row
    per setCoords (tesseract-recognize.cc:155-175)."""
    for r in rows:
        if r["full_page"]:
            r["coords"] = [tuple(p) for p in SENTINEL]
        else:
            r["coords"] = [
                (float(x), float(y))
                for x, y in corner_points(
                    (r["x0"], r["y0"], r["x1"], r["y1"]), r["orientation_k"]
                )
            ]
        r["coords_filled"] = False


def _rotate_page(rows: list[dict], k: int) -> None:
    """Map all coords/baselines of one page from the current frame through
    a k-derotation (the point transform of rotatePage)."""
    if k == 0 or not rows:
        return
    w, h = rows[0]["page_w"], rows[0]["page_h"]
    nw, nh = (h, w) if k % 2 else (w, h)
    for r in rows:
        if len(r["coords"]) == 4:  # sentinel stays frame-invariant
            r["coords"] = [point_r_to_u(x, y, w, h, k) for x, y in r["coords"]]
        if r["b1x"] is not None:
            r["b1x"], r["b1y"] = point_r_to_u(r["b1x"], r["b1y"], w, h, k)
            r["b2x"], r["b2y"] = point_r_to_u(r["b2x"], r["b2y"], w, h, k)
        r["page_w"], r["page_h"] = nw, nh


def p1_apply_orientation(rows: list[dict]) -> None:
    """Apply-image-orientation post-pass: rotatePage(-angle) for pages
    carrying the OSD property (tesseract-recognize.cc:793-799)."""
    if not rows:
        return
    angle = rows[0]["osd_angle"]
    if angle:
        _rotate_page(rows, rotate_back_angle_k(angle))


def p2_dominant_baselines(rows: list[dict]) -> None:
    """Dominant-baseline re-orientation (tesseract-recognize.cc:800-814):
    circular-mean baseline angle over the page's lines, bucketed to a
    90°/180° fix-up rotation. Like the reference, runs only on pages that
    carried the OSD property (set for non-upright orientations only,
    tesseract-recognize.cc:609-617,793)."""
    if not rows or not rows[0]["osd_angle"]:
        return
    lines = [r for r in rows if r["level"] == "line" and r["b1x"] is not None]
    if not lines:
        return
    thetas = [
        math.atan2(-(r["b2y"] - r["b1y"]), r["b2x"] - r["b1x"]) for r in lines
    ]
    dom = math.atan2(
        sum(math.sin(t) for t in thetas) / len(thetas),
        sum(math.cos(t) for t in thetas) / len(thetas),
    )
    angle = 0
    if math.pi / 4 <= dom < 3 * math.pi / 4:
        angle = -90
    elif -3 * math.pi / 4 < dom <= -math.pi / 4:
        angle = 90
    elif dom >= 3 * math.pi / 4 or dom <= -3 * math.pi / 4:
        angle = 180
    if angle:
        # rotatePage(angle) ⇔ derotation by k with ORIENT_K_TO_ANGLE[k] == -angle
        _rotate_page(rows, rotate_back_angle_k(180 if angle == 180 else -angle))


def _unit(ax: float, ay: float, bx: float, by: float) -> tuple[float, float]:
    dx, dy = ax - bx, ay - by
    n = math.sqrt(dx * dx + dy * dy)
    return (dx / n, dy / n)


def p3_fill_word_coords(rows: list[dict]) -> None:
    """Word-coords filler (tesseract-recognize.cc:816-858), faithful
    sequential form: iterate sentinel words BACKWARDS in document order,
    filling in place — so an already-filled later word can serve as the
    "following sibling with real coords" of an earlier one (the reference's
    chaining behavior). The engine implements the equivalent closed form
    per line (functions/pagepass.py)."""
    words = [r for r in rows if r["level"] == "word"]
    sentinels = [r for r in words if len(r["coords"]) == 2]
    by_line: dict[str, list[dict]] = {}
    for w in words:
        by_line.setdefault(w["line_id"], []).append(w)
    for r in reversed(sentinels):
        sibs = by_line[r["line_id"]]
        i = sibs.index(r)
        pre = next(
            (w for w in reversed(sibs[:i]) if len(w["coords"]) == 4), None
        )
        fol = next((w for w in sibs[i + 1 :] if len(w["coords"]) == 4), None)
        if pre is None and fol is None:
            line = next(
                x
                for x in rows
                if x["level"] == "line" and x["line_id"] == r["line_id"]
            )
            r["coords"] = [tuple(p) for p in line["coords"]]
            r["coords_filled"] = True
            continue
        if pre is not None and fol is not None:
            p, f = pre["coords"], fol["coords"]
            pts = [p[1], f[0], f[3], p[2]]
        elif pre is not None:
            p = pre["coords"]
            ux, uy = _unit(p[1][0], p[1][1], p[0][0], p[0][1])
            lx, ly = _unit(p[2][0], p[2][1], p[3][0], p[3][1])
            pts = [
                p[1],
                (p[1][0] + ux, p[1][1] + uy),
                (p[2][0] + lx, p[2][1] + ly),
                p[2],
            ]
        else:
            f = fol["coords"]
            ux, uy = _unit(f[0][0], f[0][1], f[1][0], f[1][1])
            lx, ly = _unit(f[3][0], f[3][1], f[2][0], f[2][1])
            pts = [
                (f[0][0] + ux, f[0][1] + uy),
                f[0],
                f[3],
                (f[3][0] + lx, f[3][1] + ly),
            ]
        r["coords"] = pts
        r["coords_filled"] = True
