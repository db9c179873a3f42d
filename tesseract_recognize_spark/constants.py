"""Geometry and font constants shared by the renderer, decoder and oracle.

These define the deterministic mock-OCR raster contract (FIXTURES.md §3):
glyphs are exact 5x7 bit patterns on a grid, so the pipeline's
binarize → projection-profile → glyph-match stages recover text by real
image processing while the oracle can compute expected spans independently
from the layout parameters.

All geometry is integer-only: the equality invariant must hold bit-exactly
across partition counts and parallelism levels (SURVEY.md §7 hard part 1).
"""

# --- glyph grid ---------------------------------------------------------
GLYPH_W = 5          # glyph cell width in px
GLYPH_H = 7          # glyph cell height in px (== text line height)
GLYPH_GAP = 1        # blank cols between glyphs inside a word
WORD_GAP = 4         # blank cols between words on a line
INTERIOR_BITS = 15   # 5x3 interior bits encode the glyph index
# Interior values are offset so that no valid glyph's 180°-flipped interior
# is itself a valid glyph (v < 2**6 means rev15(v) >= 2**9 — never valid).
# This makes orientation detection by decode-validation unambiguous.
GLYPH_VALUE_OFFSET = 19

ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"
UNK_INDEX = len(ALPHABET)          # marker glyph: word with unknown coords
# RTL script glyphs (the mock analog of a right-to-left script): words made
# of these render with mirrored word order; the decoder derives the line's
# reading direction from script membership, exactly as Tesseract's writing
# direction drives the reference's per-region readingDirection
# (tesseract-recognize.cc:682-706). 8 glyphs keep the max interior value at
# GLYPH_VALUE_OFFSET + 44 = 63 < 2**6, preserving the 180°-flip-safety
# property below.
RTL_ALPHABET = "ABCDEFGH"
RTL_START = UNK_INDEX + 1
N_GLYPHS = RTL_START + len(RTL_ALPHABET)

# --- page layout (upright frame) ----------------------------------------
MARGIN = 8           # blank border around page content
LINE_GAP = 3         # blank rows between lines within a paragraph
PARA_GAP = 6         # blank rows between paragraphs within a block
BLOCK_GAP = 12       # blank rows between blocks
# Non-text blocks render as solid rectangles whose HEIGHT encodes the block
# type: height = NONTEXT_H_BASE + (block_type - 9) for types 9..14.
NONTEXT_H_BASE = 16

# --- semantics ----------------------------------------------------------
# Tesseract PolyBlockType: block types 0..8 are textual and kept; 9..14
# (images, rules, noise) are skipped before the block counter increments
# (reference tesseract-recognize.cc:651-660).
MAX_TEXT_BLOCK_TYPE = 8

# Raster orientation k = number of CCW 90° rotations applied to the upright
# page. Page property "apply-image-orientation" follows the reference's
# convention (tesseract-recognize.cc:612-617): page-up pointing LEFT in the
# image (k=1, one CCW turn) → +90; DOWN (k=2) → 180; RIGHT (k=3 CCW ==
# one CW turn) → -90; upright → no property (angle 0).
ORIENT_K_TO_ANGLE = {0: 0, 1: 90, 2: 180, 3: -90}

# Deterministic mock confidences (diagnostic only — never compared).
CONF_OK = 0.95
CONF_UNK = 0.30

LEVELS = ("region", "line", "word", "glyph")
LEVEL_RANK = {name: i for i, name in enumerate(LEVELS)}
