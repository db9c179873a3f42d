"""Extraction configuration — the Spark analog of the reference CLI options.

Mirrors tesseract-recognize's getopt surface (tesseract-recognize.cc:74-111):
``--layout-level`` / ``--text-levels`` / ``--only-layout`` / ``--psm`` map
directly; file-classification and path options are subsumed by the fixed
Iceberg input schema. The config is a plain dataclass broadcast to executors
by closure capture (it is tiny and immutable).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from tesseract_recognize_spark.constants import LEVEL_RANK, LEVELS


@dataclass(frozen=True)
class ExtractConfig:
    # hierarchy depth emitted by the recognition stage
    # (reference default is "line"; the repo's fixture default is "word" so
    # the word-coords-filler post-pass is exercised end-to-end)
    layout_level: str = "word"
    # levels at which recognized text is attached (reference --text-levels;
    # defaults to the layout level when unset, tesseract-recognize.cc:329-331)
    text_levels: tuple[str, ...] = ("line", "word")
    # suppress all text output (reference --only-layout)
    only_layout: bool = False
    # "auto_osd" emits the apply-image-orientation page property and enables
    # the P1/P2 derotation post-passes (reference PSM_AUTO_OSD,
    # tesseract-recognize.cc:609-628); "auto" leaves coords in raster frame.
    psm: str = "auto_osd"
    # render dpi for media recognition (reference --density, default 300,
    # tesseract-recognize.cc:45,542: the Ghostscript page-render dpi).
    # The synthetic resolver renders at the canonical 300-dpi contract;
    # density=k*300 recognizes the same content with every emitted
    # coordinate and page dimension — crop offsets and a crop's page dims
    # included — in the k*-scaled frame, exactly what rendering a
    # vector-perfect page at k*300 dpi yields. Emission applies the scale
    # (functions/emission.py), so the engine and the oracle share it.
    # Restricted to multiples of 300 so geometry stays integer-exact.
    density: int = 300

    # --- runtime knobs (scale, not semantics) ---
    # partitions of the media stage (0 = leave as-is); media rows are
    # redistributed by (doc_id, offset) hash so one media-heavy document
    # spreads across many tasks (skew salting). ``extract`` uses it as
    # given; ``run_checkpointed`` treats it as a CAP on OCR tasks per
    # group and runs one task per core
    media_partitions: int = 0

    def __post_init__(self) -> None:
        if self.layout_level not in LEVELS:
            raise ValueError(f"layout_level must be one of {LEVELS}")
        for lvl in self.text_levels:
            if lvl not in LEVELS:
                raise ValueError(f"text level must be one of {LEVELS}")
        bad = [
            lvl
            for lvl in self.text_levels
            if LEVEL_RANK[lvl] > LEVEL_RANK[self.layout_level]
        ]
        if bad:
            raise ValueError(
                f"text_levels {bad} deeper than layout_level={self.layout_level}"
            )
        if self.psm not in ("auto", "auto_osd"):
            raise ValueError("psm must be 'auto' or 'auto_osd'")
        if self.density < 300 or self.density % 300 != 0:
            raise ValueError("density must be a positive multiple of 300")

    @property
    def layout_rank(self) -> int:
        return LEVEL_RANK[self.layout_level]

    def text_at(self, level: str) -> bool:
        """Whether TextEquiv is attached at this level (T9 gating,
        tesseract-recognize.cc:678,733,752,763 + --only-layout)."""
        return (not self.only_layout) and level in self.text_levels


DEFAULT_CONFIG = ExtractConfig()
