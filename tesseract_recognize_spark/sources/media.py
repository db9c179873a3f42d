"""Media resolution seam: media_ref → raster.

In production the media bytes for a span would be fetched from an object
store / Iceberg binary column keyed by ``media_ref`` and decoded. In this
repo the raster is synthesized deterministically from the ref (SURVEY.md
§1.4: "media bytes resolved by media_ref ... or synthesized
deterministically"), which plays the role of both the fetch and the image
decode. Another resolver is swapped in per call through
``extract(resolver=...)``, which ships it to the Python workers in the UDF
closure.
"""

from __future__ import annotations

import numpy as np

from tesseract_recognize_spark.fixtures.raster import render_raster


def resolve_media(media_ref: str) -> np.ndarray:
    """Resolve a media_ref to a binary raster (uint8 0/1 ndarray)."""
    return render_raster(media_ref)
