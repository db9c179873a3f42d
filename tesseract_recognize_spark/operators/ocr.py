"""Mock-OCR expansion stage: media span rows → final media span rows.

The single custom "UDTF" of the engine (SURVEY.md §2.3): an Arrow-batched
``mapInArrow`` that resolves each media_ref to a raster, decodes it by
image processing (operators/ocr_core.py), emits the reference's
iterator-walk rows (functions/emission.py) and runs the page-local
post-passes T1/T3/P1/P2/P3 on them (functions/pagepass.py). This is the
analog of the reference's per-request subprocess
(tesseract_recognize_api.py:188-198) — but crossed once per Arrow batch
instead of once per document, and the post-passes ride the same crossing:
every one of them reads only its own page, so none needs a shuffle.

mapInArrow (not mapInPandas): output RecordBatches are assembled straight
from Python column lists via ``pa.array`` — no pandas DataFrame is ever
materialized on either side of the boundary. The ``coords`` list column is
built from flat x/y lists plus list offsets, never one object per point.

No shuffle happens here: the work item is one page, in both modes — in
region-crop mode the row carries the page's crops as one sorted array, so
the page's raster is resolved once and its crops are cut, decoded and
post-passed together, like the reference's per-page region loop
(tesseract-recognize.cc:428-451). Pages are independent, so the stage is
embarrassingly parallel; skew is handled upstream by repartitioning on
(doc_id, offset) so a media-heavy document's pages spread across tasks
(the north-star's "salting of skewed media-heavy partitions").

Failures follow the task-retry discipline (SURVEY.md §4): a raster that
violates the contract (``DecodeError``) or a resolver that cannot read its
page (``OSError``) yields one level='error' row (``error`` = "<exception
class>: <message>", dropped by a native filter after the stage) instead of
failing the partition. The page is the quarantine unit: in region-crop
mode a crop that fails to decode quarantines its page's other crops too. A transient resolver error (``ConnectionError``,
``TimeoutError``) is not quarantined: it fails the task, so Spark retries
it, and once the retries are spent the group does not commit and a resume
runs it again; the page is never lost silently.

Each task ends with ``release_worker_caches``: the worker's per-task
import-cache re-scan cost more than a small task's page work.
"""

from __future__ import annotations

import sys
import zipimport
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.functions.emission import emit_page_rows
from tesseract_recognize_spark.functions.pagepass import finish_page
from tesseract_recognize_spark.operators.ocr_core import DecodeError, decode_raster
from tesseract_recognize_spark.schemas import MEDIA_ROWS_SCHEMA
from tesseract_recognize_spark.sources.media import resolve_media

__all__ = ["ocr_expand", "release_worker_caches"]

_ARROW_SCHEMA = to_arrow_schema(MEDIA_ROWS_SCHEMA)


def _expand_columns(
    cols: dict[str, list], cfg: ExtractConfig, resolver, save_crops_dir=None
) -> pa.RecordBatch:
    """Column lists in → one RecordBatch out (one row per kept span row,
    plus one level='error' row per quarantined page). Shared by the Arrow
    stage and unit tests.

    One row in is one page: (doc_id, offset, media_ref, media_idx,
    n_media), plus in region-crop mode ``crops``, the page's crop structs
    (crop_id, crop_x0, crop_y0, crop_x1, crop_y1) sorted by crop_id."""
    out: list[dict] = []
    doc_col: list = []
    off_col: list = []
    ref_col: list = []
    err_col: list = []
    for i, doc_id in enumerate(cols["doc_id"]):
        offset = cols["offset"][i]
        media_ref = cols["media_ref"][i]
        page_num, n_pages = cols["media_idx"][i], cols["n_media"][i]
        err, cuts = None, []
        try:
            raster = resolver(media_ref)
            if "crops" not in cols:
                rows = emit_page_rows(
                    decode_raster(raster), cfg, page_num, n_pages
                )
            else:
                rows = []
                page_h, page_w = raster.shape
                for seq, c in enumerate(cols["crops"][i]):
                    x0, y0 = c["crop_x0"], c["crop_y0"]
                    # the reference's page.crop(): cut the sub-raster,
                    # remember its offset (tesseract-recognize.cc:438-441)
                    cut = raster[y0 : c["crop_y1"] + 1, x0 : c["crop_x1"] + 1]
                    cuts.append((c["crop_id"], cut))
                    rows += emit_page_rows(
                        decode_raster(cut), cfg, page_num, n_pages,
                        crop=dict(crop_id=c["crop_id"], x=x0, y=y0, seq=seq,
                                  page_w=page_w, page_h=page_h),
                    )
            # no line spans two crops (line_sub carries seq·10^6), and
            # P1/P2 never run in crop mode (psm='auto')
            rows = finish_page(rows)
        except (ConnectionError, TimeoutError):
            raise  # transient: fail the task so Spark retries it
        except (DecodeError, OSError) as exc:  # quarantine the page
            err = f"{type(exc).__name__}: {exc}"
            rows = [dict(sub_order=-1, level="error", text="")]
        else:
            if cuts and save_crops_dir:
                # outside the try, so a failed dump raises
                _save_crops(save_crops_dir, doc_id, offset, cuts)
        out.extend(rows)
        n = len(rows)
        doc_col += [doc_id] * n
        off_col += [offset] * n
        ref_col += [media_ref] * n
        err_col += [err] * n
    base = {
        "doc_id": doc_col, "offset": off_col,
        "media_ref": ref_col, "error": err_col,
    }
    arrays = [
        _coords_array(out) if f.name == "coords"
        else pa.array(
            base[f.name] if f.name in base else [r.get(f.name) for r in out],
            type=f.type,
        )
        for f in _ARROW_SCHEMA
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=_ARROW_SCHEMA)


def _save_crops(save_crops_dir: str, doc_id, offset, cuts) -> None:
    """K3 debug sink (reference --save-crops, tesseract-recognize.cc:551-555):
    executor-local .npy dumps of a page's cut rasters — dev-only, like the
    original."""
    import os

    import numpy as np

    os.makedirs(save_crops_dir, exist_ok=True)
    safe = str(doc_id).replace("/", "_")
    for crop_id, cut in cuts:
        np.save(
            os.path.join(save_crops_dir, f"crop_{safe}_{offset}_{crop_id}.npy"),
            cut,
        )


def _coords_array(rows: list[dict]) -> pa.ListArray:
    """The coords list column from the rows' xs/ys tuples: flat x and y
    value arrays plus list offsets (null for a quarantined page's row)."""
    xs: list[float] = []
    ys: list[float] = []
    ends = [0]
    for r in rows:
        xs += r.get("xs", ())
        ys += r.get("ys", ())
        ends.append(len(xs))
    points = pa.StructArray.from_arrays(
        [pa.array(xs, pa.float64()), pa.array(ys, pa.float64())],
        names=["x", "y"],
    )
    return pa.ListArray.from_arrays(
        pa.array(ends, pa.int32()), points,
        type=_ARROW_SCHEMA.field("coords").type,
        mask=pa.array(["xs" not in r for r in rows]),
    )


def release_worker_caches() -> None:
    """End-of-task release of the Python worker's zip import caches.

    pyspark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py``); on CPython 3.11 each cached
    ``zipimporter`` then re-reads its archive — on a 4-core host the
    spark-core jar (5,359 entries) twice at 44.5 ms and ``pyspark.zip``
    (1,328 entries) 12 times at 10.5 ms: 0.22 s per task. Dropped from
    ``sys.path_importer_cache``, they leave the next task nothing to
    re-read, and a later import builds its finder from the untouched
    ``zipimport._zip_directory_cache``. The first task of each worker
    still pays; on CPython >= 3.13 the invalidation only drops caches, so
    the release is harmless there."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def ocr_expand(
    media_spans: DataFrame,
    cfg: ExtractConfig,
    resolver=None,
    save_crops_dir: str | None = None,
) -> DataFrame:
    """page rows (doc_id, offset, media_ref, media_idx, n_media[, crops])
    → post-passed span rows per MEDIA_ROWS_SCHEMA (final coords).

    ``resolver`` (media_ref → raster ndarray) is captured in the UDF
    closure so it ships to the Python workers via cloudpickle — a
    driver-side registry would NOT propagate (workers import modules
    fresh). Defaults to sources/media.resolve_media.
    """
    resolver = resolver or resolve_media

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield _expand_columns(
                batch.to_pydict(), cfg, resolver, save_crops_dir
            )
        release_worker_caches()

    return media_spans.mapInArrow(fn, schema=MEDIA_ROWS_SCHEMA)
