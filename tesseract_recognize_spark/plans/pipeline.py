"""The end-to-end extraction plan (SURVEY.md §3.4).

    documents ──explode (native, no shuffle)──┬── text branch: native trim
                                              └── media branch:
                                                    repartition(doc_id, offset)   ← skew salting
                                                    mapInArrow mock-OCR           ← the one UDF:
                                                      decode, emit, T1/T3/P1/P2/P3 per page
                                                    quarantine filter (native)
               union ── repartition(doc_id) ── order window ── sink

Every post-pass is page-local (P2 aggregates over one page, P3 over one
line, T1/T3/P1 are row-wise), so they run inside the OCR stage on each
decoded page (functions/pagepass.py) and the plan carries no post-pass
expressions at all.

Shuffle accounting (the 100-TB argument): exactly two exchanges —
(1) the salting repartition that spreads media-heavy documents across tasks
BEFORE the expensive OCR stage, and (2) one hash exchange on doc_id that
clusters each document for the one order window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tesseract_recognize_spark.config import DEFAULT_CONFIG, ExtractConfig
from tesseract_recognize_spark.operators.explode import (
    explode_spans,
    parse_pages_set,
)
from tesseract_recognize_spark.operators.normalize import (
    normalize_text_spans,
    trim_text,
)
from tesseract_recognize_spark.operators.ocr import ocr_expand
from tesseract_recognize_spark.schemas import FINAL_COLUMNS

__all__ = ["extract", "extract_crops", "canonical_projection"]


def extract(
    docs_df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    ordered: bool = False,
    resolver=None,
    pages: str | frozenset[int] | None = None,
    media_overrides: DataFrame | None = None,
) -> DataFrame:
    """documents(doc_id, spans) → final span rows (FINAL_COLUMNS).

    ``ordered=True`` adds a global orderBy(doc_id, order) — only for small
    result inspection; the sink path keeps documents clustered and sorted
    within partitions instead (no global exchange).

    ``pages`` selects media spans by 0-based ordinal ("0-2,5" spec or a
    set) — the reference's file.pdf[0-2,5] page-set selection. The filter
    is applied to the spans array before the explode, so skipped pages
    never reach the decode stage (skip-before-decode,
    tesseract-recognize.cc:470-471,497-498) and surviving pages renumber.

    ``media_overrides`` (doc_id, offset, new_media_ref) re-points selected
    media spans to a different raster before decode — the reference's
    ``--image`` override (tesseract-recognize.cc:414-420; its companion
    guard against OSD on documents that already carry orientation state,
    cc:423-426, is structural here: the input schema carries no orientation
    state, so double-rotation cannot occur). The join broadcasts when the
    override set is small.
    """
    if isinstance(pages, str):
        pages = parse_pages_set(pages)
    spans = explode_spans(docs_df, pages=pages)

    text_rows = normalize_text_spans(spans)

    media_in = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref", "media_idx", "n_media"
    )
    if media_overrides is not None:
        # (doc_id, offset) must map to ONE override — the reference refuses
        # ambiguous --image usage (tesseract-recognize.cc:414-418). A
        # deterministic max-aggregate enforces the invariant without an
        # eager count action; duplicate rows with identical refs collapse
        # harmlessly, conflicting refs resolve deterministically.
        media_overrides = media_overrides.groupBy("doc_id", "offset").agg(
            F.max("new_media_ref").alias("new_media_ref")
        )
        media_in = media_in.join(
            media_overrides, ["doc_id", "offset"], "left"
        ).select(
            "doc_id", "offset",
            F.coalesce("new_media_ref", "media_ref").alias("media_ref"),
            "media_idx", "n_media",
        )
    if cfg.media_partitions:
        # salting: (doc_id, offset) hash spreads one media-heavy document
        # across many tasks before the expensive stage
        media_in = media_in.repartition(
            cfg.media_partitions, "doc_id", "offset"
        )
    media_rows = _post_ocr(ocr_expand(media_in, cfg, resolver=resolver))

    # align the light text branch to the media schema in one projection
    # (a withColumn per missing column re-analyses the plan each time)
    text_cols = set(text_rows.columns)
    text_full = text_rows.select(*(
        F.lit("text").alias("kind") if f.name == "kind"
        else F.col(f.name) if f.name in text_cols
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in media_rows.schema
    ))
    all_rows = text_full.unionByName(media_rows)
    return _number_spans(all_rows, ordered)


def extract_crops(
    docs_df: DataFrame,
    crops_df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    ordered: bool = False,
    resolver=None,
    save_crops_dir: str | None = None,
) -> DataFrame:
    """Region-crop recognition mode: recognize INSIDE selected sub-regions
    of media pages (the reference's xpath-on-existing-TextRegions workflow,
    tesseract-recognize.cc:428-451).

    ``crops_df``: (doc_id, offset, crop_id, crop_x0, crop_y0, crop_x1,
    crop_y1) — one row per selected region, coordinates in the page's
    raster frame (the realistic source is a previous extraction's region
    coords). Per reference semantics: each crop's raster is cut and decoded
    independently, emitted region ids are "{crop_id}_b{n}" (no region rows
    — recognition writes into the existing regions), and the crop offset is
    added back to every coordinate (cc:438-441,663-666,677).

    Requires ``cfg.psm == "auto"``: the reference refuses OSD when the
    document already carries orientation state (cc:423-426); crops are cut
    in the stored raster frame, so the P1/P2 derotation passes must not run.

    Scale shape: the crops side joins the media spans on (doc_id, offset) —
    an equi-join that AQE broadcasts when the selection is small; the
    expensive decode runs AFTER the join, on crop work items only.
    """
    if cfg.psm != "auto":
        raise ValueError(
            "extract_crops requires psm='auto' (no OSD on pre-cropped "
            "regions — reference tesseract-recognize.cc:423-426)"
        )
    spans = explode_spans(docs_df)
    media_in = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref", "media_idx", "n_media"
    )
    # deterministic within-page crop order (drives the seq component of
    # sub_order, hence the final span order)
    seq_w = Window.partitionBy("doc_id", "offset").orderBy("crop_id")
    crops = crops_df.withColumn(
        "crop_seq", (F.row_number().over(seq_w) - 1).cast("int")
    )
    media_in = media_in.join(crops, ["doc_id", "offset"])
    if cfg.media_partitions:
        media_in = media_in.repartition(
            cfg.media_partitions, "doc_id", "offset", "crop_seq"
        )
    rows = _post_ocr(
        ocr_expand(
            media_in, cfg, resolver=resolver, save_crops_dir=save_crops_dir
        )
    )
    return _number_spans(rows, ordered)


def _post_ocr(rows: DataFrame) -> DataFrame:
    """OCR output → media span rows: drop quarantined pages, kind, T9
    trim."""
    # quarantined pages stay visible in the plan up to this filter, the
    # one place a side output of them can tap
    rows = rows.filter(F.col("error").isNull()).drop("error")
    return rows.withColumns({
        "kind": F.lit("media"),
        "text": trim_text(F.col("text")),  # T9 applies at every level
    })


def _number_spans(rows: DataFrame, ordered: bool) -> DataFrame:
    """Cluster each document on one doc_id exchange, assign its span
    ``order`` and project FINAL_COLUMNS; ``ordered`` adds the global
    (doc_id, order) sort."""
    # line_sub is monotone in sub_order within a page, so this orders like
    # (offset, sub_order); the checkpoint sink sorts on the same keys and
    # so reuses this sort
    order_w = Window.partitionBy("doc_id").orderBy(
        "offset", "line_sub", "sub_order"
    )
    out = rows.repartition("doc_id").withColumn(
        "order", (F.row_number().over(order_w) - 1).cast("int")
    ).select(*FINAL_COLUMNS)
    if ordered:
        out = out.orderBy("doc_id", "order")
    return out


def canonical_projection(spans_df: DataFrame) -> DataFrame:
    """The equality-invariant projection (kind, text, media_ref, order)."""
    return spans_df.select("doc_id", "order", "kind", "text", "media_ref")
