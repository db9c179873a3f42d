"""The end-to-end extraction plan (SURVEY.md §3.4).

    documents ──┬── text branch: inline(text spans), native trim
                └── media branch:
                      explode_media                 ← filter, sort, posexplode
                      repartition(doc_id, offset)   ← skew salting
                      mapInArrow mock-OCR           ← the one UDF:
                        decode, emit, T1/T3/P1/P2/P3 per page
                      quarantine filter (native)
               union ── repartition(doc_id) ── order window ── sink

Each branch explodes only its own kind of span, straight from the spans
array, so every span passes through exactly one ``Generate``. The text
branch needs no sort: the order window sorts on ``offset``.

Every post-pass is page-local (P2 aggregates over one page, P3 over one
line, T1/T3/P1 are row-wise), so they run inside the OCR stage on each
decoded page (functions/pagepass.py) and the plan carries no post-pass
expressions at all.

Shuffle accounting (the 100-TB argument): exactly two exchanges in both
``extract`` and ``extract_crops`` — (1) the salting repartition that
spreads media-heavy documents across tasks BEFORE the expensive OCR stage
(in crop mode it also clusters each page's crops into one row, so the
group-by adds no exchange of its own), and (2) one hash exchange on doc_id
that clusters each document for the one order window.

Construction: three SQL statements around the one ``mapInArrow`` — the
media explode, the OCR stage's input (override or crop join, salting
hint) and one tail shared by ``extract`` and ``extract_crops`` that also
inlines the text spans. ``spark.sql(query, **frames)`` costs a few Py4J
round trips a statement where Column calls paid one per expression node:
~970 per ``extract()`` on a 40-doc input became ~60, and every checkpoint
group builds its plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tesseract_recognize_spark.config import DEFAULT_CONFIG, ExtractConfig
from tesseract_recognize_spark.operators.explode import explode_media
from tesseract_recognize_spark.operators.normalize import trim_sql
from tesseract_recognize_spark.operators.ocr import ocr_expand
from tesseract_recognize_spark.schemas import FINAL_COLUMNS, MEDIA_ROWS_SCHEMA

__all__ = ["extract", "extract_crops", "SINK_SORT_KEYS"]

# a sink's within-partition sort: physically (doc_id, order), but keyed on
# the columns the order window sorts by, so SortExec finds the ordering in
# place and the sink sort is a no-op
SINK_SORT_KEYS = ("doc_id", "offset", "line_sub", "sub_order")


def extract(
    docs_df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    resolver=None,
    pages: str | frozenset[int] | None = None,
    media_overrides: DataFrame | None = None,
) -> DataFrame:
    """documents(doc_id, spans) → final span rows (FINAL_COLUMNS).

    ``pages`` selects media spans by 0-based ordinal ("0-2,5" spec or a
    set) — the reference's file.pdf[0-2,5] page-set selection. The filter
    is applied to the media array before the explode, so skipped pages
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
    media = explode_media(docs_df, pages=pages)
    frames, ref, join = {"media": media}, "s.media_ref", ""
    if media_overrides is not None:
        # (doc_id, offset) must map to ONE override — the reference refuses
        # ambiguous --image usage (tesseract-recognize.cc:414-418). A
        # deterministic max-aggregate enforces the invariant without an
        # eager count action; duplicate rows with identical refs collapse
        # harmlessly, conflicting refs resolve deterministically.
        frames["overrides"] = media_overrides
        ref = "coalesce(o.new_media_ref, s.media_ref)"
        join = """LEFT JOIN (
                SELECT doc_id, offset, max(new_media_ref) AS new_media_ref
                FROM {overrides} GROUP BY doc_id, offset
            ) o ON s.doc_id = o.doc_id AND s.offset = o.offset"""
    media_in = media.sparkSession.sql(
        f"""
        SELECT {_salting(cfg, "doc_id", "offset")} s.doc_id, s.offset,
               {ref} AS media_ref, s.media_idx, s.n_media
        FROM {{media}} s {join}""",
        **frames,
    )
    media_rows = ocr_expand(media_in, cfg, resolver=resolver)
    return _sql_tail(media_rows, docs_df)


def extract_crops(
    docs_df: DataFrame,
    crops_df: DataFrame,
    cfg: ExtractConfig = DEFAULT_CONFIG,
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
    added back to every coordinate (cc:438-441,663-666,677). Pages without
    a crop emit nothing.

    Requires ``cfg.psm == "auto"``: the reference refuses OSD when the
    document already carries orientation state (cc:423-426); crops are cut
    in the stored raster frame, so the P1/P2 derotation passes must not run.

    Scale shape: the crops side joins the media spans on (doc_id, offset) —
    an equi-join that AQE broadcasts when the selection is small — and each
    page's crops are collected into one array sorted by crop_id, so the
    OCR stage's work item is the page, as in ``extract``: its raster is
    resolved once, its crops decode in array order, and a crop that fails
    to decode quarantines the page. The expensive decode runs AFTER the
    join, on selected pages only.
    """
    if cfg.psm != "auto":
        raise ValueError(
            "extract_crops requires psm='auto' (no OSD on pre-cropped "
            "regions — reference tesseract-recognize.cc:423-426)"
        )
    media = explode_media(docs_df)
    # one row per page: the salting exchange on (doc_id, offset) already
    # clusters the group-by keys, so the aggregate adds no exchange; the
    # sorted array orders the page's crops by crop_id (the seq component
    # of sub_order, hence the final span order)
    media_in = media.sparkSession.sql(
        f"""
        SELECT doc_id, offset, media_ref, media_idx, n_media,
               array_sort(collect_list(struct(
                   crop_id, crop_x0, crop_y0, crop_x1, crop_y1))) AS crops
        FROM (
            SELECT {_salting(cfg, "doc_id", "offset")} *
            FROM {{media}} JOIN {{crops}} USING (doc_id, offset)
        ) GROUP BY doc_id, offset, media_ref, media_idx, n_media""",
        media=media, crops=crops_df,
    )
    rows = ocr_expand(
        media_in, cfg, resolver=resolver, save_crops_dir=save_crops_dir
    )
    return _sql_tail(rows)


def _salting(cfg: ExtractConfig, *cols: str) -> str:
    """Hash the OCR stage's input on ``cols`` into ``media_partitions``
    tasks, spreading a media-heavy document before the expensive stage."""
    n = cfg.media_partitions
    return f"/*+ REPARTITION({n}, {', '.join(cols)}) */" if n else ""


# each branch projects FINAL_COLUMNS but `order`; the text branch's
# media-only columns are typed NULLs
_SPAN_COLUMNS = [c for c in FINAL_COLUMNS if c != "order"]


def _select(values: dict[str, str]) -> str:
    return ", ".join(
        f"{values[c]} AS {c}" if c in values else c for c in _SPAN_COLUMNS
    )


_T9 = trim_sql("text")  # the T9 trim applies at every level
_MEDIA_SELECT = _select({"kind": "'media'", "text": _T9})
_TEXT_SELECT = _select({
    **{
        f.name: f"CAST(NULL AS {f.dataType.simpleString()})"
        for f in MEDIA_ROWS_SCHEMA
        if f.name not in ("doc_id", "offset", "media_ref")
    },
    "kind": "'text'", "text": _T9, "sub_order": "0", "level": "'text'",
})


def _sql_tail(
    media_rows: DataFrame, docs: DataFrame | None = None
) -> DataFrame:
    """The plan's one SQL tail: drop quarantined pages, add ``kind`` and
    the T9 trim, union the text spans of ``docs`` (if given) with the
    media rows, cluster each document on one doc_id exchange, assign its
    span ``order`` and project FINAL_COLUMNS."""
    # quarantined pages stay visible in the plan up to the error filter,
    # the one place a side output of them can tap
    rows = f"SELECT {_MEDIA_SELECT} FROM {{media}} WHERE error IS NULL"
    frames = {"media": media_rows}
    if docs is not None:
        # no sort: the order window sorts on offset
        rows = f"""SELECT {_TEXT_SELECT} FROM (
            SELECT doc_id, inline(filter(spans, s -> s.kind = 'text'))
            FROM {{docs}}
        ) UNION ALL {rows}"""
        frames["docs"] = docs
    # line_sub is monotone in sub_order within a page, so this orders like
    # (offset, sub_order); a sink sorting on SINK_SORT_KEYS reuses this
    # sort
    query = f"""
        SELECT doc_id, CAST(row_number() OVER (
                   PARTITION BY doc_id ORDER BY offset, line_sub, sub_order
               ) - 1 AS INT) AS `order`,
               {", ".join(_SPAN_COLUMNS[1:])}
        FROM (SELECT /*+ REPARTITION(doc_id) */ * FROM ({rows}))"""
    return media_rows.sparkSession.sql(query, **frames)
