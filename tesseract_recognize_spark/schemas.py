"""Spark schemas for the extraction pipeline."""

from __future__ import annotations

from pyspark.sql import types as T

# Input (BASELINE.json input_hint):
# documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

POINT = T.StructType(
    [T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())]
)

# Output of the mock-OCR mapInArrow stage: final media span rows (the
# page-local post-passes already ran) plus the quarantine column.
MEDIA_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("sub_order", T.IntegerType()),
        T.StructField("level", T.StringType()),
        T.StructField("block_type", T.IntegerType()),
        T.StructField("region_id", T.StringType()),
        T.StructField("line_id", T.StringType()),
        T.StructField("line_sub", T.IntegerType()),
        T.StructField("word_idx", T.IntegerType()),
        T.StructField("glyph_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("conf", T.DoubleType()),
        T.StructField("coords", T.ArrayType(POINT)),
        T.StructField("coords_filled", T.BooleanType()),
        T.StructField("b1x", T.DoubleType()),
        T.StructField("b1y", T.DoubleType()),
        T.StructField("b2x", T.DoubleType()),
        T.StructField("b2y", T.DoubleType()),
        T.StructField("baseline_clipped", T.BooleanType()),
        T.StructField("poly_height", T.DoubleType()),
        T.StructField("poly_offset", T.DoubleType()),
        T.StructField("page_w", T.IntegerType()),
        T.StructField("page_h", T.IntegerType()),
        T.StructField("orientation_k", T.IntegerType()),
        T.StructField("osd_angle", T.IntegerType()),
        T.StructField("reading_direction", T.StringType()),
        T.StructField("textline_order", T.StringType()),
        T.StructField("deskew", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]
)

# Final span rows. Equality projection: (kind, text, media_ref, order);
# everything after media_ref is diagnostic.
FINAL_COLUMNS = [
    "doc_id",
    "order",
    "kind",
    "text",
    "media_ref",
    "offset",
    "sub_order",
    "level",
    "block_type",
    "region_id",
    "line_id",
    "line_sub",
    "word_idx",
    "glyph_idx",
    "conf",
    "coords",
    "coords_filled",
    "b1x",
    "b1y",
    "b2x",
    "b2y",
    "baseline_clipped",
    "poly_height",
    "poly_offset",
    "page_w",
    "page_h",
    "orientation_k",
    "osd_angle",
    "reading_direction",
    "textline_order",
    "deskew",
]
