"""Generate the committed golden parquet for the `extract_full` driver
oracle.

The pure-Python oracle (oracle/oracle.py:expected_spans) computes the
expected span sequence for every document WITHOUT running Spark or the
image decoder; this script replicates `spans_from_sf_documents`
(sources/testdata.py) in plain Python over the sf documents table, runs
the oracle per doc, and writes the flagship projection
(doc_id, order, kind, text, media_ref, level, region_id, line_id) to
`golden/extract_full_sf{sf}.parquet` with types matching the Spark output
exactly (order: int32). `oracle_sql()["extract_full"]` is a plain SELECT
over this file — DuckDB reads arbitrary parquet paths — which puts the
flagship pipeline under the driver's hard rows/schema/hash gate.

Usage: python scripts/make_golden.py [sf_dir] [out_parquet]
"""

from __future__ import annotations

import hashlib
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, ".")

from tesseract_recognize_spark.config import ExtractConfig  # noqa: E402
from tesseract_recognize_spark.oracle.oracle import (  # noqa: E402
    expected_crop_spans,
    expected_spans,
)
from tesseract_recognize_spark.sources.testdata import (  # noqa: E402
    region_crops_for_media,
)

PROJECTION = [
    "doc_id", "order", "kind", "text", "media_ref",
    "level", "region_id", "line_id",
]


def spans_for_doc(doc_id: int, text: str) -> list[dict]:
    """Python replica of sources/testdata.py:spans_from_sf_documents —
    same split/md5 construction, byte-for-byte (both engines count string
    positions in code points; md5 runs over UTF-8 bytes)."""
    half = len(text) // 2
    spans = [
        {"kind": "text", "text": text[:half], "media_ref": "", "offset": 0},
        {"kind": "text", "text": text[half:], "media_ref": "", "offset": 1},
    ]
    if doc_id % 3 == 0:
        digest = hashlib.md5(text.encode("utf-8")).hexdigest()[:8]
        spans.append(
            {
                "kind": "media",
                "text": "",
                "media_ref": f"media://doc-{doc_id}/0#{digest}",
                "offset": 2,
            }
        )
    return spans


SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("order", pa.int32()),
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("level", pa.string()),
        pa.field("region_id", pa.string()),
        pa.field("line_id", pa.string()),
    ]
)


def _write(rows_per_doc, out: str) -> None:
    cols: dict[str, list] = {c: [] for c in PROJECTION}
    for rows in rows_per_doc:
        for r in rows:
            for c in PROJECTION:
                cols[c].append(r[c])
    table = pa.table({c: cols[c] for c in PROJECTION}, schema=SCHEMA)
    pq.write_table(table, out)
    print(f"wrote {table.num_rows} rows to {out}")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_full = (
        sys.argv[2]
        if len(sys.argv) > 2
        else "golden/extract_full_sf0.01.parquet"
    )
    out_crops = (
        sys.argv[3]
        if len(sys.argv) > 3
        else "golden/extract_crops_sf0.01.parquet"
    )
    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    doc_spans = [
        (f"doc-{doc_id}", spans_for_doc(doc_id, text))
        for doc_id, text in zip(
            docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
        )
    ]
    # the oracle ignores media_partitions, a Spark-only runtime knob
    cfg = ExtractConfig()
    _write(
        (expected_spans(did, spans, cfg) for did, spans in doc_spans),
        out_full,
    )
    # region-crop golden: same crop selection as the driver query
    # (__spark_entry__.py:q_extract_region_crops via region_crops_for_media)
    crop_cfg = ExtractConfig(psm="auto")
    crop_rows = []
    for did, spans in doc_spans:
        pairs = [
            (did, s["offset"], s["media_ref"])
            for s in spans
            if s["kind"] == "media"
        ]
        if not pairs:
            continue
        crops = region_crops_for_media(pairs)
        if not crops:
            continue
        crop_rows.append(expected_crop_spans(did, spans, crops, crop_cfg))
    _write(crop_rows, out_crops)
    return 0


if __name__ == "__main__":
    sys.exit(main())
