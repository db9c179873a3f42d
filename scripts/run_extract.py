"""spark-submit entry point for the extraction job.

    zip -r engine.zip tesseract_recognize_spark
    spark-submit --py-files engine.zip scripts/run_extract.py \
        --input /path/documents_parquet --output /path/out \
        --n-groups 64 --layout-level word --resume

The driver-side CLI mirrors the reference tool's option surface
(tesseract-recognize.cc:74-111): layout/text levels, only-layout, psm.
Cluster sizing is spark-submit's domain (--master/--num-executors); the
job itself is size-agnostic.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.plans.checkpoint import run_checkpointed
from tesseract_recognize_spark.session import build_session
from tesseract_recognize_spark.sources.tableio import get_table_io


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path or table")
    p.add_argument("--output", required=True, help="output dir or Iceberg table")
    p.add_argument("--layout-level", default="word",
                   choices=["region", "line", "word", "glyph"])
    p.add_argument("--text-levels", default=None,
                   help="comma-separated; defaults to the layout level")
    p.add_argument("--only-layout", action="store_true")
    p.add_argument("--psm", default="auto_osd", choices=["auto", "auto_osd"])
    p.add_argument("--n-groups", type=int, default=8,
                   help="checkpoint granularity (commit-per-group)")
    p.add_argument("--media-partitions", type=int, default=0,
                   help="cap on OCR tasks per group; each group runs one "
                        "task per core up to this cap "
                        "(0 = default parallelism, one task per core)")
    p.add_argument("--resume", action="store_true",
                   help="skip groups already committed in the lineage")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])
    text_levels = (
        tuple(args.text_levels.split(","))
        if args.text_levels
        else (args.layout_level,)
    )
    spark = build_session(app_name="extract")
    sc = spark.sparkContext
    media_partitions = args.media_partitions or sc.defaultParallelism
    cfg = ExtractConfig(
        layout_level=args.layout_level,
        text_levels=text_levels,
        only_layout=args.only_layout,
        psm=args.psm,
        media_partitions=media_partitions,
    )
    docs = (
        spark.read.table(args.input)
        if "/" not in args.input
        else spark.read.parquet(args.input)
    )
    io = get_table_io(args.output)
    if not args.resume and io.committed_groups():
        print("output has committed groups; pass --resume to continue",
              file=sys.stderr)
        return 2
    t0 = time.time()
    entries = run_checkpointed(docs, io, n_groups=args.n_groups, cfg=cfg)
    wall = time.time() - t0
    total_docs = sum(e.doc_count for e in entries)
    print(json.dumps({
        "groups_committed": len(entries),
        "docs": total_docs,
        "spans": sum(e.span_count for e in entries),
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(total_docs / wall, 2) if wall else None,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
