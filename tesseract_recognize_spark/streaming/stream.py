"""Incremental extraction via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.3: no streaming operators),
but a trillion-document corpus arrives continuously — this wraps the SAME
batch plan in a Structured Streaming file source with foreachBatch, giving
exactly-once incremental extraction with the engine's usual checkpoint
story (the streaming checkpoint tracks consumed input files; each
micro-batch runs the full distributed extract plan and writes its own
batch-keyed partition directory, so replays after a crash are idempotent).

foreachBatch (rather than a pure streaming DAG) is deliberate: the order-
assignment window is a per-document total order, not a watermark-windowed
aggregation — per micro-batch semantics is exactly the contract (a
document's spans live in one input file).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from tesseract_recognize_spark.config import DEFAULT_CONFIG, ExtractConfig
from tesseract_recognize_spark.plans.pipeline import SINK_SORT_KEYS, extract
from tesseract_recognize_spark.schemas import DOCUMENTS_SCHEMA
from tesseract_recognize_spark.streaming import file_source, start_catchup

__all__ = ["stream_extract"]


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    resolver=None,
):
    """Start (or resume) incremental extraction over a growing directory of
    documents parquet files: process everything currently available and
    stop. Returns the StreamingQuery."""

    def process_batch(batch_df, batch_id: int) -> None:
        # foreachBatch is at-least-once; writing each micro-batch to a
        # deterministic batch_id-keyed subdirectory with overwrite makes the
        # replay idempotent — the checkpoint-commit/write race can only
        # rewrite the same directory, never duplicate rows. Readers get the
        # union via parquet partition discovery on `batch=`.
        out = extract(batch_df, cfg, resolver=resolver)
        out = out.sortWithinPartitions(*SINK_SORT_KEYS)
        out.write.mode("overwrite").parquet(f"{output_dir}/batch={batch_id}")

    src = file_source(spark, DOCUMENTS_SCHEMA, input_dir)
    return start_catchup(
        src.writeStream.foreachBatch(process_batch), checkpoint_dir
    )
