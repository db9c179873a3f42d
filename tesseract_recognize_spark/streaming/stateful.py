"""Custom stateful streaming operator: cross-batch exact dedup.

A trillion-document corpus arrives continuously; exact dedup over the
stream cannot re-aggregate history per micro-batch. This operator keeps
ONE boolean of keyed state per content hash in Spark's distributed state
store (``applyInPandasWithState`` — the engine's custom-stateful-operator
path, per the north star's Structured Streaming contract): the first
document carrying a hash is emitted as the keeper, every later arrival —
same batch or any later batch — is dropped. State is partitioned by the
group key exactly like a shuffle (hash(content_hash)), so at 10^12 docs
the store shards across executors and each key costs ~1 boolean; the
streaming checkpoint persists it across restarts, giving exactly-once
dedup semantics end-to-end with the file-source checkpoint.

The content hash is md5 of the canonical JSON of the spans array — the
same document identity the batch exact_dedup uses (dedup.py:52-60),
lifted to the (doc_id, spans) input shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tesseract_recognize_spark.schemas import DOCUMENTS_SCHEMA
from tesseract_recognize_spark.streaming import file_source, start_parquet_sink

__all__ = ["dedup_first_seen", "stream_dedup"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType()),
        T.StructField("keep_doc_id", T.StringType()),
        T.StructField("batch_dup_count", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    rows = pd.concat(list(pdfs), ignore_index=True)
    if state.exists:  # hash already emitted in an earlier batch → drop all
        return
    state.update((True,))
    yield pd.DataFrame(
        {
            "content_hash": [key[0]],
            "keep_doc_id": [rows["doc_id"].min()],
            "batch_dup_count": [len(rows)],
        }
    )


def dedup_first_seen(docs: DataFrame) -> DataFrame:
    """(streaming) documents → first-seen keeper rows per content hash.

    Output: (content_hash, keep_doc_id, batch_dup_count). Works on a
    streaming OR batch DataFrame of (doc_id, spans...) shape."""
    hashed = docs.select(
        "doc_id", F.md5(F.to_json(F.col("spans"))).alias("content_hash")
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start (or resume) streaming first-seen dedup over a growing
    directory of documents parquet files. Returns the StreamingQuery.

    Restart-safe: the state store lives under ``checkpoint_dir``, so a
    resumed stream still drops documents first seen in any PREVIOUS run.
    """
    keepers = dedup_first_seen(
        file_source(spark, DOCUMENTS_SCHEMA, input_dir)
    )
    return start_parquet_sink(keepers, output_dir, checkpoint_dir)
