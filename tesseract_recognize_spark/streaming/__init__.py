"""Structured Streaming starters over growing parquet directories.

Every starter reads one file source and starts one catch-up query: the
``availableNow`` trigger processes everything currently in the input
directory and stops; the checkpoint under ``checkpoint_dir`` makes the
next start resume where the last one stopped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# files per micro-batch: bounds one batch's size on a large backlog
MAX_FILES_PER_TRIGGER = 8


def file_source(spark: SparkSession, schema, input_dir: str) -> DataFrame:
    """The streaming parquet source over ``input_dir``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
    )


def start_catchup(writer, checkpoint_dir: str):
    """Start ``writer`` (a DataStreamWriter) as a checkpointed catch-up
    query. Returns the StreamingQuery."""
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_parquet_sink(df: DataFrame, output_dir: str, checkpoint_dir: str):
    """Append ``df``'s rows to a parquet directory as a catch-up query.
    Returns the StreamingQuery."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append")
    )
    return start_catchup(writer, checkpoint_dir)
