"""Watermarked event-time windowed aggregation — the late-data story.

A 100-TB ingest stream carries event timestamps that arrive out of
order; per-window rollups (events/min by type, value sums) cannot hold
state forever waiting for stragglers. This operator is the standard
Structured Streaming shape for that: ``withWatermark`` bounds how late
an event may arrive (state for windows older than max(event_ts) − delay
is finalized and dropped), and a tumbling ``F.window`` group produces
one row per (window, event_type) in append mode — rows emit exactly
once, when their window closes under the watermark.

Scale shape: the aggregation state is partitioned by the group key
(hash(window, event_type)) across executors like any shuffle, and the
watermark is what keeps it O(open windows), not O(stream length) — the
difference between a rollup that survives a trillion events and one
that OOMs. Late events beyond the delay are dropped by contract (the
count is then a lower bound, the price of bounded state; route them to
a dead-letter batch job if exactness matters).

Batch parity: `windowed_event_counts` works on a BATCH DataFrame too
(watermark is a no-op there), which is how the DuckDB oracle gates the
aggregation semantics in the driver (`events_window_rollup`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from tesseract_recognize_spark.streaming import file_source, start_parquet_sink

__all__ = [
    "windowed_event_counts",
    "stream_event_rollup",
    "stream_sessionize",
    "EVENTS_SCHEMA",
]

# the streaming starters' event-time settings: how late an event may
# arrive, the rollup's tumbling window and the session gap
WATERMARK = "10 minutes"
ROLLUP_WINDOW = "5 minutes"
SESSION_GAP = "30 minutes"

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_counts(
    events: DataFrame,
    window: str = ROLLUP_WINDOW,
    watermark: str = WATERMARK,
    value_as_cents: bool = False,
) -> DataFrame:
    """(window_start, window_end, event_type, n_events, sum_value).

    On a streaming DataFrame the watermark bounds aggregation state and
    gates append-mode emission; on a batch DataFrame the same code is a
    plain windowed group-by (oracle-checkable).

    ``value_as_cents`` sums round(value·100) as int64 instead of the
    double sum — double addition is order-dependent across engines
    (partial aggregation order is nondeterministic), so the bit-exact
    oracle gate uses the integer form; the 2-decimal event values make
    it lossless.
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    sum_col = (
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .alias("sum_value_cents")
        if value_as_cents
        else F.round(F.sum("value"), 6).alias("sum_value")
    )
    return (
        events.groupBy(
            F.window("ts", window).alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), sum_col)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value_cents" if value_as_cents else "sum_value",
        )
    )


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Streaming gap sessionization via ``F.session_window``: per-user
    sessions whose windows merge while events arrive within
    ``SESSION_GAP``, and finalize (append-mode emit, state dropped) once
    the watermark passes a session's end. This is the streaming twin of
    the batch ``operators.temporal.sessionize`` — the engine merges session
    state incrementally instead of sorting history, so state is O(open
    sessions), not O(stream length).

    Boundary note vs the batch operator: ``session_window`` closes a
    session when the next gap is >= the gap (window [ts, ts+gap) fails
    to overlap), while the batch op splits strictly > the gap; an
    exactly-gap-spaced event pair lands in one batch session but two
    streaming sessions. Returns the StreamingQuery."""
    rollup = (
        file_source(spark, EVENTS_SCHEMA, input_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.round(F.col("value") * 100).cast("bigint")
            ).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value_cents",
        )
    )
    return start_parquet_sink(rollup, output_dir, checkpoint_dir)


def stream_event_rollup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start (or resume) the watermarked rollup over a growing directory
    of events parquet files. Append mode: a (window, type) row lands in
    the sink exactly once, after the watermark passes its window end —
    events later than ``WATERMARK`` past the max seen timestamp are
    dropped by the engine. Returns the StreamingQuery."""
    rollup = windowed_event_counts(
        file_source(spark, EVENTS_SCHEMA, input_dir)
    )
    return start_parquet_sink(rollup, output_dir, checkpoint_dir)
