"""SparkSession builder with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

__all__ = ["build_session"]

# rows per Arrow batch entering the Python workers — the engine's memory
# discipline (the analog of the reference's one-decoded-page-resident
# rule, tesseract-recognize.cc:540-548,790): a media-heavy batch expands
# ~100-200× in the OCR stage, so batches are kept small
ARROW_BATCH_ROWS = 256


def build_session(
    app_name: str = "tesseract-recognize-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session with AQE + Arrow tuned for the extraction workload
    (Arrow batches of ``ARROW_BATCH_ROWS`` rows).

    ``master`` is set only when passed or when the launcher set none: a
    builder master would override spark-submit's ``--master``.
    """
    # shuffle/spill files on tmpfs when available — /tmp sits on a virtio
    # disk in this sandbox and makes shuffle-heavy stages I/O-bound and
    # noisy (on a real cluster this is local NVMe / EBS, configured by the
    # cluster manager)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow shuffled-hash join where its size guards hold (guide §3.1/§9):
        # the dedup band self-joins and verify joins are small-per-partition
        # hash joins, not sorts; the static pick keeps canBuildLocalHashMap's
        # size bound and AQE's rewrite is capped per partition, so the choice
        # degrades back to sort-merge at scale instead of OOMing
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "128m"
        )
        # 64 MB broadcast budget (guide §3.1: "a few hundred MB is usually
        # fine"): lets AQE broadcast runtime-small sides — the dedup verify's
        # candidate-bounded shingle sets, ANN query blocks — so heavy probe
        # sides never reshuffle; sides that outgrow it at scale fall back to
        # shuffled joins by the same runtime sizing
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # skip per-DataFrame-call Python stack capture + the JVM origin
        # round trip (PySpark's own "reduce performance slowdown" knob):
        # the extraction plan is SQL text now (~60 Py4J round trips per
        # extract()), but the dedup and ANN operators still build theirs
        # from DataFrame/Column calls (~200 round trips per
        # minhash_lsh_pairs), each of which would add a stack capture and
        # another round trip
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", local_dir or "/tmp")
        # throughput-oriented GC for the batch workload: G1's adaptive
        # sizing produced multi-10s pause outliers on the window-heavy
        # stage in local mode
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if master or not _launcher_master():
        b = b.master(master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]"))
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _launcher_master() -> bool:
    """Whether the JVM behind this process already carries ``spark.master``.
    Under spark-submit the JVM is up before Python starts and hands over
    its gateway port; attaching to it makes ``SparkConf()`` read the
    submitted settings instead of an empty Python-side dict."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        SparkContext._ensure_initialized()
    return SparkConf().contains("spark.master")
