"""Checkpointed extraction runner: partition-group commits + resume.

North-rule mandate: "resumable from checkpoint with per-partition lineage +
metrics". Documents are assigned to ``n_groups`` deterministic hash buckets
(xxhash64 of doc_id — partition-count independent); each group runs the
extraction plan and commits atomically through the TableIO seam (one
Iceberg snapshot / one parquet dir + manifest line per group). Resume skips
committed groups — the anti-join of pending work against lineage.

The group is the CHECKPOINT granularity, not the parallelism: inside a
group the full distributed plan runs. At 10^12 docs you'd size n_groups so
one group ≈ an hour of cluster work; locally tests use 4-8.

Each group's OCR stage runs one task per core: ``cfg.media_partitions``
is only a cap. Every Python task pays a fixed cost (the worker re-scans
its import caches and collects garbage per task) that more tasks only
multiply. On a 4-core host one task per core beat the 4 x cores salting
width at groups of ~100 to 5,200 media pages and tied it at 10,500; one
task per 256-page Arrow batch was faster at no size measured (perfbench
and ``scripts/group_sizing_pairs.py``).

Each group also pays the driver to build, analyse and optimize its plan,
and AQE re-optimizes it after each stage. The post-passes run per page
inside the OCR stage, and the plan is a few SQL statements around it
(plans/pipeline.py). Measured on a 40-doc ``extract()``, 4 cores, warm:
59-76 Py4J round trips and 0.14-0.22 s to build, against 984 and
0.24-0.37 s when the plan was built from Column calls. Each OCR task also
ends by dropping the worker's zipimporters (``ocr.release_worker_caches``);
without that, the next task's ``importlib.invalidate_caches()`` spent
190-260 ms re-reading the pyspark archives.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import replace

from pyspark.sql import DataFrame, functions as F

from tesseract_recognize_spark.config import DEFAULT_CONFIG, ExtractConfig
from tesseract_recognize_spark.plans.pipeline import SINK_SORT_KEYS, extract
from tesseract_recognize_spark.sources.tableio import LineageEntry

__all__ = ["run_checkpointed", "group_col"]


def group_col(n_groups: int):
    """Deterministic doc_id → group bucket (stable across partitionings)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_groups)).cast("int")


def run_checkpointed(
    docs_df: DataFrame,
    table_io,
    n_groups: int = 8,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    resolver=None,
    fail_after_group: int | None = None,
) -> list[LineageEntry]:
    """Run extraction group-by-group with commit-per-group; resume by
    skipping groups already in the lineage. ``fail_after_group`` simulates
    a mid-run crash (kill/resume tests). Each call commits under a fresh
    random run id."""
    run_id = uuid.uuid4().hex[:12]
    done = table_io.committed_groups()
    entries: list[LineageEntry] = []
    staged = docs_df.withColumn("_grp", group_col(n_groups))
    if cfg.media_partitions:
        cores = docs_df.sparkSession.sparkContext.defaultParallelism
        cfg = replace(cfg, media_partitions=min(cfg.media_partitions, cores))
    for g in range(n_groups):
        if g in done:
            continue
        t0 = time.time()
        group_docs = staged.filter(F.col("_grp") == g).drop("_grp")
        out = extract(group_docs, cfg, resolver=resolver)
        out = out.sortWithinPartitions(*SINK_SORT_KEYS)
        entries.append(table_io.commit_group(out, g, run_id, t0))
        if fail_after_group is not None and g >= fail_after_group:
            raise RuntimeError(f"simulated crash after group {g}")
    return entries
