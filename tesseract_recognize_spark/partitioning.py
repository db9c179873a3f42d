"""Scale-adaptive input spreading for per-row-heavy stages.

The engine's expensive per-row stages (md5 shingle hashing, Python codec
decode, regex token stats) run wherever the SCAN stage runs. Spark sizes
scan parallelism from file bytes (`spark.sql.files.maxPartitionBytes`),
and a parquet file is only splittable at row-group boundaries — so a
corpus delivered as a few small single-row-group files executes its
entire scan stage, and every narrow operator fused into it, on ONE task
while the rest of the cluster idles (guide §2.5 "input skew": one
unsplittable input). At production scale the same table arrives as
thousands of row groups and the scan already yields ≥ cluster-parallelism
tasks, where an extra exchange of the corpus would be pure waste.

``spread_small_scan`` resolves the tension adaptively: it repartitions
ONLY when the physical scan yields fewer partitions than the session's
default parallelism, and is a no-op (no exchange in the plan at all)
otherwise. The partition count comes from the compiled physical plan
(``df.rdd.getNumPartitions()``), so the decision tracks file layout and
config rather than hard-coding either scale. That is planning only, with
no job, for a plan WITHOUT an exchange (a scan and narrow operators);
on a shuffled plan AQE runs the shuffle stage to learn the count — so
call it once, on the operator's input, never on an already-spread frame.

Used by operators whose heavy work would otherwise fuse into the scan:
minhash/ngram shingling, simhash token hashing, tf-idf tokenization, and
the multimodal synthesize+decode queries. Operators whose first step is
already an exchange (sessionize, window fills, group-bys on the scan
output) gain nothing — their scan stage only decodes parquet — and are
left alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["spread_small_scan"]


def spread_small_scan(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its
    current plan yields fewer partitions; identity otherwise.

    ``cols``: hash-partition on these columns (deterministic placement —
    guide §2.5 warns against non-deterministic round-robin keys under
    retries); with no cols, round-robin. Results are partitioning-
    invariant for every caller (hash/int aggregates, per-row maps), which
    the partition-count sweeps in tests pin.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # non-queryable plan (e.g. streaming) — leave as-is
        return df
    if n >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
