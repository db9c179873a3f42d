"""TableIO seam: snapshot-committed table writes with a manifest.

The north rule mandates Iceberg snapshot-based checkpointing with
per-partition lineage. No Iceberg runtime jar ships in this sandbox
(SURVEY.md §7 environment facts), so the seam has two implementations with
identical commit/resume semantics:

  * ``IcebergTableIO`` — used when an Iceberg catalog is configured on the
    session: each partition-group commit is a dynamic partition overwrite
    (one Iceberg snapshot per group, idempotent under replay), and the
    lineage rows land in a second Iceberg table.
  * ``ParquetTableIO`` — local fallback: each group is a parquet subdir
    committed by an atomic manifest-line append; resume reads the manifest.
    Its lineage counts are observed metrics of the write job.

Commit unit = partition group (a deterministic hash bucket of doc_id), so
"resume" = anti-join of pending groups against committed ones — the same
contract either way.

``commit_group`` takes the frame ``plans.pipeline.extract`` returns: the
FINAL_COLUMNS, with each doc's spans numbered by ``order`` from 0. The
parquet sink relies on that to count docs as rows with ``order = 0``.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

__all__ = ["LineageEntry", "ParquetTableIO", "IcebergTableIO", "get_table_io"]


@dataclass
class LineageEntry:
    run_id: str
    group: int
    doc_count: int
    span_count: int
    wall_ms: int
    status: str
    committed_at: float


class ParquetTableIO:
    """Parquet-dir-per-group + JSONL manifest. The manifest append is the
    commit point (write-temp-then-rename is unnecessary for a single-writer
    job driver; a crash mid-write leaves an uncommitted dir that resume
    simply overwrites)."""

    def __init__(self, root: str) -> None:
        # no makedirs here: constructing a handle must not touch the
        # filesystem (routing tests build throwaway handles); the dir is
        # created at the first write below
        self.root = root

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.jsonl")

    def committed_groups(self) -> dict[int, LineageEntry]:
        out: dict[int, LineageEntry] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                for ln in f:
                    e = LineageEntry(**json.loads(ln))
                    if e.status == "committed":
                        out[e.group] = e
        return out

    def group_path(self, group: int) -> str:
        return os.path.join(self.root, f"group={group}")

    def commit_group(
        self, df: DataFrame, group: int, run_id: str, t0: float
    ) -> LineageEntry:
        path = self.group_path(group)
        # lineage counted by the write job itself, not by re-reading the
        # group: every doc's spans are numbered from 0, so order = 0 counts
        # docs exactly (observed metrics forbid DISTINCT)
        counts = Observation()
        df.observe(
            counts,
            F.count(F.lit(1)).alias("spans"),
            F.count_if(F.col("order") == 0).alias("docs"),
        ).write.mode("overwrite").parquet(path)
        written = counts.get
        entry = LineageEntry(
            run_id=run_id,
            group=group,
            doc_count=written["docs"],
            span_count=written["spans"],
            wall_ms=int((time.time() - t0) * 1000),
            status="committed",
            committed_at=time.time(),
        )
        os.makedirs(self.root, exist_ok=True)
        with open(self.manifest_path, "a") as f:
            f.write(json.dumps(asdict(entry)) + "\n")
            f.flush()
            os.fsync(f.fileno())
        return entry

    def read_all(self, spark: SparkSession) -> DataFrame:
        groups = sorted(self.committed_groups())
        paths = [self.group_path(g) for g in groups]
        return spark.read.parquet(*paths)


class IcebergTableIO:
    """Iceberg-backed implementation (same contract). Requires an Iceberg
    catalog on the session. The data table is partitioned by a ``_group``
    column and each group commit is a dynamic partition OVERWRITE (one
    Iceberg snapshot) — idempotent under replay, so a crash between the
    data commit and the lineage commit cannot duplicate rows on resume
    (re-running the group rewrites the same partition). Lineage rows land
    in ``table + '_lineage'``; duplicate lineage entries for a re-run group
    collapse in ``committed_groups`` (dict keyed by group)."""

    GROUP_COL = "_group"

    def __init__(self, table: str) -> None:
        self.table = table

    def committed_groups(self) -> dict[int, LineageEntry]:
        spark = SparkSession.getActiveSession()
        if not spark.catalog.tableExists(self.table + "_lineage"):
            return {}  # first run: nothing committed yet
        rows = spark.read.table(self.table + "_lineage").collect()
        return {
            r["group"]: LineageEntry(**r.asDict())
            for r in rows
            if r["status"] == "committed"
        }

    def commit_group(
        self, df: DataFrame, group: int, run_id: str, t0: float
    ) -> LineageEntry:
        spark = df.sparkSession
        data = df.withColumn(self.GROUP_COL, F.lit(group))
        if spark.catalog.tableExists(self.table):
            data.writeTo(self.table).overwritePartitions()
        else:
            data.writeTo(self.table).partitionedBy(
                F.col(self.GROUP_COL)
            ).create()
        # lineage counts come from the COMMITTED snapshot (partition-pruned
        # scan of what was just written) — never from re-executing the
        # uncached extraction plan, which would run it twice more
        committed = spark.read.table(self.table).where(
            F.col(self.GROUP_COL) == group
        )
        doc_count = committed.select("doc_id").distinct().count()
        span_count = committed.count()
        entry = LineageEntry(
            run_id=run_id,
            group=group,
            doc_count=doc_count,
            span_count=span_count,
            wall_ms=int((time.time() - t0) * 1000),
            status="committed",
            committed_at=time.time(),
        )
        lineage = spark.createDataFrame([asdict(entry)])
        if spark.catalog.tableExists(self.table + "_lineage"):
            lineage.writeTo(self.table + "_lineage").append()
        else:
            lineage.writeTo(self.table + "_lineage").create()
        return entry

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.table).drop(self.GROUP_COL)


# filename extensions that make a dotted target a FILE path, not a
# catalog identifier ('out.parquet' is a parquet file, 'db.table' is an
# Iceberg table under the session default catalog)
_FILE_EXTENSIONS = frozenset(
    "parquet db sqlite json jsonl csv tsv orc avro txt log zip".split()
)


def get_table_io(target: str):
    """Route by target shape, with two UNAMBIGUOUS spellings that always
    win over the heuristic (the extension list below is inherently
    incomplete — these are the escape hatches):

      * ``iceberg:db.table`` — explicit Iceberg, any identifier;
      * ``./out.data`` / ``file:out.data`` — explicit path: a leading
        ``./`` (or ``file:`` prefix) forces ParquetTableIO for dotted
        directory names the heuristic would otherwise send to a possibly
        unconfigured catalog.

    Heuristic for bare targets: a catalog identifier —
    'catalog.db.table' (two dots) or 'db.table' (one dot, resolved
    against the session default catalog), every segment a valid
    identifier, no path separator, last segment NOT a known file
    extension → IcebergTableIO; anything else, including filenames like
    'out.parquet'/'results.db' or a bare directory name, →
    ParquetTableIO."""
    if target.startswith("iceberg:"):
        return IcebergTableIO(target[len("iceberg:"):])
    if target.startswith("file:"):
        return ParquetTableIO(target[len("file:"):])
    if target.startswith("./") or target.startswith(".." + os.sep):
        return ParquetTableIO(target)
    parts = target.split(".")
    is_ident = all(
        p and p.replace("_", "a").replace("-", "a").isalnum() for p in parts
    )
    if (
        len(parts) in (2, 3)
        and is_ident
        and os.sep not in target
        and parts[-1].lower() not in _FILE_EXTENSIONS
    ):
        return IcebergTableIO(target)
    return ParquetTableIO(target)
