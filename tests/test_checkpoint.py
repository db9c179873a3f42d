"""Checkpoint/resume: kill mid-run, resume, result equals a single run;
one OCR task per core and lineage counted by the write."""

import re
import time

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.generator import (
    gen_documents,
    write_documents_parquet,
)
from tesseract_recognize_spark.fixtures.raster import render_raster
from tesseract_recognize_spark.operators.ocr import ocr_expand
from tesseract_recognize_spark.oracle.oracle import expected_spans
from tesseract_recognize_spark.plans.checkpoint import run_checkpointed
from tesseract_recognize_spark.sources.tableio import (
    LineageEntry,
    ParquetTableIO,
)

pytestmark = pytest.mark.spark

CFG = ExtractConfig(media_partitions=2)


def _canon(df):
    return sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in df.collect()
    )


def test_kill_resume_equals_single_run(spark, tmp_path):
    docs = gen_documents(16, seed=11)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)

    # reference: uninterrupted run
    io_ref = ParquetTableIO(str(tmp_path / "out_ref"))
    entries = run_checkpointed(ddf, io_ref, n_groups=4, cfg=CFG)
    assert [e.group for e in entries] == [0, 1, 2, 3]
    assert all(e.status == "committed" for e in entries)

    # crashed run: dies after committing group 1
    io_cp = ParquetTableIO(str(tmp_path / "out_cp"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_checkpointed(ddf, io_cp, n_groups=4, cfg=CFG, fail_after_group=1)
    assert sorted(io_cp.committed_groups()) == [0, 1]

    # resume: only the pending groups run; lineage fills in
    resumed = run_checkpointed(ddf, io_cp, n_groups=4, cfg=CFG)
    assert [e.group for e in resumed] == [2, 3]
    assert _canon(io_cp.read_all(spark)) == _canon(io_ref.read_all(spark))


def test_lineage_metrics_populated(spark, tmp_path):
    docs = gen_documents(8, seed=3)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    io = ParquetTableIO(str(tmp_path / "out"))
    entries = run_checkpointed(
        spark.read.parquet(p), io, n_groups=2, cfg=CFG
    )
    assert sum(e.doc_count for e in entries) == 8
    assert all(e.span_count > 0 and e.wall_ms >= 0 for e in entries)
    assert len({e.run_id for e in entries}) == 1


class _SpyTableIO:
    """Captures the frame of each group instead of writing it."""

    def __init__(self) -> None:
        self.frames = {}

    def committed_groups(self):
        return {}

    def commit_group(self, df, group, run_id, t0):
        self.frames[group] = df
        return LineageEntry(run_id, group, 0, 0, 0, "committed", t0)


def _salting_counts(ddf, cfg, n_groups):
    """Per group, the n of the OCR stage's hashpartitioning(doc_id,
    offset, n) exchange in the frame handed to commit_group."""
    io = _SpyTableIO()
    run_checkpointed(ddf, io, n_groups=n_groups, cfg=cfg)
    out = {}
    for g, df in io.frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        (n,) = set(re.findall(
            r"hashpartitioning\(doc_id#\d+, offset#\d+, (\d+)\)", plan
        ))
        out[g] = int(n)
    return out


def test_ocr_stage_runs_one_task_per_core(spark, tmp_path):
    docs = gen_documents(16, seed=11)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)
    cores = spark.sparkContext.defaultParallelism
    assert cores > 1

    # the production width 4 x cores is a cap: every group runs one task
    # per core
    wide = _salting_counts(ddf, ExtractConfig(media_partitions=4 * cores), 2)
    assert wide == {0: cores, 1: cores}
    # a cap below the core count wins
    narrow = _salting_counts(ddf, ExtractConfig(media_partitions=cores - 1), 2)
    assert narrow == {0: cores - 1, 1: cores - 1}


def test_lineage_matches_committed_rows_after_resume(spark, tmp_path):
    docs = gen_documents(16, seed=11)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)
    bad = next(
        s["media_ref"] for d in docs for s in d["spans"]
        if s["kind"] == "media"
    )

    def resolver(ref):
        # an all-blank raster has no decodable orientation: quarantined
        if ref == bad:
            return np.zeros((16, 16), np.uint8)
        return render_raster(ref)

    io = ParquetTableIO(str(tmp_path / "out"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_checkpointed(
            ddf, io, n_groups=3, cfg=CFG, resolver=resolver,
            fail_after_group=0,
        )
    run_checkpointed(ddf, io, n_groups=3, cfg=CFG, resolver=resolver)
    lineage = io.committed_groups()
    assert sorted(lineage) == [0, 1, 2]
    for g, e in lineage.items():
        written = spark.read.parquet(io.group_path(g))
        assert e.doc_count == written.select("doc_id").distinct().count()
        assert e.span_count == written.count()
    refs = {r["media_ref"] for r in io.read_all(spark).collect()}
    assert bad not in refs


def test_resolver_io_error_quarantines_one_page(spark, tmp_path):
    docs = gen_documents(16, seed=11)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)
    bad_doc, bad_offset, bad = next(
        (d["doc_id"], s["offset"], s["media_ref"])
        for d in docs for s in d["spans"] if s["kind"] == "media"
    )

    def resolver(ref):
        if ref == bad:
            raise OSError(f"cannot read {ref}")
        return render_raster(ref)

    io = ParquetTableIO(str(tmp_path / "out"))
    entries = run_checkpointed(ddf, io, n_groups=2, cfg=CFG, resolver=resolver)
    assert [e.status for e in entries] == ["committed", "committed"]
    # the OCR stage turns the error into the page's quarantine row
    page = spark.createDataFrame(
        [(bad_doc, bad_offset, bad, 1, 1)],
        "doc_id string, offset int, media_ref string, media_idx int, "
        "n_media int",
    )
    errors = [
        r["error"] for r in ocr_expand(page, CFG, resolver=resolver).collect()
    ]
    assert errors == [f"OSError: cannot read {bad}"]
    # every other span equals the oracle, renumbered around the lost page
    want = []
    for d in docs:
        kept = [
            r for r in expected_spans(d["doc_id"], d["spans"], CFG)
            if r["media_ref"] != bad
        ]
        want += [
            (r["doc_id"], i, r["kind"], r["text"], r["media_ref"],
             r["region_id"], r["line_id"])
            for i, r in enumerate(kept)
        ]
    got = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"],
         r["region_id"], r["line_id"])
        for r in io.read_all(spark).collect()
    )
    assert got == sorted(want)


def test_resolver_transient_error_fails_then_resumes(spark, tmp_path):
    """A transient resolver error fails the task instead of quarantining the
    page: no group holding the page commits, and a resume with a working
    resolver returns every span, that page included."""
    docs = gen_documents(16, seed=11)
    p = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, p)
    ddf = spark.read.parquet(p)
    bad_doc, bad = next(
        (d["doc_id"], s["media_ref"])
        for d in docs for s in d["spans"] if s["kind"] == "media"
    )

    def flaky(ref):
        if ref == bad:
            raise TimeoutError(f"timed out reading {ref}")
        return render_raster(ref)

    io = ParquetTableIO(str(tmp_path / "out"))
    with pytest.raises(Exception, match="TimeoutError"):
        run_checkpointed(ddf, io, n_groups=2, cfg=CFG, resolver=flaky)
    for g in io.committed_groups():
        written = spark.read.parquet(io.group_path(g))
        assert written.filter(F.col("doc_id") == bad_doc).count() == 0
    run_checkpointed(ddf, io, n_groups=2, cfg=CFG, resolver=render_raster)
    want = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for d in docs for r in expected_spans(d["doc_id"], d["spans"], CFG)
    )
    assert _canon(io.read_all(spark)) == want


def test_commit_group_runs_no_job_after_write(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_group = "test:commit_group"
    after_write = []
    write = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        write(self, *args, **kwargs)
        after_write.append(set(tracker.getJobIdsForGroup(job_group)))

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    spans = spark.createDataFrame(
        [("a", 0), ("a", 1), ("b", 0)], "doc_id string, order int"
    )
    io = ParquetTableIO(str(tmp_path / "out"))
    sc.setJobGroup(job_group, "commit_group")
    try:
        entry = io.commit_group(spans, 0, "r", time.time())
        jobs = set(tracker.getJobIdsForGroup(job_group))
        empty = io.commit_group(spans.where(F.lit(False)), 1, "r", time.time())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert after_write[0] and jobs == after_write[0]
    assert (entry.doc_count, entry.span_count) == (2, 3)
    assert (empty.doc_count, empty.span_count) == (0, 0)
