"""The production job surface: ``spark-submit --py-files`` on
scripts/run_extract.py must run on the same session config the tests and
benchmarks validate, commit oracle-exact spans and refuse to overwrite
committed output without --resume."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.generator import (
    gen_documents,
    write_documents_parquet,
)
from tesseract_recognize_spark.oracle.oracle import expected_spans
from tesseract_recognize_spark.sources.tableio import ParquetTableIO

pytestmark = pytest.mark.spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_properties(event_dir: str) -> dict:
    (log,) = glob.glob(os.path.join(event_dir, "*"))
    with open(log) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerEnvironmentUpdate":
                return dict(ev["Spark Properties"])
    raise AssertionError("no SparkListenerEnvironmentUpdate in event log")


def test_spark_submit_job_runs_on_session_config(spark, tmp_path):
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit is not on PATH")
    docs = gen_documents(12, seed=5)
    inp = str(tmp_path / "docs.parquet")
    write_documents_parquet(docs, inp)
    engine = shutil.make_archive(
        str(tmp_path / "engine"), "zip", REPO, "tesseract_recognize_spark"
    )
    out = str(tmp_path / "out")
    events = tmp_path / "events"
    events.mkdir()
    cmd = [
        submit, "--master", "local[2]", "--py-files", engine,
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{events}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        os.path.join(REPO, "scripts", "run_extract.py"),
        "--input", inp, "--output", out, "--n-groups", "2",
    ]
    env = dict(
        os.environ, PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    # the job must import the engine from --py-files, not from the repo
    env.pop("PYTHONPATH", None)

    def run():
        return subprocess.run(
            cmd, cwd=str(tmp_path), env=env, capture_output=True,
            text=True, timeout=900,
        )

    first = run()
    assert first.returncode == 0, first.stderr[-4000:]
    assert json.loads(first.stdout.strip().splitlines()[-1])["docs"] == 12

    cfg = ExtractConfig(text_levels=("word",))  # the job's CLI defaults
    want = sorted(
        (d["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for d in docs
        for r in expected_spans(d["doc_id"], d["spans"], cfg)
    )
    got = sorted(
        (r["doc_id"], r["order"], r["kind"], r["text"], r["media_ref"])
        for r in ParquetTableIO(out).read_all(spark).collect()
    )
    assert got == want

    props = _spark_properties(str(events))
    assert props["spark.sql.execution.arrow.maxRecordsPerBatch"] == "256"
    assert props["spark.master"] == "local[2]"

    second = run()
    assert second.returncode == 2, second.stderr[-4000:]
    # spark-submit merges the Python driver's stderr into its stdout
    assert "pass --resume" in second.stdout
