"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

* the checkers: a corrupted copy of a correct output (two spans' order
  swapped; one component_id changed) is counted in ``failure_rate``;
* a tiny-input smoke run of every workload, untraced and traced, whose
  printed metric names must match BENCHMARK.json (``-m spark``; a few
  minutes, it starts a JVM per run);
* without the engine package beside it the benchmark exits non-zero
  and prints no result.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run, workloads  # noqa: E402
from perfbench.workloads import JobResult  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    """Workloads shrunk to a few documents, with their own data cache."""
    monkeypatch.setattr(workloads.ExtractCheckpointed, "n_docs", 12)
    monkeypatch.setattr(workloads.DedupNearDup, "n_base", 40)
    monkeypatch.setattr(run, "WORK_ROOT", str(tmp_path / "_work"))
    return tmp_path


def _bench(wl, tmp_path):
    args = run.parse_args(["--workload", wl.name, "--seed", "7"])
    os.makedirs(tmp_path / "run", exist_ok=True)
    return run.Bench(args, str(tmp_path / "run"), wl)


def _write_extraction_output(wl, out_dir: str, expected: dict) -> None:
    """Oracle rows in the committed-table layout: one group + manifest."""
    group = os.path.join(out_dir, "group=0")
    os.makedirs(group)
    rows = [
        (d, kind, text, ref, order)
        for d, seq in expected.items()
        for kind, text, ref, order in seq
    ]
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(cols[0], pa.string()),
                "kind": pa.array(cols[1], pa.string()),
                "text": pa.array(cols[2], pa.string()),
                "media_ref": pa.array(cols[3], pa.string()),
                "order": pa.array(cols[4], pa.int32()),
            }
        ),
        os.path.join(group, "part-0.parquet"),
    )
    with open(os.path.join(out_dir, "_manifest.jsonl"), "w") as f:
        f.write(json.dumps({
            "run_id": "t", "group": 0, "doc_count": len(expected),
            "span_count": len(rows), "wall_ms": 0, "status": "committed",
            "committed_at": 0.0,
        }) + "\n")


def test_extraction_checker_counts_swapped_order(tiny):
    wl = workloads.ExtractCheckpointed(7, str(tiny / "data"))
    wl.prepare()
    bench = _bench(wl, tiny)
    good = str(tiny / "good")
    expected = dict(wl.expected)
    # the oracle already lacks the injected bad pages' rows, so the
    # quarantine count matches the injected count
    _write_extraction_output(wl, good, expected)
    attempted, failed, problems, _ = bench.check([JobResult(good, 12)])
    assert (attempted, failed, problems) == (12, 0, [])

    doc = next(d for d, seq in expected.items() if len(seq) >= 2)
    seq = list(expected[doc])
    (k0, t0, r0, o0), (k1, t1, r1, o1) = seq[0], seq[1]
    seq[0], seq[1] = (k0, t0, r0, o1), (k1, t1, r1, o0)
    bad = str(tiny / "bad")
    _write_extraction_output(wl, bad, {**expected, doc: seq})
    attempted, failed, problems, _ = bench.check([JobResult(bad, 12)])
    assert (attempted, failed) == (12, 1)
    assert failed / attempted == pytest.approx(1 / 12)
    assert problems


def _write_dedup_output(out_dir: str, comp: dict, pairs: set) -> None:
    os.makedirs(os.path.join(out_dir, "components"))
    os.makedirs(os.path.join(out_dir, "minhash"))
    ids = sorted(comp)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "component_id": pa.array([comp[d][0] for d in ids], pa.int64()),
                "component_size": pa.array(
                    [comp[d][1] for d in ids], pa.int64()
                ),
                "is_keeper": pa.array([comp[d][2] for d in ids], pa.bool_()),
            }
        ),
        os.path.join(out_dir, "components", "part-0.parquet"),
    )
    a, b = zip(*sorted(pairs)) if pairs else ((), ())
    pq.write_table(
        pa.table(
            {"doc_a": pa.array(a, pa.int64()), "doc_b": pa.array(b, pa.int64())}
        ),
        os.path.join(out_dir, "minhash", "part-0.parquet"),
    )


def test_dedup_checker_counts_changed_component(tiny):
    wl = workloads.DedupNearDup(7, str(tiny / "data"))
    wl.prepare()
    n = len(wl.expected)
    bench = _bench(wl, tiny)
    good = str(tiny / "good")
    _write_dedup_output(good, wl.expected, wl.expected_pairs)
    attempted, failed, problems, _ = bench.check([JobResult(good, n)])
    assert (attempted, failed, problems) == (n, 0, [])

    doc = min(wl.expected)
    cid, size, keeper = wl.expected[doc]
    bad = str(tiny / "bad")
    _write_dedup_output(
        bad, {**wl.expected, doc: (cid + 1, size, keeper)}, wl.expected_pairs
    )
    attempted, failed, _, _ = bench.check([JobResult(bad, n)])
    assert (attempted, failed) == (n, 1)


def test_dedup_inputs_plant_every_cluster_kind(tiny, monkeypatch):
    monkeypatch.setattr(workloads.DedupNearDup, "n_base", 300)
    wl = workloads.DedupNearDup(7, str(tiny / "data"))
    wl.prepare()
    sizes = [size for _, size, _ in wl.expected.values()]
    texts = [t for _, t in wl.documents()]
    assert max(sizes) > 1  # near-dup / exact clusters verified
    assert len(texts) - len(set(texts)) > 0  # exact copies
    # the templated cluster outgrows the bucket cap and is dropped from
    # ngram verification, but not from the uncapped minhash candidates
    assert len(wl.expected_pairs) > 100 * 99 // 2


def _main(argv) -> tuple[int, list[str]]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        code = run.main(argv)
    return code, buf.getvalue().splitlines()


@pytest.mark.spark
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", [w["name"] for w in SPEC["workloads"]])
def test_smoke_metric_names_match_spec(tiny, name, trace):
    code, lines = _main(
        ["--workload", name, "--seed", "7", "--seconds", "1",
         "--trace", str(trace)]
    )
    assert code == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if trace and name == "extract_checkpointed":
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["operators.ocr.pages_quarantined"] == 1  # the injected page
        assert m["plans.checkpoint.groups_skipped"] == 1  # resumed past 0


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("_work", "__pycache__"),
    )
    p = subprocess.run(
        SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
