"""Seeded benchmark of the extraction engine: one workload per invocation.

    python3 perfbench/run.py --workload extract_checkpointed --seed 1 \
        --seconds 5 --trace 0

Workloads (see perfbench/workloads.py): ``extract_checkpointed`` and
``dedup_near_dup``. A run

  1. builds the workload's inputs and oracle from ``--seed`` (untimed);
  2. sets up a session three times in this process — ``build_session``
     plus a small job that starts the Python worker pool — and reports
     the median as ``setup_s`` (the first sample also launches the JVM);
  3. runs one untimed warm-up job on a small fixed slice of the
     workload — the first job in a fresh JVM, which pays the JIT,
     code-generation and Python-import costs once (its wall time is
     printed as ``cold_job_s`` on the run line);
  4. runs jobs back to back, one at a time (a closed loop with one
     client), at ``local[nproc]``, until ``--seconds`` have passed — at
     least one job — and reports ``docs_per_s`` over them;
  5. checks every job's committed output against the oracle.

With ``--trace 1`` the JVM is then stopped and the same loop runs again
in a fresh JVM with Spark's event log on, and the per-layer metrics
(perfbench/layers.py) are printed instead of the end-to-end ones.

stdout: a ``{"host": ...}`` line with host facts, a ``{"run": ...}``
line with per-run details, per-layer table lines when tracing, and last
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
Exit status is non-zero, with no result line, when the run cannot be made.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")
SETUP_SAMPLES = 3
PACKAGE = "tesseract_recognize_spark"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_scratch(work: str) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    at ``work`` (the run writes nothing outside the checkout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["SPARK_GRAFT_LOCAL_DIR"], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )


def host_facts(args) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        sha = None
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg_at_start": load,
        "git_sha": sha,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def source_digest() -> str:
    """Digest of every Python source the inputs and oracles depend on
    (the engine package, ``__spark_entry__``, this benchmark)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for root, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "_work")
            paths += [os.path.join(root, f) for f in sorted(files)
                      if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def package_zip(work: str) -> str:
    """Zip the engine package, to ship to the Python workers the way the
    production job does (``--py-files`` / ``addPyFile``)."""
    path = os.path.join(work, "engine.zip")
    with zipfile.ZipFile(path, "w") as z:
        for root, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    z.write(full, os.path.relpath(full, ROOT))
    return path


def _import_engine(_) -> str:
    """Body of the set-up job: import the engine's OCR stage in a Python
    worker (shipped there by addPyFile) and name the package imported."""
    return __import__(PACKAGE + ".operators.ocr").__name__


class Bench:
    """Session lifecycle and the closed loop for one workload."""

    def __init__(self, args, work: str, wl) -> None:
        self.args = args
        self.work = work
        self.wl = wl
        self.nproc = os.cpu_count() or 1
        self.zip = package_zip(work)
        self.spark = None
        self.jvm_proc = None

    # -- session -----------------------------------------------------------
    def start_session(self, extra: dict | None = None) -> tuple[float, float]:
        """build_session + a small job that starts the Python worker pool
        on every core and imports the engine there; returns the wall time
        of the build_session call and of the whole set-up."""
        from tesseract_recognize_spark.session import build_session

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        conf.update(extra or {})
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=max(self.nproc, 8),
            extra_conf=conf,
        )
        build_s = time.perf_counter() - t0
        sc = self.spark.sparkContext
        sc.addPyFile(self.zip)
        mods = sc.parallelize(range(self.nproc), self.nproc).map(
            _import_engine
        ).collect()
        dt = time.perf_counter() - t0
        if mods != [PACKAGE] * self.nproc:
            raise RuntimeError(f"worker import check failed: {mods}")
        if self.jvm_proc is None:
            from pyspark import SparkContext

            self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return build_s, dt

    def setup(self) -> tuple[list[float], list[float]]:
        """SETUP_SAMPLES set-ups; returns (build_session times, set-up
        times). The session of the last one stays up."""
        builds, setups = [], []
        for i in range(SETUP_SAMPLES):
            b, s = self.start_session()
            builds.append(b)
            setups.append(s)
            if i < SETUP_SAMPLES - 1:
                self.spark.stop()
        return builds, setups

    def stop_jvm(self) -> None:
        """Stop Spark, the JVM and every process they started, and wait
        for each to end. A later start_session launches a fresh JVM."""
        from pyspark import SparkContext

        from perfbench.trace import tree_pids

        pids = [p for p in tree_pids() if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm_proc is not None:
            self.jvm_proc.terminate()
            self.jvm_proc.wait(timeout=60)
            self.jvm_proc = None
        deadline = time.time() + 60
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass

    # -- loop --------------------------------------------------------------
    def loop(self, tag: str, trace: bool = False):
        """The warm-up job, then jobs back to back, one at a time, for
        ``--seconds`` (at least one). Returns (jobs, ProcSampler)."""
        from perfbench.trace import ProcSampler
        from perfbench.workloads import JobResult

        out_root = os.path.join(self.work, "out", tag)
        t0 = time.perf_counter()
        self.wl.warm_up(self.spark, os.path.join(out_root, "warm"))
        self.cold_job_s = time.perf_counter() - t0
        jobs = []
        with ProcSampler() as proc:
            spent = 0.0
            while spent < self.args.seconds:
                out_dir = os.path.join(out_root, f"job{len(jobs)}")
                t0 = time.perf_counter()
                try:
                    res = self.wl.run_job(self.spark, out_dir, trace=trace)
                except Exception:  # every document of the job fails
                    traceback.print_exc()
                    jobs.append(JobResult(
                        out_dir, len(self.wl.expected),
                        wall_s=time.perf_counter() - t0, raised=True,
                        error="the job raised (traceback on stderr)",
                    ))
                    break
                jobs.append(res)
                spent += res.wall_s
        return jobs, proc

    def check(self, jobs) -> tuple[int, int, list[str], list[dict]]:
        """Verify every job; returns (attempted, failed, problems, counts)."""
        attempted = failed = 0
        problems, counts = [], []
        for res in jobs:
            if res.raised:
                attempted += res.docs
                failed += res.docs
                problems.append(res.error)
                continue
            n, bad, info = self.wl.verify(res.out_dir)
            attempted += n
            failed += len(bad)
            counts.append(info)
            if res.error:
                problems.append(res.error)
            if bad:
                problems.append(f"{len(bad)} docs differ, e.g. {bad[:3]}")
            if info.get("pages_quarantined") != info.get("pages_injected"):
                problems.append(
                    f"quarantined {info['pages_quarantined']} pages, "
                    f"injected {info['pages_injected']}"
                )
            shutil.rmtree(res.out_dir, ignore_errors=True)
        return attempted, failed, problems, counts


def summarize(jobs) -> dict:
    wall = sum(j.wall_s for j in jobs)
    gaps = sorted(g for j in jobs for g in j.group_gaps)
    resumes = [j.resume_s for j in jobs if j.resume_s is not None]
    out = {
        "jobs": len(jobs),
        "docs_per_job": jobs[0].docs,
        "job_s": [round(j.wall_s, 4) for j in jobs],
        "docs_per_s": sum(j.docs for j in jobs) / wall,
    }
    if gaps:
        out["group_s_p50"] = statistics.median(gaps)
        out["group_s_p90"] = gaps[min(len(gaps) - 1, int(0.9 * len(gaps)))]
        out["groups"] = len(gaps)
    if resumes:
        out["resume_s"] = statistics.median(resumes)
    return out


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    confine_scratch(work)
    digest = source_digest()
    facts = host_facts(args)
    # a checkout without git history is identified by its sources
    facts["source_digest"] = digest
    print(json.dumps({"host": facts}), flush=True)
    data = os.path.join(WORK_ROOT, "data", f"{args.workload}-{args.seed}-{digest}")
    bench = None
    try:
        wl = WORKLOADS[args.workload](args.seed, data)
        t0 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t0
        bench = Bench(args, work, wl)
        builds, setup = bench.setup()
        jobs, proc = bench.loop("plain")
        attempted, failed, problems, counts = bench.check(jobs)
        plain = summarize(jobs)
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "docs_per_s": (plain["docs_per_s"], "docs/s"),
            "peak_rss_mb": (proc.peak_bytes / 2**20, "MB"),
        }
        run_info = {
            "prepare_s": prepare_s,
            "setup_samples_s": setup,
            "build_session_s": builds,
            "cold_job_s": bench.cold_job_s,
            "failure_rate": failed / attempted,
            "problems": problems,
            "counts": counts,
            **plain,
        }
        if args.trace:
            from perfbench.layers import traced_run

            bench.stop_jvm()
            metrics, table, (a2, f2, p2, _) = traced_run(bench, plain, builds)
            for line in table:
                print(line)
            attempted, failed = attempted + a2, failed + f2
            problems += p2
        print(json.dumps({"run": run_info}), flush=True)
    finally:
        if bench is not None:
            bench.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0 and not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
