"""Lockstep A/B of one checkpoint group between two source trees.

Measures how the width of a group's OCR stage pays off as the group
grows: one group (``n_groups=1``) of a ``gen_documents`` corpus, run by
two persistent children, one per source tree, that alternate single
passes seconds apart (the lockstep_pairs.py scheme). Each pass is a whole
``run_checkpointed`` call into a fresh ParquetTableIO dir with the
production cap ``media_partitions = 4 x defaultParallelism``; the two
trees differ in what they do with it. The corpus has ~1.75 media pages
per doc.

    python scripts/group_sizing_pairs.py --a <parent checkout> --b . \\
        --docs 1200 --cores 4 --cycles 8 --ledger BENCH/group_sizing.jsonl

Prints one JSON line per cycle and a summary line (also appended to
``--ledger`` when given). The two children must agree on every group's
doc and span counts, or the script exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time


def describe(src: str) -> str:
    """Short sha of the tree at ``src``, with ``+dirty`` for local edits."""
    git = ["git", "-C", src]
    sha = subprocess.run(git + ["rev-parse", "--short", "HEAD"],
                         capture_output=True, text=True).stdout.strip()
    dirty = subprocess.run(git + ["status", "--porcelain", "--", "*.py"],
                           capture_output=True, text=True).stdout.strip()
    return sha + ("+dirty" if dirty else "")


def child(src: str, input_path: str, cores: int, work: str) -> None:
    sys.path.insert(0, src)
    from tesseract_recognize_spark.config import ExtractConfig
    from tesseract_recognize_spark.plans.checkpoint import run_checkpointed
    from tesseract_recognize_spark.session import build_session
    from tesseract_recognize_spark.sources.tableio import ParquetTableIO

    spark = build_session(
        app_name="group-sizing", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    docs = spark.read.parquet(input_path)
    cfg = ExtractConfig(media_partitions=4 * cores)

    def once() -> dict:
        out = os.path.join(work, "out")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        (e,) = run_checkpointed(docs, ParquetTableIO(out), n_groups=1, cfg=cfg)
        return {"wall": round(time.perf_counter() - t0, 3),
                "docs": e.doc_count, "spans": e.span_count}

    once()  # cold JIT, Python worker pool start
    print("READY", flush=True)
    for line in sys.stdin:
        if line.strip() != "GO":
            break
        print(json.dumps(once()), flush=True)
    spark.stop()


class Child:
    def __init__(self, name: str, src: str, args, input_path: str):
        work = os.path.join(args.work, name)
        os.makedirs(work, exist_ok=True)
        self.errlog = os.path.join(work, "stderr.log")
        env = dict(os.environ, PYTHONPATH=os.path.abspath(src))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--child",
             "--src", os.path.abspath(src), "--input", input_path,
             "--cores", str(args.cores), "--work", work],
            cwd=src, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=open(self.errlog, "w"), text=True, bufsize=1,
        )

    def read(self) -> str:
        for line in self.proc.stdout:
            if line.strip():
                return line.strip()
        raise RuntimeError(f"child died; see {self.errlog}")

    def go(self) -> dict:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()
        return json.loads(self.read())

    def quit(self) -> None:
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=120)
        except Exception:
            self.proc.kill()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--src")
    ap.add_argument("--input")
    ap.add_argument("--a", help="source tree A (e.g. the parent checkout)")
    ap.add_argument("--b", help="source tree B (e.g. the change)")
    ap.add_argument("--docs", type=int, default=1200)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--cycles", type=int, default=8)
    ap.add_argument("--work", default="/tmp/group_sizing")
    ap.add_argument("--ledger")
    args = ap.parse_args()
    if args.child:
        child(args.src, args.input, args.cores, args.work)
        return 0

    sys.path.insert(0, os.path.abspath(args.b))
    from tesseract_recognize_spark.fixtures.generator import (
        gen_documents, write_documents_parquet,
    )

    corpus = gen_documents(args.docs, seed=args.seed)
    pages = sum(s["kind"] == "media" for d in corpus for s in d["spans"])
    input_path = os.path.join(args.work, f"docs_{args.docs}_{args.seed}")
    if not os.path.exists(input_path):
        write_documents_parquet(corpus, input_path, n_files=8)

    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    # warm the children one after the other so warm-ups never overlap
    kids = {}
    for name in ("a", "b"):
        kids[name] = Child(name, getattr(args, name), args, input_path)
        while kids[name].read() != "READY":
            pass
    cycles = []
    try:
        for i in range(args.cycles):
            order = ("a", "b") if i % 2 == 0 else ("b", "a")
            cyc = {"cycle": i}
            for name in order:
                cyc[name] = kids[name].go()
            print(json.dumps(cyc), flush=True)
            cycles.append(cyc)
    finally:
        for k in kids.values():
            k.quit()

    counts = {(c[n]["docs"], c[n]["spans"]) for c in cycles for n in "ab"}
    wall = {n: statistics.median(c[n]["wall"] for c in cycles) for n in "ab"}
    summary = {
        "script": "group_sizing_pairs",
        "nproc": len(os.sched_getaffinity(0)), "loadavg_at_start": load,
        "cores": args.cores, "docs": args.docs, "seed": args.seed,
        "media_pages": pages, "cycles": args.cycles,
        "a": describe(args.a), "b": describe(args.b),
        "median_wall_s": wall,
        "docs_per_s": {n: round(args.docs / w, 2) for n, w in wall.items()},
        "b_wins": sum(c["b"]["wall"] < c["a"]["wall"] for c in cycles),
        "counts_agree": len(counts) == 1,
        "walls": {n: [c[n]["wall"] for c in cycles] for n in "ab"},
    }
    print(json.dumps(summary), flush=True)
    if args.ledger:
        with open(args.ledger, "a") as f:
            f.write(json.dumps(summary) + "\n")
    return 0 if len(counts) == 1 else 1


if __name__ == "__main__":
    sys.exit(main())
