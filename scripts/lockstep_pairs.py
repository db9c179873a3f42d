"""Run-level interleaved scaling measurement (north rule: efficiency
>= 0.8 between N and 4N parallelism).

The round-3/4 pair ledgers showed the host's phantom load (hypervisor
co-tenancy, invisible to guest loadavg) arrives in multi-minute storms.
A pair whose legs are whole 6-run blocks (~5-10 min each) can still
catch its two legs in different regimes — the storm lands on one block.
This script interleaves at RUN granularity instead: two persistent
children (local[N], local[4N]) alternate single measured passes seconds
apart, so over K cycles both legs sample the same set of quiet windows
and the min estimator for each leg is drawn from the same regime by
construction.

Outputs per-cycle mini-pairs and three summaries:
  - eff_min       = (docs/min_t4N) / (docs/min_tN) / 4  (headline)
  - eff_median    = median over per-cycle t_N/(4*t_4N)
  - eff_clean     = median over cycles whose BOTH legs ran within 15%%
                    of their leg's session floor (storm-free cycles)

    python scripts/lockstep_pairs.py --cycles 18 --docs 40000 \
        --ledger /tmp/lockstep_ledger.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, ".")

from tesseract_recognize_spark.fixtures.generator import (  # noqa: E402
    gen_documents,
    write_documents_parquet,
)


def ensure_corpus(n_docs: int, n_files: int = 128) -> str:
    # multi-file corpus: a single small parquet file is ONE input split in
    # Spark regardless of cores, which injects a serial scan+explode term a
    # real (many-file) table doesn't have — it capped round-1 scaling
    path = f"/tmp/spark_graft_scaling/docs_{n_docs}_f{n_files}"
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = time.time()
        write_documents_parquet(
            gen_documents(n_docs, seed=42), path, n_files=n_files
        )
        print(f"generated {n_docs} docs in {time.time() - t0:.1f}s",
              file=sys.stderr)
    return path


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Child:
    def __init__(self, cores: int, path: str, warmups: int):
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_DRIVER_MEM", "40g")
        self.cores = cores
        # child stderr to a file, not DEVNULL — a dead child (OOM-kill,
        # JVM abort) is otherwise undiagnosable
        self.errlog = f"/tmp/lockstep_child_{cores}.err"
        self.proc = subprocess.Popen(
            [sys.executable, "scripts/_lockstep_child.py", str(cores),
             path, str(warmups)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=open(self.errlog, "w"), text=True, bufsize=1, env=env,
        )

    def _read(self) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                tail = ""
                try:
                    with open(self.errlog) as f:
                        tail = "".join(f.readlines()[-15:])
                except OSError:
                    pass
                raise RuntimeError(
                    f"local[{self.cores}] child died; stderr tail:\n{tail}"
                )
            line = line.strip()
            if line:
                return line

    def wait_ready(self) -> None:
        while self._read() != "READY":
            pass

    def run_once(self) -> float:
        self.proc.stdin.write("GO\n")
        self.proc.stdin.flush()
        return float(json.loads(self._read())["wall"])

    def quit(self) -> None:
        try:
            self.proc.stdin.write("QUIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=40000)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--xn", type=int, default=32)
    ap.add_argument("--cycles", type=int, default=18)
    ap.add_argument("--warmups", type=int, default=3)
    ap.add_argument("--ledger", required=True,
                    help="JSONL file this session is appended to")
    args = ap.parse_args()
    path = ensure_corpus(args.docs)
    factor = args.xn / args.n

    # build + warm the two sessions SERIALLY so warmup runs never overlap
    c_n = Child(args.n, path, args.warmups)
    c_n.wait_ready()
    c_xn = Child(args.xn, path, args.warmups)
    c_xn.wait_ready()
    print("both children warm; starting lockstep cycles", flush=True)

    cycles = []
    try:
        for i in range(args.cycles):
            order = ((c_n, c_xn) if i % 2 == 0 else (c_xn, c_n))
            load0 = loadavg1()
            walls = {}
            for child in order:
                walls[child.cores] = child.run_once()
            t_n, t_xn = walls[args.n], walls[args.xn]
            eff = t_n / (factor * t_xn)
            cycles.append({
                "cycle": i, "order": [c.cores for c in order],
                "load_before": round(load0, 1),
                f"t_{args.n}": t_n, f"t_{args.xn}": t_xn,
                "eff": round(eff, 3),
            })
            print(f"cycle {i}: t{args.n}={t_n:.1f}s t{args.xn}={t_xn:.1f}s "
                  f"eff={eff:.3f} (load_before={load0:.1f})", flush=True)
    finally:
        c_n.quit()
        c_xn.quit()

    t_ns = [c[f"t_{args.n}"] for c in cycles]
    t_xns = [c[f"t_{args.xn}"] for c in cycles]
    min_n, min_xn = min(t_ns), min(t_xns)
    eff_min = min_n / (factor * min_xn)
    eff_median = statistics.median(c["eff"] for c in cycles)
    clean = [
        c["eff"] for c in cycles
        if c[f"t_{args.n}"] <= 1.15 * min_n
        and c[f"t_{args.xn}"] <= 1.15 * min_xn
    ]
    summary = {
        "ts": time.time(),
        "docs": args.docs,
        "cycles": len(cycles),
        f"min_{args.n}": min_n,
        f"min_{args.xn}": min_xn,
        "eff_min": round(eff_min, 3),
        "eff_median": round(eff_median, 3),
        "clean_cycles": len(clean),
        "eff_clean_median": round(statistics.median(clean), 3) if clean
        else None,
        "per_cycle": cycles,
    }
    os.makedirs(os.path.dirname(args.ledger) or ".", exist_ok=True)
    with open(args.ledger, "a") as f:
        f.write(json.dumps(summary) + "\n")
    print(json.dumps({k: v for k, v in summary.items()
                      if k != "per_cycle"}))


if __name__ == "__main__":
    main()
