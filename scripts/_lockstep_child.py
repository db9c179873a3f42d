"""Persistent child for lockstep_pairs.py: one long-lived session at a
fixed core count that runs a single measured extraction pass per "GO"
line on stdin.

Protocol (line-oriented, stdout):
  parent <- "READY"                after session build + warmup runs
  parent -> "GO"                   run one noop-write pass
  parent <- {"wall": 12.34}        wall seconds for that pass
  parent -> "QUIT"                 stop the session and exit

Keeping the JVM alive across runs is what makes run-level interleaving
with the sibling child possible: each measured pass is pure steady-state
job time (C2-compiled, parquet footers cached), and adjacent GO's to the
two children land seconds apart — inside the same host-noise regime.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.plans.pipeline import extract
from tesseract_recognize_spark.session import build_session

# salting and shuffle widths per core of the measured extraction
MEDIA_FACTOR = 4
SHUFFLE_FACTOR = 1


def main() -> None:
    cores = int(sys.argv[1])
    input_path = sys.argv[2]
    warmups = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = build_session(
        app_name=f"lockstep-{cores}",
        master=f"local[{cores}]",
        # the host's phantom-preemption storms have frozen this driver
        # JVM for 6+ minutes (measured: heartbeat gap 368s); at the
        # default 120s network timeout the local-mode executor gets
        # removed and the session dies mid-warmup. A long-running leg
        # must survive a storm, not die from it.
        extra_conf={
            "spark.network.timeout": "900s",
            "spark.executor.heartbeatInterval": "60s",
        },
        shuffle_partitions=cores * SHUFFLE_FACTOR,
    )
    docs = spark.read.parquet(input_path)
    docs.count()  # parquet footer + scan warm
    cfg = ExtractConfig(media_partitions=cores * MEDIA_FACTOR)
    out = extract(docs, cfg)
    for _ in range(warmups):  # C2 compilation settles over the first runs
        out.write.format("noop").mode("overwrite").save()
    print("READY", flush=True)
    for line in sys.stdin:
        if line.strip() != "GO":
            break
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        print(json.dumps({"wall": round(time.time() - t0, 2)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
