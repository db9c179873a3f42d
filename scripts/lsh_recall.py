"""Measure recall@k of lsh_topk vs brute_force_topk across bucket widths.

    python scripts/lsh_recall.py [sf_dir] [k]

Prints one line per configuration: bits, n_tables, candidate-pair count
(cost proxy), recall@k. Results are recorded in PLANS.md.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from tesseract_recognize_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from tesseract_recognize_spark.session import build_session


def clustered_embeddings(spark, n_clusters=50, per_cluster=10, dim=64,
                         noise=0.25, seed=7):
    """Deterministic clustered corpus: intra-cluster cosine ~0.94 — the
    shape real-world embedding neighborhoods have (the sf tables'
    embeddings are isotropic random, where NO sub-linear ANN family can
    have high recall; see PLANS.md recall table)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for ci in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[ci] + noise * rng.standard_normal(dim) / dim ** 0.5
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    n_queries = 50
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    spark = build_session(app_name="lsh-recall", master=f"local[{cpus}]",
                          shuffle_partitions=max(cpus, 8))
    if sf_dir == "--clustered":
        emb = clustered_embeddings(spark)
    else:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vecs = emb.count()
    truth = brute_force_topk(emb, k=k, n_queries=n_queries, dim=64)
    truth_rows = {(r["vec_id"], r["neighbor_id"]) for r in truth.collect()}
    out = []
    for bits in (4, 6, 8, 10, 12):
        for n_tables in (1, 2, 4):
            approx = lsh_topk(
                emb, dim=64, k=k, bits=bits, n_queries=n_queries,
                n_tables=n_tables,
            )
            got = {(r["vec_id"], r["neighbor_id"]) for r in approx.collect()}
            rec = len(got & truth_rows) / len(truth_rows)
            row = {"bits": bits, "n_tables": n_tables, "k": k,
                   "n_vecs": n_vecs,
                   "recall_at_k": round(rec, 4)}
            out.append(row)
            print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
