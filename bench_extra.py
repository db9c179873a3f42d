"""Per-query timing and plan dumps for the driver queries — NOT the
official bench.

bench.py is frozen for measurement; perfbench/ owns the per-layer numbers.
This file keeps the query-level tools that plan-equality checks use:

  python bench_extra.py queries [q ...]     noop-sink time per query, N passes
                                            (SPARK_GRAFT_BENCH_PASSES, def 3)
  python bench_extra.py explain <outdir> [q ...]
                                            dump .explain("formatted") per query,
                                            ids masked (diff -r two outdirs)
  python bench_extra.py explain_internal <outdir>
                                            dump the lazy (unmaterialized)
                                            plans of the dedup/ANN operators

Env contract matches bench.py: $SPARK_GRAFT_SF_DIR (default sf0.1),
$SPARK_GRAFT_CPUS (default: the cores this process may run on). Jobs are
labelled via setJobDescription.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from tesseract_recognize_spark.session import build_session  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def _session():
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    return build_session(
        app_name="bench_extra",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )


def run_queries(spark, sf_dir, names):
    queries = E.queries()
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    names = names or list(queries)
    # warm codegen + python worker pool like bench.py does
    queries["trim_normalize"](spark, sf_dir).count()
    queries["extract_full"](spark, sf_dir).limit(64).count()
    out = {}
    for _ in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.time()
            noop(queries[name](spark, sf_dir))
            dt = round(time.time() - t0, 3)
            out.setdefault(name, []).append(dt)
        spark.catalog.clearCache()
    print(json.dumps({
        "sf_dir": sf_dir,
        "min": {q: min(v) for q, v in out.items()},
        "samples": out,
    }))


# per-session ids: expression ids (#123), exchange plan ids and RDD ids
_IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def _write_plan(df, outdir, name):
    """Write ``df.explain("formatted")`` with its per-session ids masked,
    so plans from two checkouts compare with a plain ``diff -r``."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
        f.write(_IDS.sub(r"\1N", buf.getvalue()))
    print(f"explained {name}", file=sys.stderr)


def run_explain(spark, sf_dir, outdir, names):
    queries = E.queries()
    names = names or list(queries)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        _write_plan(queries[name](spark, sf_dir), outdir, name)


def run_explain_internal(spark, sf_dir, outdir):
    """Dump the PRE-finalize plans of operators whose public query returns
    a checkpointed leaf (ngram verify, ANN top-k): finalize and the dedup
    operators' materialize are monkeypatched to identity, so the full
    lazy plan is visible and no checkpoint job runs. For plan inspection
    only — results are NOT computed here."""
    from tesseract_recognize_spark.operators import dedup, similarity

    orig_fin, orig_mat = dedup.finalize, dedup.materialize
    # the operator modules bound the names at import time
    dedup.finalize = similarity.finalize = lambda result, persisted: result
    dedup.materialize = lambda df: df
    try:
        from tesseract_recognize_spark.sources.testdata import load_table

        docs = load_table(spark, sf_dir, "documents")
        emb = load_table(spark, sf_dir, "embeddings")
        os.makedirs(outdir, exist_ok=True)
        targets = {
            "dedup_ngram_jaccard_internal":
                dedup.ngram_jaccard_pairs(docs, threshold=0.8),
            "dedup_minhash_lsh_internal": dedup.minhash_lsh_pairs(docs),
            "ann_lsh_topk_internal":
                similarity.lsh_topk(emb, dim=64, k=5, bits=8, n_queries=50),
            "dedup_embedding_cosine_internal":
                similarity.embedding_cosine_pairs(
                    emb.select("vec_id", "embedding"), dim=64,
                    threshold=0.9, bits=8,
                ),
        }
        for name, df in targets.items():
            _write_plan(df, outdir, name)
    finally:
        dedup.finalize = similarity.finalize = orig_fin
        dedup.materialize = orig_mat


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    spark = _session()
    try:
        if mode == "queries":
            run_queries(spark, sf_dir, sys.argv[2:])
        elif mode == "explain":
            run_explain(spark, sf_dir, sys.argv[2], sys.argv[3:])
        elif mode == "explain_internal":
            run_explain_internal(spark, sf_dir, sys.argv[2])
        else:
            raise SystemExit(f"unknown mode {mode!r}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
