"""Round-6 optimization instrumentation (guide §1) — NOT the official bench.

bench.py is frozen for measurement; this file hosts the extra harnesses the
optimization round needs:

  python bench_extra.py queries [q ...]     noop-sink time per query, N passes
                                            (SPARK_GRAFT_BENCH_PASSES, def 3)
  python bench_extra.py explain <outdir> [q ...]
                                            dump .explain("formatted") per query
  python bench_extra.py stages [group ...]  sub-stage timings for the heavy
                                            operators (ngram pipeline, extract)

Env contract matches bench.py: $SPARK_GRAFT_SF_DIR (default sf0.1),
$SPARK_GRAFT_CPUS (default 32). Jobs are labelled via setJobDescription.
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from tesseract_recognize_spark.session import build_session  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def _session():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
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


def run_explain(spark, sf_dir, outdir, names):
    queries = E.queries()
    names = names or list(queries)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"explained {name}", file=sys.stderr)


def run_explain_internal(spark, sf_dir, outdir):
    """Dump the PRE-finalize plans of operators whose public query returns
    a checkpointed leaf (ngram verify, ANN top-k): finalize is
    monkeypatched to identity so the full lazy plan is visible. For plan
    inspection only — results are NOT computed here."""
    from tesseract_recognize_spark.operators import dedup, similarity

    orig_fin = dedup.finalize
    # the operator modules bound the name at import time
    dedup.finalize = similarity.finalize = lambda result, persisted: result
    try:
        from pyspark.sql import functions as F

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
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"explained {name}", file=sys.stderr)
    finally:
        dedup.finalize = similarity.finalize = orig_fin


def stages_ngram(spark, sf_dir):
    """Sub-stage isolation for the minhash/ngram family (suite cost #1)."""
    from pyspark.sql import functions as F

    from tesseract_recognize_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        shingle_hashes,
    )
    from tesseract_recognize_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    t = {}

    def step(name, df):
        spark.sparkContext.setJobDescription(f"bx:ngram:{name}")
        t0 = time.time()
        noop(df)
        t[name] = round(time.time() - t0, 3)

    step("shingle_hashes", shingle_hashes(docs))
    step("minhash_signatures", minhash_signatures(docs))
    step("lsh_pairs_uncapped", minhash_lsh_pairs(docs))
    step("lsh_pairs_cap100", minhash_lsh_pairs(docs, bucket_cap=100))
    from tesseract_recognize_spark.operators.dedup import ngram_jaccard_pairs

    step("ngram_full", ngram_jaccard_pairs(docs, threshold=0.8))
    # token explode volume probe for simhash
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    step("simhash_tokens", tok)
    print(json.dumps({"ngram_stages": t}))


def stages_extract(spark, sf_dir):
    """Sub-stage isolation for the extraction pipeline."""
    from pyspark.sql import functions as F

    from tesseract_recognize_spark.config import ExtractConfig
    from tesseract_recognize_spark.operators.explode import explode_spans
    from tesseract_recognize_spark.operators.normalize import (
        normalize_text_spans,
    )
    from tesseract_recognize_spark.operators.ocr import ocr_expand
    from tesseract_recognize_spark.sources.testdata import (
        load_table,
        spans_from_sf_documents,
    )

    docs = spans_from_sf_documents(load_table(spark, sf_dir, "documents"))
    cfg = ExtractConfig(media_partitions=32)
    t = {}

    def step(name, df):
        spark.sparkContext.setJobDescription(f"bx:extract:{name}")
        t0 = time.time()
        noop(df)
        t[name] = round(time.time() - t0, 3)

    spans = explode_spans(docs)
    step("explode", spans)
    step("text_branch", normalize_text_spans(spans))
    media_in = spans.filter(F.col("kind") == "media").select(
        "doc_id", "offset", "media_ref", "media_idx", "n_media"
    )
    step("media_in", media_in)
    media_rep = media_in.repartition(cfg.media_partitions, "doc_id", "offset")
    step("ocr_expand", ocr_expand(media_rep, cfg))
    step("extract_full", E.q_extract_full(spark, sf_dir))
    print(json.dumps({"extract_stages": t}))


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
        elif mode == "stages":
            groups = sys.argv[2:] or ["ngram", "extract"]
            if "ngram" in groups:
                stages_ngram(spark, sf_dir)
            if "extract" in groups:
                stages_extract(spark, sf_dir)
        else:
            raise SystemExit(f"unknown mode {mode!r}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
