"""The benchmark's seeded workloads: inputs, oracles, jobs, checks.

Each workload is built from ``--seed`` alone, runs through the engine's
public entry points, and is checked document by document against an
oracle computed independently of Spark:

  * ``extract_checkpointed`` — the generator corpus (20% media spans,
    1% skew tail of 30-60 page documents) through ``run_checkpointed``,
    crashed after its first group with ``fail_after_group`` and resumed
    into the same table. A seeded ~0.5% of media refs resolve, through a
    delegating ``resolver=``, to a raster that violates the mock-OCR
    contract; the engine must quarantine exactly those pages.
  * ``dedup_near_dup`` — planted near-duplicate clusters through
    ``ngram_jaccard_pairs`` → ``connected_components`` → keeper
    assignment, plus ``minhash_lsh_pairs``, checked against the DuckDB
    oracle SQL in ``__spark_entry__``.

A document FAILS when its output differs from the oracle or is missing
from the committed output. The injected crash and bad pages are expected
outcomes, not failures.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tesseract_recognize_spark.config import ExtractConfig
from tesseract_recognize_spark.fixtures.generator import (
    gen_documents,
    write_documents_parquet,
)
from tesseract_recognize_spark.oracle.oracle import expected_spans
from tesseract_recognize_spark.sources.media import resolve_media

from perfbench.trace import TimedTableIO, layer

__all__ = ["WORKLOADS", "JobResult", "BadPageResolver", "read_spans"]

# parquet part files per input table: a multi-file corpus, as production
# Iceberg tables are, so the scan parallelizes instead of measuring one
# serial input split
INPUT_FILES = 8


@dataclass
class JobResult:
    """One closed-loop job: its wall time, what it committed, and the
    ``(name, start, end)`` spans of the layer calls it made."""

    out_dir: str
    docs: int
    wall_s: float = 0.0
    start: float = 0.0
    # committed_at gaps (extraction) in seconds, the first from the call
    group_gaps: list[float] = field(default_factory=list)
    resume_s: float | None = None
    error: str | None = None
    # the job raised: every one of its documents counts as failed
    raised: bool = False
    spans: list = field(default_factory=list)
    # committed-set size seen by each run_checkpointed call
    skipped: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


class BadPageResolver:
    """Delegating ``resolver=``: media refs in ``bad_refs`` resolve to an
    all-blank raster (no orientation decodes, so the OCR stage must
    quarantine the page); every other ref goes to ``resolve_media``.
    Picklable, so it ships to the Python workers in the UDF closure."""

    def __init__(self, bad_refs: frozenset[str]) -> None:
        self.bad_refs = bad_refs

    def __call__(self, media_ref: str) -> np.ndarray:
        if media_ref in self.bad_refs:
            return np.zeros((16, 16), dtype=np.uint8)
        return resolve_media(media_ref)


def _seeded(seed: int, tag: str) -> random.Random:
    return random.Random(f"perfbench:{tag}:{seed}")


def read_spans(path: str) -> dict[str, list[tuple]]:
    """Committed extraction output → per-doc ``(kind, text, media_ref,
    order)`` sequences sorted by ``order``."""
    t = pq.read_table(
        path, columns=["doc_id", "order", "kind", "text", "media_ref"]
    ).sort_by([("doc_id", "ascending"), ("order", "ascending")])
    out: dict[str, list[tuple]] = {}
    cols = [t.column(c).to_pylist() for c in t.column_names]
    for doc_id, order, kind, text, ref in zip(*cols):
        out.setdefault(doc_id, []).append((kind, text, ref, order))
    return out


def _committed_gaps(out_dir: str, t_call: float) -> list[float]:
    """Checkpoint cadence from the manifest: gaps between consecutive
    ``committed_at`` entries, the first measured from the call."""
    with open(os.path.join(out_dir, "_manifest.jsonl")) as f:
        stamps = sorted(json.loads(ln)["committed_at"] for ln in f)
    gaps, prev = [], t_call
    for s in stamps:
        gaps.append(s - prev)
        prev = s
    return gaps


class _Workload:
    """Inputs and oracle live in ``data_dir``, built once per seed (and
    per source digest, which the caller folds into the directory name):
    ``oracle.json`` is written last, so its presence marks a complete
    build that later runs with the same seed reuse."""

    name = ""

    def __init__(self, seed: int, data_dir: str) -> None:
        self.seed = seed
        self.data_dir = data_dir
        self.input_dir = os.path.join(data_dir, "input")
        # a small slice of the same inputs for the untimed warm-up job
        self.warm_dir = os.path.join(data_dir, "warm_input")

    def prepare(self) -> None:
        """Build or reuse the inputs and the oracle (untimed)."""
        path = os.path.join(self.data_dir, "oracle.json")
        if not os.path.exists(path):
            shutil.rmtree(self.data_dir, ignore_errors=True)
            os.makedirs(self.data_dir)
            with open(path + ".tmp", "w") as f:
                json.dump(self._build(), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            self._load(json.load(f))

    def _build(self) -> dict:
        """Write the inputs; return the oracle state as JSON data."""
        raise NotImplementedError

    def _load(self, state: dict) -> None:
        raise NotImplementedError


# --------------------------------------------------------------------------
# extraction workload
# --------------------------------------------------------------------------


class ExtractCheckpointed(_Workload):
    """The generator corpus through ``run_checkpointed``: a few groups,
    crashed after the first with ``fail_after_group`` and resumed into
    the same table, with a seeded ~0.5% of media pages made bad through
    a delegating ``resolver=``."""

    name = "extract_checkpointed"
    n_docs = 120
    n_groups = 2
    bad_share = 0.005
    # ordinary (non-skew) docs in the warm-up slice: the same plan, OCR
    # stage included, on little data
    warm_docs = 8

    def _build(self) -> dict:
        docs = gen_documents(self.n_docs, seed=self.seed)
        pages = [
            s["media_ref"]
            for d in docs
            for s in d["spans"]
            if s["kind"] == "media"
        ]
        k = max(1, round(self.bad_share * len(pages)))
        bad = set(_seeded(self.seed, "bad").sample(sorted(pages), k))
        write_documents_parquet(docs, self.input_dir, n_files=INPUT_FILES)
        warm = [d for i, d in enumerate(docs) if i % 100 != 7]
        write_documents_parquet(
            warm[: self.warm_docs], self.warm_dir, n_files=INPUT_FILES
        )

        def oracle(d: dict) -> list[tuple]:
            # expected_spans without the rows of the injected bad pages,
            # order renumbered
            rows = [
                r
                for r in expected_spans(d["doc_id"], d["spans"])
                if not (r["kind"] == "media" and r["media_ref"] in bad)
            ]
            return [
                (r["kind"], r["text"], r["media_ref"], order)
                for order, r in enumerate(rows)
            ]

        return {
            "pages": pages,
            "bad_refs": sorted(bad),
            "expected": {d["doc_id"]: oracle(d) for d in docs},
        }

    def _load(self, state: dict) -> None:
        self.pages = state["pages"]
        self.bad_refs = frozenset(state["bad_refs"])
        self.expected = {
            d: [tuple(r) for r in rows] for d, rows in state["expected"].items()
        }

    def _run(self, spark, res: JobResult, in_dir: str, **kw) -> None:
        """One ``run_checkpointed`` call through a timed ``table_io=``."""
        from tesseract_recognize_spark.plans.checkpoint import run_checkpointed
        from tesseract_recognize_spark.sources.tableio import ParquetTableIO

        sc = spark.sparkContext
        io = TimedTableIO(ParquetTableIO(res.out_dir), sc, res.spans)
        try:
            with layer(sc, "plans.checkpoint.run_checkpointed", res.spans):
                run_checkpointed(
                    spark.read.parquet(in_dir),
                    io,
                    n_groups=self.n_groups,
                    # the production salting rule of scripts/run_extract.py
                    cfg=ExtractConfig(
                        media_partitions=4 * sc.defaultParallelism
                    ),
                    resolver=BadPageResolver(self.bad_refs),
                    **kw,
                )
        finally:
            res.skipped += io.skipped

    def warm_up(self, spark, out_dir: str) -> None:
        """The job's own call sequence on the warm-up slice."""
        self._job(spark, JobResult(out_dir, 0), self.warm_dir)

    def run_job(self, spark, out_dir: str, trace: bool = False) -> JobResult:
        res = JobResult(out_dir, len(self.expected), start=time.time())
        self._job(spark, res, self.input_dir)
        return res

    def _job(self, spark, res: JobResult, in_dir: str) -> None:
        """Crash after the first group, then resume."""
        t0 = time.perf_counter()
        try:
            self._run(spark, res, in_dir, fail_after_group=0)
            res.error = "the injected crash did not fire"
        except RuntimeError as exc:
            if "simulated crash" not in str(exc):
                raise
        t1 = time.perf_counter()
        self._run(spark, res, in_dir)
        t2 = time.perf_counter()
        res.wall_s, res.resume_s = t2 - t0, t2 - t1
        res.group_gaps = _committed_gaps(res.out_dir, res.start)

    def verify(self, out_dir: str) -> tuple[int, list[str], dict]:
        """(attempted docs, failed doc ids, counts) for one job's output.
        A doc fails when its (kind, text, media_ref, order) sequence
        differs from the oracle or it is missing from every committed
        group."""
        from tesseract_recognize_spark.sources.tableio import ParquetTableIO

        io = ParquetTableIO(out_dir)
        groups = sorted(io.committed_groups())
        got: dict[str, list[tuple]] = {}
        for g in groups:
            got.update(read_spans(io.group_path(g)))
        failed = sorted(
            d for d, rows in self.expected.items() if got.get(d) != rows
        )
        # quarantined pages, counted from outside: input media pages
        # without a single output row
        emitted = {
            ref
            for rows in got.values()
            for kind, _, ref, _ in rows
            if kind == "media"
        }
        return len(self.expected), failed, {
            "pages_quarantined": sum(r not in emitted for r in self.pages),
            "pages_injected": len(self.bad_refs),
            "groups_committed": len(groups),
            "rows_out": sum(len(v) for v in got.values()),
        }


# --------------------------------------------------------------------------
# dedup workload
# --------------------------------------------------------------------------


class DedupNearDup(_Workload):
    """documents(doc_id bigint, text) with planted clusters:

      * near-duplicates edited lightly (above the 0.8 Jaccard threshold)
        and heavily (around and below it);
      * exact copies;
      * one templated cluster larger than ngram_jaccard_pairs' bucket cap
        of 100, whose band buckets the cap drops wholesale.
    """

    name = "dedup_near_dup"
    n_base = 800
    threshold = 0.8
    warm_docs = 64

    def documents(self) -> list[tuple[int, str]]:
        rng = _seeded(self.seed, "dedup")
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = sorted(
            {
                "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
                for _ in range(3000)
            }
        )

        def base() -> list[str]:
            return [rng.choice(vocab) for _ in range(rng.randint(25, 60))]

        def edit(words: list[str], n: int) -> str:
            w = list(words)
            for _ in range(n):
                w[rng.randrange(len(w))] = rng.choice(vocab)
            return " ".join(w)

        texts: list[str] = []
        for _ in range(self.n_base):
            words = base()
            texts.append(" ".join(words))
            r = rng.random()
            if r < 0.04:  # exact copies
                texts += [texts[-1]] * rng.randint(1, 3)
            elif r < 0.10:  # near-dups above the threshold
                texts += [edit(words, 1) for _ in range(rng.randint(1, 3))]
            elif r < 0.16:  # near-dups around and below the threshold
                texts.append(edit(words, rng.randint(3, 6)))
        # a boilerplate template with a random one-word tail: most copies
        # share every band value, so each of the template's band buckets
        # holds > 100 docs; a copy whose tail changes a band value gets a
        # bucket of its own (a tail shared by many copies, such as a
        # counter's leading digits, would form a second, smaller bucket
        # that survives the cap on some seeds and not on others)
        template = " ".join(base())
        texts += [
            template + " " + "".join(rng.choice(letters) for _ in range(6))
            for _ in range(rng.randint(200, 260))
        ]
        ids = rng.sample(range(1, 1 << 40), len(texts))
        return list(zip(ids, texts))

    def _build(self) -> dict:
        docs = self.documents()
        _write_text_docs(docs, self.input_dir)
        _write_text_docs(docs[: self.warm_docs], self.warm_dir)
        comp, pairs = dedup_oracle(self.input_dir, self.threshold)
        return {"components": comp, "pairs": pairs}

    def _load(self, state: dict) -> None:
        self.expected = {
            d: (c, n, bool(k)) for d, c, n, k in state["components"]
        }
        self.expected_pairs = {(a, b) for a, b in state["pairs"]}

    def warm_up(self, spark, out_dir: str) -> None:
        self._job(spark, JobResult(out_dir, 0), False, self.warm_dir)

    def run_job(self, spark, out_dir: str, trace: bool = False) -> JobResult:
        res = JobResult(out_dir, len(self.expected), start=time.time())
        t0 = time.perf_counter()
        self._job(spark, res, trace, self.input_dir)
        res.wall_s = time.perf_counter() - t0
        return res

    def _job(self, spark, res: JobResult, trace: bool, in_dir: str) -> None:
        from pyspark.sql import Window, functions as F

        from tesseract_recognize_spark.operators.components import (
            connected_components,
        )
        from tesseract_recognize_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        sc = spark.sparkContext
        docs = spark.read.parquet(in_dir)
        with layer(sc, "operators.dedup.ngram_jaccard_pairs", res.spans):
            pairs = ngram_jaccard_pairs(docs, threshold=self.threshold)
        if trace:
            with layer(sc, "perfbench.count_verified"):
                res.extra["verified_pairs"] = pairs.count()
        with layer(sc, "operators.components.connected_components", res.spans):
            labels = connected_components(pairs.select("doc_a", "doc_b"))
        # keeper assignment: the shape of __spark_entry__.q_dedup_components
        asg = docs.select("doc_id").join(
            labels, docs["doc_id"] == labels["node"], "left"
        ).select(
            docs["doc_id"],
            F.coalesce("component_id", docs["doc_id"]).alias("component_id"),
        )
        w = Window.partitionBy("component_id")
        asg = asg.select(
            "doc_id",
            "component_id",
            F.count("*").over(w).cast("bigint").alias("component_size"),
            (F.col("doc_id") == F.col("component_id")).alias("is_keeper"),
        )
        with layer(sc, "perfbench.write_components", res.spans):
            asg.write.mode("overwrite").parquet(
                os.path.join(res.out_dir, "components")
            )
        # a lazy operator: its jobs run inside the write
        with layer(sc, "operators.dedup.minhash_lsh_pairs", res.spans):
            minhash_lsh_pairs(docs).write.mode("overwrite").parquet(
                os.path.join(res.out_dir, "minhash")
            )

    def verify(self, out_dir: str) -> tuple[int, list, dict]:
        """A doc fails when its (component_id, component_size, is_keeper)
        differs from the oracle or when it sits in a minhash candidate
        pair that one side has and the other lacks."""
        comp = pq.read_table(os.path.join(out_dir, "components")).to_pylist()
        got = {
            r["doc_id"]: (r["component_id"], r["component_size"], r["is_keeper"])
            for r in comp
        }
        mh = pq.read_table(os.path.join(out_dir, "minhash"))
        pairs = set(
            zip(mh.column("doc_a").to_pylist(), mh.column("doc_b").to_pylist())
        )
        failed = {d for d, v in self.expected.items() if got.get(d) != v}
        failed |= {d for p in pairs ^ self.expected_pairs for d in p}
        failed |= set(got) - set(self.expected)
        return len(self.expected), sorted(failed), {
            "components": len({v[0] for v in got.values()}),
            "candidate_pairs": len(pairs),
            "rows_out": len(comp) + len(pairs),
        }


def _write_text_docs(docs: list[tuple[int, str]], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(docs) // INPUT_FILES)
    for k, i in enumerate(range(0, len(docs), per)):
        chunk = docs[i : i + per]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d for d, _ in chunk], pa.int64()),
                    "text": pa.array([t for _, t in chunk], pa.string()),
                }
            ),
            os.path.join(path, f"part-{k:05d}.parquet"),
        )


def dedup_oracle(input_dir: str, threshold: float):
    """DuckDB oracle over the same parquet, from ``__spark_entry__``'s own
    oracle SQL: ``(doc_id, component_id, component_size, is_keeper)``
    rows and the minhash candidate pairs."""
    import duckdb

    import __spark_entry__ as E

    glob = os.path.join(input_dir, "*.parquet").replace("'", "''")
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')"
        )
        # materialize the symmetric edge list the recursive closure joins
        # every round; inlined, DuckDB re-derives it from the documents
        # per round (same rows, several times slower)
        sql = E._dedup_components_oracle(threshold).replace(
            "edges AS (", "edges AS MATERIALIZED (", 1
        )
        comp = con.execute(sql).fetchall()
        pairs = con.execute(E._minhash_lsh_oracle()).fetchall()
    finally:
        con.close()
    return [list(r) for r in comp], [list(p) for p in pairs]


WORKLOADS = {w.name: w for w in (ExtractCheckpointed, DedupNearDup)}
