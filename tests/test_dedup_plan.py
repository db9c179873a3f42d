"""Plan and construction pins for the MinHash/SimHash dedup operators:
each operator spreads its input once, ngram_jaccard_pairs' band
self-join reads the materialized band table on both sides, its wide
stages run at cluster width, and building an operator's plan costs a
bounded number of Py4J round trips."""

from __future__ import annotations

import random

import pytest

from tesseract_recognize_spark import caching
from tesseract_recognize_spark.operators import dedup

pytestmark = pytest.mark.spark


@pytest.fixture()
def docs(spark, tmp_path):
    """One parquet file, so the scan yields one partition and every
    operator's ``spread_small_scan`` inserts its exchange."""
    rng = random.Random(5)
    rows = [
        (i, " ".join(
            "".join(rng.choice("abcdefgh") for _ in range(5))
            for _ in range(8)
        ))
        for i in range(30)
    ]
    rows += [(100, "a near duplicate text body"),
             (101, "a near duplicate text body")]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
        1
    ).write.parquet(path)
    out = spark.read.parquet(path)
    assert out.rdd.getNumPartitions() == 1
    return out


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_each_operator_spreads_its_input_once(spark, docs, monkeypatch):
    # spreading an already-spread frame asks a shuffled plan for its
    # partition count, which under AQE runs that shuffle as a job
    seen = []
    real = dedup.spread_small_scan

    def spy(df, *cols):
        seen.append(_physical(df))
        return real(df, *cols)

    monkeypatch.setattr(dedup, "spread_small_scan", spy)
    for build in (
        lambda: dedup.minhash_lsh_pairs(docs),
        lambda: dedup.simhash_signature(docs),
        lambda: dedup.ngram_jaccard_pairs(docs),
    ):
        seen.clear()
        build()
        assert not any("Exchange" in plan for plan in seen)
        assert len(seen) == 1


# what may sit between a join and its input: the strategy picks the
# exchange (and a sort-merge join's sort), AQE wraps exchanges in query
# stages and shuffle reads, codegen wraps stages and their inputs; the
# filter is the join keys' isnotnull
_PASS_THROUGH = {
    "BroadcastExchangeExec", "ShuffleExchangeExec", "SortExec", "FilterExec",
    "BroadcastQueryStageExec", "ShuffleQueryStageExec", "AQEShuffleReadExec",
    "InputAdapter", "WholeStageCodegenExec",
}


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _walk(node, ident, seen=None):
    """Every distinct physical node, descending into adaptive plans and
    their query stages."""
    seen = set() if seen is None else seen
    if ident(node) in seen:
        return
    seen.add(ident(node))
    yield node
    for c in _children(node):
        yield from _walk(c, ident, seen)


def _spy_materialize(monkeypatch, on_call):
    """Route every ``materialize`` of the dedup module — and finalize's,
    through ``caching`` — through ``on_call(real, df)``."""
    real = caching.materialize

    def spy(df):
        return on_call(real, df)

    monkeypatch.setattr(dedup, "materialize", spy)
    monkeypatch.setattr(caching, "materialize", spy)


def test_band_self_join_reads_the_materialized_band_table(
    spark, docs, monkeypatch
):
    queries, results = [], []

    def keep(real, df):
        out = real(df)
        queries.append(df)
        results.append(out)
        return out

    _spy_materialize(monkeypatch, keep)
    dedup.ngram_jaccard_pairs(docs)
    # the band table, the prefiltered pairs, the shingle sets, the result
    assert len(queries) == 4
    band_rdd = results[0]._jdf.queryExecution().analyzed().rdd().id()
    ident = spark._jvm.System.identityHashCode
    nodes = [
        n for q in queries
        for n in _walk(q._jdf.queryExecution().executedPlan(), ident)
    ]
    joins = [
        n for n in nodes
        if n.getClass().getSimpleName().endswith("JoinExec")
        and "band_id" in n.leftKeys().toString()
    ]
    assert len(joins) == 1
    for side in _children(joins[0]):
        while side.getClass().getSimpleName() in _PASS_THROUGH:
            side = _children(side)[0]
        assert side.getClass().getSimpleName() == "RDDScanExec"
        assert side.rdd().id() == band_rdd
    # the band pipeline runs in the band table's own query only
    band_chains = [
        n for n in nodes
        if n.getClass().getSimpleName() == "GenerateExec"
        and "posexplode" in n.generator().toString()
    ]
    assert len(band_chains) == 1


@pytest.fixture()
def docs_8_files(spark, tmp_path):
    """perfbench's dedup input shape: 8 parquet files of random-word
    documents with planted near-duplicates (one word edited)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(7)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(2000)
    ]
    texts = []
    for _ in range(300):
        words = [rng.choice(vocab) for _ in range(40)]
        texts.append(" ".join(words))
        if rng.random() < 0.2:
            words[rng.randrange(len(words))] = rng.choice(vocab)
            texts.append(" ".join(words))
    path = tmp_path / "docs"
    path.mkdir()
    per = -(-len(texts) // 8)
    for k in range(8):
        ids = list(range(k * per, min(len(texts), (k + 1) * per)))
        pq.write_table(
            pa.table({
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids], pa.string()),
            }),
            str(path / f"part-{k:05d}.parquet"),
        )
    return spark.read.parquet(str(path))


def test_wide_stages_run_at_cluster_width(spark, docs_8_files, monkeypatch):
    """A checkpointed query's exchanges are coalesced by AQE, so the
    band self-join, the candidate shingle-set aggregate and the verify
    stage must each be pinned at defaultParallelism."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    groups = []

    def labelled(real, df):
        groups.append(f"dedup-width-{len(groups)}")
        sc.setJobGroup(groups[-1], groups[-1])
        try:
            return real(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    _spy_materialize(monkeypatch, labelled)
    out = dedup.ngram_jaccard_pairs(docs_8_files)
    assert out.count() > 0
    # the tracker reads what the (asynchronous) listener bus has recorded
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    tracker = sc.statusTracker()

    def ran(group) -> list[int]:
        """Tasks completed per stage that ran, in stage order (a skipped
        stage completes none, and the store may already have evicted
        it)."""
        stages = sorted(
            s for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        )
        infos = filter(None, map(tracker.getStageInfo, stages))
        return [i.numCompletedTasks for i in infos if i.numCompletedTasks]

    assert len(groups) == 4
    # every stage reading the band table runs the self-join's width
    assert max(ran(groups[1])) >= par
    # the checkpoints of the shingle sets and of the verified pairs are
    # written by the aggregate and the verify stage
    assert ran(groups[2])[-1] >= par
    assert ran(groups[3])[-1] >= par


def test_dedup_builds_in_few_py4j_round_trips(spark, docs, round_trips):
    # a Column-API build sends one command per expression node: ~300
    # for minhash_lsh_pairs and ~140 for simhash_signature
    assert 0 < round_trips(lambda: dedup.minhash_lsh_pairs(docs)) <= 250
    assert 0 < round_trips(lambda: dedup.simhash_signature(docs)) <= 120
