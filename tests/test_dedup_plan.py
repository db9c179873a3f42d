"""Plan and construction pins for the MinHash/SimHash dedup operators:
each operator spreads its input once, ngram_jaccard_pairs' band
self-join reads the persisted band table on both sides, and building an
operator's plan costs a bounded number of Py4J round trips."""

from __future__ import annotations

import gc
import random

import pytest
from py4j.clientserver import ClientServerConnection

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
# exchange (and a sort-merge join's sort); the filter is the join keys'
# isnotnull
_PASS_THROUGH = {
    "BroadcastExchangeExec", "ShuffleExchangeExec", "SortExec", "FilterExec",
}


def _children(node) -> list:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _walk(node, ident, seen=None):
    """Every distinct physical node, descending into adaptive plans and
    cached relations."""
    seen = set() if seen is None else seen
    if ident(node) in seen:
        return
    seen.add(ident(node))
    yield node
    for c in _children(node):
        yield from _walk(c, ident, seen)


def test_band_self_join_reads_the_cached_band_table(spark, docs, monkeypatch):
    persisted = []

    def keep(result, to_free):
        persisted.extend(to_free)
        return result

    monkeypatch.setattr(dedup, "finalize", keep)
    df = dedup.ngram_jaccard_pairs(docs)
    # Building the sibling operators must leave the cache entries alone:
    # dropping a spark.sql temp view re-caches every unloaded entry whose
    # plan holds the view's plan, and a signature view would take the
    # band table out of this plan (each self-join side then recomputes
    # the whole band pipeline).
    dedup.minhash_lsh_pairs(docs)
    dedup.simhash_signature(docs)
    try:
        ident = spark._jvm.System.identityHashCode
        nodes = list(_walk(df._jdf.queryExecution().executedPlan(), ident))
        joins = [
            n for n in nodes
            if n.getClass().getSimpleName().endswith("JoinExec")
            and "band_id" in n.leftKeys().toString()
        ]
        assert len(joins) == 1
        for side in _children(joins[0]):
            while side.getClass().getSimpleName() in _PASS_THROUGH:
                side = _children(side)[0]
            assert side.getClass().getSimpleName() == "InMemoryTableScanExec"
            assert "band_hash" in side.output().toString()
        band_chains = [
            n for n in nodes
            if n.getClass().getSimpleName() == "GenerateExec"
            and "posexplode" in n.generator().toString()
        ]
        assert len(band_chains) == 1
    finally:
        for p in persisted:
            p.unpersist()


def _round_trips(build) -> int:
    """Py4J commands sent while ``build()`` constructs its plan. py4j's
    object-release commands arrive whenever Python frees a JVM handle, so
    the cheapest of three builds after a warm-up is the count."""
    send = ClientServerConnection.send_command
    build()
    counts = []
    for _ in range(3):
        commands = []

        def counted(self, command, *args, **kwargs):
            commands.append(command)
            return send(self, command, *args, **kwargs)

        gc.collect()
        gc.disable()
        ClientServerConnection.send_command = counted
        try:
            build()
        finally:
            ClientServerConnection.send_command = send
            gc.enable()
        counts.append(len(commands))
    return min(counts)


def test_dedup_builds_in_few_py4j_round_trips(spark, docs):
    # a Column-API build sends one command per expression node: ~300
    # for minhash_lsh_pairs and ~140 for simhash_signature
    assert 0 < _round_trips(lambda: dedup.minhash_lsh_pairs(docs)) <= 250
    assert 0 < _round_trips(lambda: dedup.simhash_signature(docs)) <= 120
