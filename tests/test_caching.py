"""Block-manager hygiene pins (caching.finalize): every
operator that persists corpus-sized intermediates must free them before
returning — the round-4 invariant. After each operator call, at most ONE
new entry (the result's own localCheckpoint blocks, O(|result|)) may
remain in the block manager; the intermediates' MEMORY_AND_DISK blocks
must be gone, and the returned DataFrame must still be fully usable
(it is materialized, not lazily dependent on the freed blocks)."""

from __future__ import annotations

import numpy as np
import pytest

pytestmark = pytest.mark.spark


def _n_persisted(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


@pytest.fixture()
def emb(spark):
    rng = np.random.RandomState(3)
    return spark.createDataFrame(
        [(i, rng.randn(8).tolist()) for i in range(60)],
        ["vec_id", "embedding"],
    )


@pytest.fixture()
def docs(spark):
    import random

    rng = random.Random(11)
    rows = [
        (
            i,
            " ".join(
                "".join(rng.choice("abcdefghijklmnop") for _ in range(6))
                for _ in range(10)
            ),
            "en",
        )
        for i in range(20)
    ]
    rows += [(100, "an exact duplicate pair text", "en"),
             (101, "an exact duplicate pair text", "en")]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_ann_operators_free_intermediates(spark, emb):
    from tesseract_recognize_spark.operators.similarity import (
        embedding_cosine_pairs,
        ivf_topk,
        lsh_topk,
    )

    for build in (
        lambda: lsh_topk(emb, dim=8, k=3, bits=2),
        lambda: lsh_topk(emb, dim=8, k=3, bits=2, n_tables=3),
        lambda: ivf_topk(emb, dim=8, k=3, nprobe=2, centroid_stride=7),
        lambda: embedding_cosine_pairs(emb, dim=8, threshold=0.5, bits=2),
    ):
        before = _n_persisted(spark)
        out = build()
        rows = out.collect()
        assert len(rows) > 0
        # only the result's checkpoint blocks may be new — the persisted
        # projections (base / assigned) must be unpersisted already
        assert _n_persisted(spark) - before <= 1
        assert out.count() == len(rows)  # still usable post-cleanup


def test_ngram_jaccard_frees_intermediates(spark, docs):
    from tesseract_recognize_spark.operators.dedup import ngram_jaccard_pairs

    before = _n_persisted(spark)
    out = ngram_jaccard_pairs(docs, threshold=0.8)
    rows = out.collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(100, 101)}
    assert _n_persisted(spark) - before <= 1


def test_connected_components_frees_edges(spark):
    from pyspark.sql import Row

    from tesseract_recognize_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3)],
        "doc_a: bigint, doc_b: bigint",
    )
    for driver_max_edges in (200_000, 0):
        before = _n_persisted(spark)
        out = connected_components(pairs, driver_max_edges=driver_max_edges)
        got = {r["node"]: r["component_id"] for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 1}
        # the driver path keeps no blocks; the star rounds' edge
        # generations are localCheckpoints cleaned by ContextCleaner
        # (GC-based), so a small constant of those (rounds+1 on this
        # 2-hop graph) may linger until the next sweep
        limit = 5 if driver_max_edges == 0 else 0
        assert _n_persisted(spark) - before <= limit


def test_finalize_runs_every_unpersist_and_reraises_first_error(monkeypatch):
    """One failed free must not strand the remaining blocks: every
    intermediate is freed, then the first error propagates."""
    from tesseract_recognize_spark import caching

    calls = []

    class _Result:
        def localCheckpoint(self, eager):
            calls.append(("checkpoint", eager))
            return "checkpointed"

    def free(df):
        name, fail = df
        calls.append(name)
        if fail:
            raise RuntimeError(name)

    monkeypatch.setattr(caching, "_free", free)
    with pytest.raises(RuntimeError, match="^a$"):
        caching.finalize(_Result(), [("a", True), ("b", False), ("c", True)])
    assert calls == [("checkpoint", True), "a", "b", "c"]
    calls.clear()
    assert caching.finalize(_Result(), [("b", False)]) == "checkpointed"
    assert calls == [("checkpoint", True), "b"]


def test_release_frees_persisted_and_materialized_frames(spark):
    """``release`` drops a persisted frame's cache blocks and a
    materialized frame's checkpoint blocks alike."""
    from tesseract_recognize_spark.caching import materialize, release

    before = _n_persisted(spark)
    persisted = spark.range(100).persist()
    persisted.count()
    materialized = materialize(spark.range(100).selectExpr("id * 2 AS x"))
    assert _n_persisted(spark) - before == 2
    release([persisted, materialized])
    assert _n_persisted(spark) == before
