"""Fixpoint pins for connected_components (operators/components.py):
multi-hop closure, component isolation, determinism — the distributed
star rounds checked against the driver union-find's exact min-label
closure."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from tesseract_recognize_spark.operators import components
from tesseract_recognize_spark.operators.components import (
    connected_components,
)


def _pairs(spark, edges):
    return spark.createDataFrame(
        [Row(doc_a=a, doc_b=b) for a, b in edges],
        "doc_a: bigint, doc_b: bigint",
    )


def _labels(spark, edges, **kw):
    return {
        r["node"]: r["component_id"]
        for r in connected_components(_pairs(spark, edges), **kw).collect()
    }


def test_chain_propagates_across_hops(spark):
    # 10-9-8-7 chain: min label 7 must travel 3 hops (strictly more
    # rounds than a single neighbor-join); 1-2 separate component
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(
            _pairs(spark, [(10, 9), (9, 8), (8, 7), (1, 2)]),
            driver_max_edges=0,
        ).collect()
    }
    assert got == {7: 7, 8: 7, 9: 7, 10: 7, 1: 1, 2: 1}


def test_triangle_with_redundant_edges(spark):
    # near-clique (the LSH-pair shape) incl. duplicate/reversed edges
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(
            _pairs(spark, [(5, 6), (6, 7), (5, 7), (7, 5), (5, 6)]),
            driver_max_edges=0,
        ).collect()
    }
    assert got == {5: 5, 6: 5, 7: 5}


def test_max_iter_raises_instead_of_partial(spark, monkeypatch):
    # the 4-chain needs two star rounds; a one-round cap must raise
    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match="no fixpoint in 1 rounds"):
        connected_components(
            _pairs(spark, [(4, 3), (3, 2), (2, 1)]), driver_max_edges=0
        )


@pytest.mark.parametrize(
    "edges",
    [
        # chain
        [(5, 4), (4, 3), (3, 2), (2, 1)],
        # clique with redundant/reversed edges (the LSH-pair shape)
        [(5, 6), (6, 7), (5, 7), (7, 5), (5, 6)],
        # mixed: chain + clique + isolated pair
        [(10, 9), (9, 8), (8, 7), (1, 2), (20, 21), (21, 22), (20, 22)],
    ],
)
def test_star_equals_label(spark, edges):
    """The distributed large-star/small-star rounds must produce the
    identical (node → component-min) labeling as the driver union-find's
    exact min-label closure on every topology."""
    star = _labels(spark, edges, driver_max_edges=0)
    assert star == _labels(spark, edges)


def test_star_equals_label_random_graph(spark):
    """Seeded random graph: same labeling from the star rounds and the
    driver union-find."""
    import random

    rng = random.Random(7)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    star = _labels(spark, edges, driver_max_edges=0)
    assert star == _labels(spark, edges)


def test_edge_sig_distinguishes_equal_count_sets(spark):
    """The one-aggregate fixpoint signature (round-6 star optimization)
    must differ for same-size edge sets that differ only in pairing —
    here both sets share count, Σu AND Σv, so only the xxhash64 term can
    tell them apart (the case the former count()-only shortcut missed) —
    and must be invariant to row order and partitioning."""
    from tesseract_recognize_spark.operators.components import _edge_sig

    a = spark.createDataFrame([(5, 1), (6, 2)], "u: bigint, v: bigint")
    b = spark.createDataFrame([(5, 2), (6, 1)], "u: bigint, v: bigint")
    assert _edge_sig(a) != _edge_sig(b)
    a2 = spark.createDataFrame(
        [(6, 2), (5, 1)], "u: bigint, v: bigint"
    ).repartition(7)
    assert _edge_sig(a) == _edge_sig(a2)


def test_star_converges_on_long_chain(spark):
    """A 1000-node chain has diameter 999: min-label propagation would
    need ~999 rounds, while the star rewrite halves remaining heights per
    round, so the default distributed call converges inside
    ``MAX_ROUNDS`` — the 10^12-edge adversarial-topology scale path."""
    got = _labels(spark, [(i + 1, i) for i in range(999)], driver_max_edges=0)
    assert len(got) == 1000
    assert set(got.values()) == {0}


def test_distributed_path_materializes_once_before_round_one(
    spark, monkeypatch
):
    """The first star generation is built straight from the pair rows:
    one materialization before the first round, not an edge list plus a
    generation."""
    events = []
    materialize, large_star = components.materialize, components._large_star

    def counting_materialize(df):
        events.append("materialize")
        return materialize(df)

    def counting_large_star(edges):
        events.append("round")
        return large_star(edges)

    monkeypatch.setattr(components, "materialize", counting_materialize)
    monkeypatch.setattr(components, "_large_star", counting_large_star)
    got = _labels(spark, [(3, 2), (2, 1)], driver_max_edges=0)
    assert got == {1: 1, 2: 1, 3: 1}
    assert "round" in events
    assert events[: events.index("round")] == ["materialize"]


def test_driver_fast_path_equals_distributed(spark):
    """Round-6 adaptive fast path: below driver_max_edges the closure
    runs as driver-side union-find — the labeling must be identical to
    the distributed star rounds on the same graph (chain + clique +
    redundant/reversed edges + isolated pair)."""
    import random

    rng = random.Random(13)
    nodes = list(range(80))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(110)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(200, 201), (201, 202), (202, 200), (200, 201), (300, 301)]

    fast = _labels(spark, edges)  # default threshold >> |edges|
    assert fast == _labels(spark, edges, driver_max_edges=0)


def test_driver_fast_path_schema_and_types(spark):
    """The fast path must return the same (node, component_id) schema and
    id types as the distributed rounds (bigint ids — the id contract the
    star rounds' decimal/hash aggregates assume)."""
    pairs = _pairs(spark, [(2, 1), (2, 9)])
    fast = connected_components(pairs)
    slow = connected_components(pairs, driver_max_edges=0)
    assert fast.schema.fieldNames() == slow.schema.fieldNames()
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in slow.schema.fields
    ]
    as_map = {r["node"]: r["component_id"] for r in fast.collect()}
    assert as_map == {1: 1, 2: 1, 9: 1}
    assert as_map == {r["node"]: r["component_id"] for r in slow.collect()}
