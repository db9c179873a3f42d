"""Connected components over duplicate-pair edges — the step that turns
pairwise dedup verdicts into keep/drop decisions.

Near-duplicate detection (MinHash-LSH → Jaccard verify, or
embedding-cosine) emits PAIRS, but a training corpus needs CLUSTERS: if
A≈B and B≈C, all three are one duplicate group even when (A, C) never
surfaced as a candidate. Two interchangeable algorithms, same output:

  * ``algorithm="label"`` — iterative min-label propagation::

        label(n) ← min(label(n), min over neighbors' labels)

    repeated to fixpoint. Each round is one join + one
    map-side-combinable min-aggregate; rounds = graph DIAMETER.
    Duplicate clusters are near-cliques (LSH bands surface most
    intra-cluster pairs), so diameter is 2-3 and the loop converges in a
    handful of rounds — the default for the dedup workload.
  * ``algorithm="star"`` — the alternating large-star/small-star edge
    rewrite (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14). Each round rewires edges toward per-neighborhood
    minima (large-star rewires larger neighbors, small-star collapses
    the rest), which HALVES remaining tree heights per round instead of
    shaving one hop: O(log n)-ish rounds on long chains where min-label
    needs diameter rounds. Same per-round DataFrame shape (self-union,
    min-aggregate, equi-join), same fixpoint contract — the scale path
    for adversarial chain/tree topologies at 10^12 edges.

Both are pure DataFrame ops, fully distributed; the driver only
orchestrates rounds and checks convergence (an intentional sync point,
the same pattern GraphX/GraphFrames use for iterative algorithms; Spark
has no native fixpoint operator). Below ``driver_max_edges`` distinct
symmetric edges, an adaptive fast path computes the identical closure as
driver-side union-find instead, over the pair list collected in one
bounded job — one distributed round costs more than the whole closure
there (see ``connected_components``).

Lineage/memory discipline: the edge list and every generation are
materialized (``caching.materialize``: an eager localCheckpoint — persist
alone would cache blocks but the LOGICAL plan still nests every prior
round, so plan-analysis cost compounds per iteration, the classic
iterative-Spark trap; the checkpoint truncates lineage to the
materialized blocks). The edge list is released explicitly when the
call returns (``caching.release``); superseded generations are rebound
and their blocks freed by Spark's ContextCleaner once the driver
reference drops, so the steady-state footprint is O(1) generations
alive plus whatever the cleaner hasn't yet swept, never the full round
history. Like every checkpoint, a generation cannot be recomputed: an
executor lost mid-call fails the call (see ``caching``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType

from tesseract_recognize_spark.caching import materialize, release

__all__ = ["connected_components"]


def _prep_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Distinct symmetric edge list (u, v), materialized so the (possibly
    expensive — e.g. a full Jaccard verify) pair subtree runs once, not
    per round. Each pair row emits both orientations in one pass; a
    union of two projections would run the subtree once per branch."""
    both = F.array(
        F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
    )
    return materialize(
        pairs.select(F.inline(both)).where(F.col("u") != F.col("v")).distinct()
    )


def _driver_components(pdf, max_edges: int):
    """Exact min-label closure on the driver over the collected (u, v)
    pair rows (u != v; duplicates and either orientation allowed), or
    ``None`` when there are more than ``max_edges`` rows or distinct
    symmetric edges: path-compressed union-find with union-by-minimum,
    so each set's root IS its minimum id — the identical
    (node, component-min) labeling both distributed algorithms converge
    to, computed in one pass over the rows."""
    import pandas as pd

    if len(pdf) > max_edges:
        return None
    us, vs = pdf["u"].tolist(), pdf["v"].tolist()
    undirected = {(u, v) if u < v else (v, u) for u, v in zip(us, vs)}
    if 2 * len(undirected) > max_edges:
        return None
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in undirected:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru  # larger root under smaller: root == set min
    nodes = list(dict.fromkeys(us + vs))
    return pd.DataFrame(
        {"node": nodes, "component_id": [find(n) for n in nodes]}
    )


def _label_propagation(edges: DataFrame, max_iter: int) -> DataFrame:
    labels = materialize(
        edges.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("component_id"))
    )

    def label_sum(df: DataFrame):
        # decimal(38,0): an int64 sum of 10^12 node ids would overflow
        return df.agg(
            F.sum(F.col("component_id").cast("decimal(38,0)"))
        ).first()[0]

    # min-label propagation strictly DECREASES the label sum until the
    # fixpoint, so convergence is one cheap aggregate per round instead
    # of a changed-rows join
    cur = label_sum(labels)
    for _ in range(max_iter):
        # neighbor labels flow along every (symmetric) edge, then the
        # per-node min folds them with the node's own label
        prop = edges.join(
            labels, edges["v"] == labels["node"]
        ).select(edges["u"].alias("node"), "component_id")
        labels = materialize(
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("component_id").alias("component_id"))
        )
        new = label_sum(labels)
        if new == cur:
            return labels
        cur = new
    raise RuntimeError(
        f"connected_components: no fixpoint in {max_iter} rounds "
        "(graph diameter exceeds max_iter — raise it, or use "
        'algorithm="star" for long-chain graphs)'
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Rewire every neighbor LARGER than u to u's neighborhood minimum:
    emit (v, min(Γ⁺(u))) for v ∈ Γ(u), v > u, over the symmetric view.

    The per-neighborhood minimum is a window aggregate over the SAME
    hash(u) exchange the emit projection runs on — ONE shuffle of the
    symmetric edges, where the former groupBy-min + equi-join shape
    shuffled them twice (partial mins AND the join probe side). No
    terminal distinct: duplicates cannot change ``_small_star``'s
    per-neighborhood minima, and its terminal distinct canonicalizes the
    generation — dropping a third per-round exchange."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Collapse each node's SMALLER neighborhood onto its minimum: orient
    edges big→small, emit (v, min(Γ⁺(u))) for v ∈ Γ⁺(u) \\ {min}, plus
    (u, min) for every center (the former explicit self-edge union — all
    oriented neighbors sit below u, so min < u holds unconditionally and
    the center row always survives the v ≠ min filter).

    Same one-exchange window-min shape as ``_large_star``; the terminal
    distinct both dedupes the per-row center emissions and canonicalizes
    the generation for the fixpoint signature."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    w = Window.partitionBy("u")
    st = oriented.withColumn("m", F.min("v").over(w))  # m <= v < u
    part_neighbors = st.where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    part_centers = st.select("u", F.col("m").alias("v"))
    return part_neighbors.unionByName(part_centers).distinct()


def _edge_sig(df: DataFrame) -> tuple:
    """One-aggregate generation signature: (count, Σu, Σv, Σxxhash64(u,v))
    in decimal(38,0) — overflow-free at 10^12 edges. Signature equality is
    a NECESSARY condition for edge-set equality (both generations are
    distinct sets), checked with a single map-side-combinable aggregate —
    the same one-action-per-round discipline as label-propagation's
    ``label_sum`` — instead of the former count()+count()+exceptAll (three
    jobs per round). A hash collision can only cost one extra exact
    confirmation (the caller re-checks with exceptAll before returning),
    never a wrong fixpoint."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("sh"),
    ).first()
    return tuple(row)


def _alternating_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternate large-star/small-star until the edge set is stable. At
    the fixpoint the edges form stars (node → component minimum):
    large-star maps a star to itself and small-star preserves it, so set
    equality of consecutive generations IS the fixpoint test. Per round
    the test is ONE aggregate (``_edge_sig``); only when the signatures
    match is the equality confirmed exactly (equal counts + empty
    exceptAll — both generations are distinct edge sets), so the exact
    check runs once at the fixpoint instead of every round."""
    cur = materialize(
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    )
    cur_sig = _edge_sig(cur)
    for _ in range(max_iter):
        nxt = materialize(_small_star(_large_star(cur)))
        nxt_sig = _edge_sig(nxt)
        if nxt_sig == cur_sig and nxt.exceptAll(cur).isEmpty():
            return nxt.select(
                F.col("u").alias("node"), F.col("v").alias("component_id")
            ).unionByName(
                nxt.select(
                    F.col("v").alias("node"),
                    F.col("v").alias("component_id"),
                ).distinct()
            )
        cur, cur_sig = nxt, nxt_sig
    raise RuntimeError(
        f"connected_components: star rewrite did not stabilize in "
        f"{max_iter} rounds (expected O(log n) — raise max_iter)"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    algorithm: str = "label",
    driver_max_edges: int = 200_000,
) -> DataFrame:
    """(node, component_id) for every node in ``pairs``; component_id is
    the minimum node id in the component — deterministic, engine-exact
    (the DuckDB oracle's recursive reachability closure agrees value for
    value), identical for both algorithms. Nodes not in any pair are
    absent (caller coalesces singleton docs to themselves). Raises after
    ``max_iter`` non-converged rounds rather than returning a partial
    labeling. ``algorithm``: "label" (min-label propagation, rounds =
    diameter — the near-clique dedup default) or "star" (alternating
    large-star/small-star, O(log n)-ish rounds — long-chain graphs).

    ``driver_max_edges`` — adaptive small-graph fast path (the broadcast-
    small-side pattern applied to the fixpoint): when the graph has at
    most this many DISTINCT symmetric edges, the exact closure runs as
    driver-side union-find instead of a distributed round loop. A
    verified near-duplicate pair list is bounded by the duplicate rate,
    not the corpus, so it is routinely thousands of rows — where every
    distributed round costs more in job scheduling and exchanges than
    the entire union-find (measured sf0.1: ~1-2 s of round jobs for 50
    edges). The size probe IS the collect: one job brings back at most
    ``driver_max_edges + 1`` pair rows (with Arrow on, as
    ``build_session`` sets it, the collect of a limit runs as one job; a
    row collect of a limit runs one job per round of partitions it
    scans). A full pair list is checked on the driver
    against the threshold; a list that hits the limit takes the loops
    without being counted, which decides differently from counting only
    for a list holding each pair more than twice. 200k edges ≈ a few MB
    collected — far under any sane ``spark.driver.maxResultSize`` — and
    beyond the threshold the distributed loops take over unchanged;
    ``algorithm`` selects between them only there. Set
    ``driver_max_edges=0`` to force the distributed path (the loop tests
    do)."""
    if algorithm not in ("label", "star"):
        raise ValueError(
            f"connected_components: unknown algorithm {algorithm!r} "
            '(expected "label" or "star")'
        )
    fwd = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    out = _driver_components(
        fwd.limit(driver_max_edges + 1).toPandas(), driver_max_edges
    )
    if out is not None:
        utype = fwd.schema["u"].dataType
        schema = StructType(
            [
                StructField("node", utype, True),
                StructField("component_id", utype, True),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema=schema)
    edges = _prep_edges(pairs, src, dst)
    try:
        if algorithm == "star":
            return _alternating_star(edges, max_iter)
        return _label_propagation(edges, max_iter)
    finally:
        release([edges])
