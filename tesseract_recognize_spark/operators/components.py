"""Connected components over duplicate-pair edges — the step that turns
pairwise dedup verdicts into keep/drop decisions.

Near-duplicate detection (MinHash-LSH → Jaccard verify, or
embedding-cosine) emits PAIRS, but a training corpus needs CLUSTERS: if
A≈B and B≈C, all three are one duplicate group even when (A, C) never
surfaced as a candidate.

The distributed path is the alternating large-star/small-star edge
rewrite (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14). Each round rewires edges toward per-neighborhood
minima (large-star rewires larger neighbors, small-star collapses the
rest), which HALVES remaining tree heights per round instead of shaving
one hop: O(log n)-ish rounds even on long chains, where min-label
propagation needs diameter rounds. Each round is pure DataFrame ops
(self-union, window min, distinct); the driver only orchestrates rounds
and checks convergence (an intentional sync point, the same pattern
GraphX/GraphFrames use for iterative algorithms; Spark has no native
fixpoint operator). Below ``driver_max_edges`` distinct symmetric
edges, an adaptive fast path computes the identical closure as
driver-side union-find instead, over the pair list collected in one
bounded job — one distributed round costs more than the whole closure
there (see ``connected_components``).

Lineage/memory discipline: every generation, the first one built
straight from the pair rows included, is materialized
(``caching.materialize``: an eager localCheckpoint — persist alone would
cache blocks but the LOGICAL plan still nests every prior round, so
plan-analysis cost compounds per iteration, the classic iterative-Spark
trap; the checkpoint truncates lineage to the materialized blocks, and
the pair subtree runs once, not per round). Superseded generations are
rebound and their blocks freed by Spark's ContextCleaner once the
driver reference drops, so the steady-state footprint is O(1)
generations alive plus whatever the cleaner hasn't yet swept, never the
full round history. Like every checkpoint, a generation cannot be
recomputed: an executor lost mid-call fails the call (see ``caching``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType

from tesseract_recognize_spark.caching import materialize

__all__ = ["DRIVER_MAX_EDGES", "MAX_ROUNDS", "connected_components"]

# star rounds before giving up: O(log n) rounds suffice, so a 1000-node
# chain converges well inside it (tests patch it to force the error)
MAX_ROUNDS = 25
DRIVER_MAX_EDGES = 200_000  # default small-graph threshold (see below)


def _driver_components(pdf, max_edges: int):
    """Exact min-label closure on the driver over the collected (u, v)
    pair rows (u != v; duplicates and either orientation allowed), or
    ``None`` when there are more than ``max_edges`` rows or distinct
    symmetric edges: path-compressed union-find with union-by-minimum,
    so each set's root IS its minimum id — the identical
    (node, component-min) labeling the star rounds converge to,
    computed in one pass over the rows."""
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
    one action per round instead of the former count()+count()+exceptAll
    (three jobs per round). A hash collision can only cost one extra exact
    confirmation (the caller re-checks with exceptAll before returning),
    never a wrong fixpoint."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("sh"),
    ).first()
    return tuple(row)


def _alternating_star(fwd: DataFrame) -> DataFrame:
    """Alternate large-star/small-star until the edge set is stable. The
    first generation is the pair rows ``fwd`` (u, v), u != v, oriented
    big→small and deduplicated. At the fixpoint the edges form stars
    (node → component minimum): large-star maps a star to itself and
    small-star preserves it, so set equality of consecutive generations
    IS the fixpoint test. Per round the test is ONE aggregate
    (``_edge_sig``); only when the signatures match is the equality
    confirmed exactly (equal counts + empty exceptAll — both generations
    are distinct edge sets), so the exact check runs once at the
    fixpoint instead of every round."""
    cur = materialize(
        fwd.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
    )
    cur_sig = _edge_sig(cur)
    for _ in range(MAX_ROUNDS):
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
        f"connected_components: no fixpoint in {MAX_ROUNDS} rounds "
        "(expected O(log n) — raise MAX_ROUNDS)"
    )


def connected_components(
    pairs: DataFrame, driver_max_edges: int = DRIVER_MAX_EDGES
) -> DataFrame:
    """(node, component_id) for every node in ``pairs`` (doc_a, doc_b);
    component_id is the minimum node id in the component — deterministic,
    engine-exact (the DuckDB oracle's recursive reachability closure
    agrees value for value). Nodes not in any pair are absent (caller
    coalesces singleton docs to themselves). Raises after ``MAX_ROUNDS``
    non-converged star rounds rather than returning a partial labeling.

    ``driver_max_edges`` — adaptive small-graph fast path (the broadcast-
    small-side pattern applied to the fixpoint): when the graph has at
    most this many DISTINCT symmetric edges, the exact closure runs as
    driver-side union-find instead of the distributed star rounds. A
    verified near-duplicate pair list is bounded by the duplicate rate,
    not the corpus, so it is routinely thousands of rows — where every
    distributed round costs more in job scheduling and exchanges than
    the entire union-find (measured sf0.1: ~1-2 s of round jobs for 50
    edges). The size probe IS the collect: one job brings back at most
    ``driver_max_edges + 1`` pair rows (with Arrow on, as
    ``build_session`` sets it, the collect of a limit runs as one job; a
    row collect of a limit runs one job per round of partitions it
    scans). A full pair list is checked on the driver
    against the threshold; a list that hits the limit takes the rounds
    without being counted, which decides differently from counting only
    for a list holding each pair more than twice. 200k edges ≈ a few MB
    collected — far under any sane ``spark.driver.maxResultSize`` — and
    beyond the threshold the star rounds take over unchanged. Set
    ``driver_max_edges=0`` to force the distributed path (the round
    tests and the ``dedup_components_star`` query do)."""
    fwd = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).where(F.col("u") != F.col("v"))
    out = _driver_components(
        fwd.limit(driver_max_edges + 1).toPandas(), driver_max_edges
    )
    if out is None:
        return _alternating_star(fwd)
    utype = fwd.schema["u"].dataType
    schema = StructType(
        [
            StructField("node", utype, True),
            StructField("component_id", utype, True),
        ]
    )
    return pairs.sparkSession.createDataFrame(out, schema=schema)
