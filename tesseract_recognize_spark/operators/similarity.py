"""Similarity search over embedding columns (array<float>).

Every similarity is a dot product folded LEFT TO RIGHT over the
dimensions — ``_fold`` in the Arrow ``mapInPandas`` stages and the
pandas-UDF pair verify, ``_dot_sql`` in SQL — so each one is
bit-identical to the DuckDB oracles' sequential list dot product:

  * brute-force top-k cosine — the exact baseline. The bounded query
    set (``n_queries``) is collected and broadcast; each corpus batch
    scores against it and keeps only its local per-query top-k; one
    shuffle for the per-query top-k window.
  * LSH-bucketed top-k — the 100-TB path: sign-random-projection buckets
    (hyperplanes derived deterministically from md5 of the dimension
    index) prune the candidate set to same-bucket vectors before the
    exact re-rank. Recall < 1.0 by construction; bucket bits trade recall
    for cost. ``embedding_cosine_pairs`` is its threshold sibling.
  * IVF top-k — sampled centroid cells, nprobe-cell equi-join + exact
    re-rank.
"""

from __future__ import annotations

import hashlib
import math

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from tesseract_recognize_spark.caching import finalize
from tesseract_recognize_spark.partitioning import spread_small_scan

__all__ = [
    "brute_force_topk",
    "lsh_signs",
    "lsh_topk",
    "ivf_topk",
    "two_phase_topk",
    "embedding_cosine_pairs",
]


def two_phase_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over a (vec_id, neighbor_id, sim) pair set, executed
    as a physically two-phase plan with exactly ONE exchange.

    The implementation is a plain ``row_number() <= k`` window filter —
    Catalyst's rank-limit pushdown (``WindowGroupLimit``, Spark ≥ 3.5; this
    repo pins 4.1) rewrites it into the two-phase physical shape:

        Sort (partition-local)
        WindowGroupLimit Partial   ← map-side per-vec_id top-k prune
        Exchange hash(vec_id)      ← carries ≤ k rows per (query, map
        Sort                          partition) — NOT the full pair set
        WindowGroupLimit Final
        Window

    so no reducer ever receives a query's full candidate set (at 10^9
    corpus vectors an unpruned per-vec_id exchange is a straggler wall),
    and the pruned exchange is the only shuffle this operator adds. Earlier
    hand-rolled variants (round 2: rank over (vec_id, spark_partition_id())
    — shuffled the FULL pair set once before pruning; round 4 draft:
    sortWithinPartitions + a mapInArrow run-length scan — same plan shape
    but with an extra Python stage and a second local sort) are strictly
    dominated by letting the optimizer do it. Ordering is deterministic:
    desc sim, ties broken on asc neighbor_id.
    """
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "neighbor_id")
    )


def _fold(a, b):
    """Σ_d a[..., d] · b[..., d], added LEFT TO RIGHT over the last axis.

    The one summation order the oracles depend on: bit-identical to the
    unrolled SQL chain (``_dot_sql``) and the DuckDB oracles' list dot
    product, which np.dot's pairwise summation would not be.
    Broadcasting picks the shape: (B,D)·(B,D) gives B row dots;
    (B,1,D)·(1,M,D) gives a B×M score matrix."""
    acc = a[..., 0] * b[..., 0]
    for d in range(1, a.shape[-1]):
        acc = acc + a[..., d] * b[..., d]
    return acc


def _dot_sql(a: str, b: str, dim: int) -> str:
    """The dot product of two array columns, unrolled left to right
    (the ``_fold`` order) as ONE SQL fragment over column NAMES.

    Built as a single string: the Column-object form makes ~3·dim py4j
    calls per dot, which put >10s of pure driver-side expression
    construction into every ANN query (measured; the multi-table query
    builds 16 unrolled projections + norms + the pair dot). One
    ``F.expr`` string is one py4j call and parses JVM-side in
    milliseconds."""
    return "(" + " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})"
        for i in range(1, dim + 1)
    ) + ")"


def _pair_dot_lr(a: Column, b: Column) -> Column:
    """Vectorized pair dot product (``_fold`` over two vector columns) —
    bit-identical to the unrolled SQL chain (_dot_sql), but
    Arrow-batched instead of a >64 KB interpreted expression tree. For
    join projections where both vectors are columns (candidate verify
    paths). The UDF object is built lazily (pandas_udf parses its DDL
    against the active session, so a module-level decorator would
    require a SparkSession at import time)."""

    def dot_lr(pa, pb):
        import numpy as np
        import pandas as pd

        if len(pa) == 0:
            return pd.Series(np.zeros(0, dtype=np.float64))
        return pd.Series(
            _fold(np.vstack(pa.to_numpy()), np.vstack(pb.to_numpy()))
        )

    return F.pandas_udf(dot_lr, "double")(a, b)


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id bigint, v array<double>) from a (vec_id, embedding) table,
    spread over the session's cores first (a small scan is one task)."""
    return spread_small_scan(emb, "vec_id").select(
        F.col("vec_id").cast("bigint").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )


def brute_force_topk(
    emb: DataFrame, dim: int, n_queries: int, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors over the whole corpus for each query
    vector ``vec_id < n_queries``.

    Output: (vec_id, rank, neighbor_id) — the similarity itself is kept
    internal so downstream equality checks are float-free; ties break on
    neighbor id (deterministic). Norms are precomputed once per vector
    (not once per pair).

    The query block is collected to a numpy matrix and broadcast, so it
    must be small. Every corpus×query similarity is computed inside one
    Arrow ``mapInPandas`` stage with the left-to-right ``_fold``, and
    each batch emits only its per-query top-k (ties: sim desc,
    neighbor_id asc — a batch's global-top-k members are always inside
    its local top-k, so the prune is lossless). ≤ k·|batches| rows per
    query reach ``two_phase_topk``'s one exchange: the numpy analog of
    the map-side WindowGroupLimit prune, minus ~20 μs/dot of
    interpreted-expression tax (the 64-term chain exceeds Janino's
    64 KB codegen limit)."""
    if n_queries < 1:
        raise ValueError(
            f"brute_force_topk: n_queries must be >= 1, got {n_queries}"
        )
    base = _vectors(emb).withColumn(
        "norm", F.expr(f"sqrt({_dot_sql('v', 'v', dim)})")
    )
    spark = base.sparkSession
    q_rows = sorted(
        base.filter(F.col("vec_id") < n_queries).collect(),
        key=lambda r: r["vec_id"],
    )
    if not q_rows:
        return spark.createDataFrame(
            [], "vec_id bigint, rank int, neighbor_id bigint"
        )
    import numpy as np

    bcast = spark.sparkContext.broadcast((
        np.array([list(r["v"]) for r in q_rows], dtype=np.float64),
        np.array([r["norm"] for r in q_rows], dtype=np.float64),
        np.array([r["vec_id"] for r in q_rows], dtype=np.int64),
    ))

    def score(batches):
        import numpy as np
        import pandas as pd

        qm, qnorm, qids = bcast.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.vstack(pdf["v"].to_numpy())
            norms = pdf["norm"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            sim = _fold(vm[:, None, :], qm[None, :, :]) / (
                qnorm[None, :] * norms[:, None]
            )
            sim[ids[:, None] == qids[None, :]] = -np.inf  # self pairs
            take = min(k, len(pdf))
            out_q, out_n, out_s = [], [], []
            for j in range(qm.shape[0]):
                sel = np.lexsort((ids, -sim[:, j]))[:take]
                sel = sel[ids[sel] != qids[j]]
                out_q.append(np.full(len(sel), qids[j]))
                out_n.append(ids[sel])
                out_s.append(sim[sel, j])
            yield pd.DataFrame({
                "vec_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "sim": np.concatenate(out_s),
            })

    pairs = base.mapInPandas(
        score, "vec_id bigint, neighbor_id bigint, sim double"
    )
    return two_phase_topk(pairs, k)


def lsh_signs(b: int, dim: int, table: int = 0) -> list[int]:
    """Hyperplane h_b's ±1 components: deterministic md5 of "b|d" (table 0;
    table t>0 prefixes "t{t}:") — no RNG, reproducible in any engine (the
    DuckDB oracle is generated from the same constants)."""
    prefix = "" if table == 0 else f"t{table}:"
    return [
        1 if int(hashlib.md5(f"{prefix}{b}|{d}".encode()).hexdigest(), 16) & 1
        else -1
        for d in range(dim)
    ]


def _lsh_project(
    emb: DataFrame, dim: int, bits: int, n_tables: int
) -> DataFrame:
    """The persisted LSH projection (vec_id, v, norm, tbl, bucket): one row
    per (vector, table), bucket = Σ_b 2^b · [⟨v, h_b⟩ > 0] over table
    ``tbl``'s hyperplanes (``lsh_signs``).

    Norms and every table's bucket compute in ONE Arrow ``mapInPandas``
    over the corpus with the left-to-right ``_fold`` (the unrolled SQL
    chains blow Janino's 64 KB codegen budget and fall to ~20 µs/dot
    interpreted); the (tbl, bucket) explode is done in-batch.

    The projection feeds BOTH sides of the caller's self-join.
    Unpersisted, it runs twice and is re-planned per AQE stage;
    persisted, the downstream plan sees a small InMemoryRelation leaf
    and the projection runs once. Footprint is the vector table +
    (norm, tbl, bucket) — MEMORY_AND_DISK spills gracefully. The
    OPERATOR owns cleanup (round-4 invariant): the caller materializes
    its bounded result eagerly and frees this before returning — see
    caching.finalize."""
    import numpy as np

    signs = np.array(
        [
            [lsh_signs(b, dim, t) for b in range(bits)]
            for t in range(n_tables)
        ],
        dtype=np.float64,
    )  # (T, bits, dim)
    pows = (1 << np.arange(bits, dtype=np.int64))
    bcast = emb.sparkSession.sparkContext.broadcast((signs, pows))

    def prep(batches):
        import numpy as np
        import pandas as pd

        s, p = bcast.value
        n_t = s.shape[0]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.vstack(pdf["v"].to_numpy())
            proj = _fold(vm[:, None, None, :], s[None])  # (B, T, bits)
            bks = ((proj > 0) * p).sum(axis=2)  # (B, T)
            rep = np.repeat(np.arange(len(pdf)), n_t)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy()[rep],
                "v": pdf["v"].to_numpy()[rep],
                "norm": np.sqrt(_fold(vm, vm))[rep],
                "tbl": np.tile(np.arange(n_t), len(pdf)),
                "bucket": bks.ravel(),
            })

    return _vectors(emb).mapInPandas(
        prep, "vec_id bigint, v array<double>, norm double, "
              "tbl int, bucket bigint",
    ).persist(StorageLevel.MEMORY_AND_DISK)


def lsh_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    bits: int = 8,
    n_queries: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine re-rank. The bucket equi-join replaces the cross
    product — the piece that makes ANN feasible at 10^12 rows.

    ``n_tables > 1`` runs the standard multi-table LSH recall boost: T
    independent hyperplane families, a candidate qualifies if it shares a
    bucket in ANY table (equi-join on (tbl, bucket) over
    ``_lsh_project``'s rows, dedup pairs with a max-aggregate before the
    re-rank). Recall rises roughly as 1-(1-p^bits)^T for per-plane
    agreement p; cost rises ~T× in bucket-join fan-out, still never the
    O(n²) cross product. The candidate verify dot is the vectorized
    pandas-UDF pair fold."""
    base = _lsh_project(emb, dim, bits, n_tables)
    queries = base.filter(F.col("vec_id") < n_queries) if n_queries else base
    q, c = queries.alias("q"), base.alias("c")
    sim = _pair_dot_lr(F.col("q.v"), F.col("c.v")) / (
        F.col("q.norm") * F.col("c.norm")
    )
    pairs = q.join(
        c,
        (F.col("q.vec_id") != F.col("c.vec_id"))
        & (F.col("q.tbl") == F.col("c.tbl"))
        & (F.col("q.bucket") == F.col("c.bucket")),
    ).select(
        F.col("q.vec_id").alias("vec_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        sim.alias("sim"),
    )
    if n_tables > 1:
        # a pair found in several tables must count once; sim is identical
        # on every copy so any aggregate works — max keeps it codegen
        pairs = pairs.groupBy("vec_id", "neighbor_id").agg(
            F.max("sim").alias("sim")
        )
    return finalize(two_phase_topk(pairs, k), [base])


def ivf_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    nprobe: int = 3,
    centroid_stride: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: an inverted-file index over centroid
    cells — the other classic ANN scale path next to ``lsh_topk``.

    Index build (one pass, no iteration):
      * centroid set: every ``centroid_stride``-th vector of the corpus
        itself (vec_id % stride == 0) — deterministic sampled centroid set,
        i.e. a k-means++-style init with zero Lloyd refinement, fully
        reproducible in any engine (the DuckDB oracle derives the same
        cells from the same rule). With ``centroid_stride=None`` (the
        default) the stride is ADAPTIVE: ``max(1, N // isqrt(N))``, so
        the cell count tracks √N. A fixed stride makes the cell count
        grow linearly with the corpus and the assignment cross-score
        O(N²/stride) — measured 58× wall for 10× docs at sf1 before
        this rule; √N cells balances assignment and probe at O(N^1.5),
        the textbook IVF sizing. The one extra cost is a count() of the
        input (parquet metadata count when ``emb`` is a plain scan).
      * assignment: collect the (√N by construction) centroid table to
        a numpy matrix, broadcast it, and score each corpus vector
        against every centroid inside ONE Arrow ``mapInPandas`` stage —
        a vectorized (batch × dim)·(dim × cells) product folded
        LEFT-TO-RIGHT over the dimensions (``_fold``), so every
        similarity is bit-identical to the unrolled SQL chain the
        DuckDB oracle evaluates. The per-vector rank-≤nprobe prune
        happens in the same batch (stable argsort on -sim ⇒ ties break
        on ascending centroid id, the SQL ``DESC, c_id ASC`` order), so
        the stage emits ≤ nprobe rows per vector and NOTHING shuffles
        for the assignment at all. The earlier crossJoin +
        WindowGroupLimit formulation had the right exchange shape but
        evaluated the N·cells dot products as a 64-term interpreted
        expression chain (too large for Janino's 64 KB codegen limit) —
        measured ~20 μs per dot vs ~0.1 μs for the Arrow fold at sf1.
        One NaN caveat, irrelevant for finite inputs: Spark sorts NaN as
        the largest double while numpy's argsort places it last.

    Search: a query probes its ``nprobe`` nearest cells (same window,
    rank ≤ nprobe) and exact-cosine re-ranks only the vectors ASSIGNED
    to those cells — an equi-join on cell id, the same
    never-the-cross-product shape as the LSH bucket join. Each corpus
    vector owns exactly ONE cell, so a (query, neighbor) pair occurs at
    most once and needs no dedup before the top-k. Recall < 1 by
    construction: a true neighbor is missed iff its one cell is not
    among the query's nprobe probes; nprobe trades recall for candidate
    volume (nprobe = n_cells is exact search).

    Output: (vec_id, rank, neighbor_id) — floats stay internal, like
    every ANN operator here. The assigned projection feeds both join
    sides and is persisted; the operator owns the cleanup — the top-k
    result materializes eagerly and the projection is freed before
    return (as with lsh_topk).
    """
    base = _vectors(emb).withColumn(
        "norm", F.expr(f"sqrt({_dot_sql('v', 'v', dim)})")
    )
    if centroid_stride is None:
        # adaptive √N cells; isqrt is integer-exact, and the DuckDB
        # oracle reproduces it with a float-sqrt + ±1 correction CTE
        n_vecs = emb.count()
        centroid_stride = max(1, n_vecs // max(1, math.isqrt(n_vecs)))
    cent = base.filter(F.col("vec_id") % centroid_stride == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )

    # centroid set is √N (adaptive default): small by contract, same
    # size class the old formulation broadcast to every executor.
    # Sorted ascending so stable-argsort tie-break == c_id ASC.
    cent_rows = sorted(cent.collect(), key=lambda r: r["c_id"])
    spark = emb.sparkSession
    if not cent_rows:
        return spark.createDataFrame(
            [], "vec_id bigint, rank int, neighbor_id bigint"
        )
    import numpy as np

    bcast = spark.sparkContext.broadcast((
        np.array([list(r["cv"]) for r in cent_rows], dtype=np.float64),
        np.array([r["cnorm"] for r in cent_rows], dtype=np.float64),
        np.array([r["c_id"] for r in cent_rows], dtype=np.int64),
    ))

    def assign(batches):
        import numpy as np
        import pandas as pd

        cm, cnorm, cids = bcast.value
        take = min(nprobe, cm.shape[0])
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vm = np.vstack(pdf["v"].to_numpy())
            norms = pdf["norm"].to_numpy()
            sim = _fold(vm[:, None, :], cm[None, :, :]) / (
                norms[:, None] * cnorm[None, :]
            )
            idx = np.argsort(-sim, axis=1, kind="stable")[:, :take]
            rep = np.repeat(np.arange(len(pdf)), take)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy()[rep],
                "v": pdf["v"].to_numpy()[rep],
                "norm": norms[rep],
                "cell": cids[idx.ravel()],
                "rn": np.tile(np.arange(1, take + 1), len(pdf)),
            })

    assigned = base.mapInPandas(
        assign, "vec_id bigint, v array<double>, norm double, "
                "cell bigint, rn int",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    corpus = assigned.filter(F.col("rn") == 1)
    probes = assigned if n_queries is None else assigned.filter(
        F.col("vec_id") < n_queries
    )
    q, c = probes.alias("q"), corpus.alias("c")
    sim = F.expr(_dot_sql("q.v", "c.v", dim)) / (
        F.col("q.norm") * F.col("c.norm")
    )
    pairs = q.join(
        c,
        (F.col("q.cell") == F.col("c.cell"))
        & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("vec_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        sim.alias("sim"),
    )
    return finalize(two_phase_topk(pairs, k), [assigned])


def embedding_cosine_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.9,
    bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (vec_a < vec_b) whose
    cosine similarity ≥ threshold, with candidates restricted to vectors
    sharing an LSH bucket — the dedup-flavored sibling of ``lsh_topk``
    (threshold semantics instead of top-k; both sides the full corpus
    instead of a query set; one hyperplane table).

    Scale shape: the bucket equi-join replaces the O(n²) cross product —
    at 10^12 vectors all-pairs cosine is impossible, while same-bucket
    pairs are ~n·E[bucket size]. Recall < 1 by construction (a near-dup
    pair is missed iff any of the ``bits`` hyperplanes separates it:
    P[all agree] = (1 - θ/π)^bits, high exactly for the near-parallel
    pairs dedup cares about); ``bits`` trades recall for candidate
    volume. The projection is ``_lsh_project``'s, persisted and freed
    the same way (the thresholded pair list materializes eagerly); the
    per-candidate verify dot is the vectorized pandas-UDF pair fold.
    """
    base = _lsh_project(emb, dim, bits, 1)
    a, b = base.alias("a"), base.alias("b")
    sim = _pair_dot_lr(F.col("a.v"), F.col("b.v")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(sim >= F.lit(float(threshold)))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
    )
    return finalize(pairs, [base])
