"""Seeded model-based sweeps for the ANN family (VERDICT r5 #6).

The similarity operators' internals changed in rounds 5-6 (Arrow
left-to-right fold prep, per-batch top-k prune, input spread, band
persist); these sweeps pin them against an independent numpy model the
way test_properties.py pins the temporal trio.

Float discipline: vectors are INTEGER-valued doubles with small
magnitude, so every dot product and squared norm is an exact integer in
float64 regardless of summation order — the model's numpy sums and the
operators' left-to-right folds (or unrolled SQL chains) produce
identical bits, and sim = dot / (norm_q * norm_c) is the same IEEE
expression in both. Exact ties (duplicate/scaled vectors are included
on purpose) resolve through the shared (sim desc, neighbor_id asc)
discipline, so equality below is exact, not approximate.
"""

from __future__ import annotations

import numpy as np
import pytest

from tesseract_recognize_spark.operators.similarity import (
    brute_force_topk,
    lsh_signs,
    lsh_topk,
)

PARTITION_COUNTS = (1, 7, 32)


def _gen_vecs(seed: int, n: int = 60, dim: int = 12) -> dict[int, np.ndarray]:
    rng = np.random.RandomState(seed)
    vecs = {
        i: rng.randint(-3, 4, size=dim).astype(np.float64) for i in range(n)
    }
    # force exact cosine ties: scaled copies and verbatim duplicates
    vecs[n] = vecs[0] * 2.0
    vecs[n + 1] = vecs[1].copy()
    # and a zero-risk guard: no all-zero vectors (norm 0 → NaN sim)
    for i, v in vecs.items():
        if not v.any():
            vecs[i] = np.eye(dim, dtype=np.float64)[0]
    return vecs


def _sim(vecs, a: int, b: int) -> float:
    d = float(np.dot(vecs[a], vecs[b]))  # exact: integer-valued
    na = float(np.sqrt(float(np.dot(vecs[a], vecs[a]))))
    nb = float(np.sqrt(float(np.dot(vecs[b], vecs[b]))))
    return d / (na * nb)  # same IEEE expression as the operators


def _model_topk(vecs, k, queries, cands_of) -> set[tuple[int, int, int]]:
    out = set()
    for q in queries:
        cands = [c for c in cands_of(q) if c != q]
        ranked = sorted(cands, key=lambda c: (-_sim(vecs, q, c), c))[:k]
        out.update((q, r + 1, c) for r, c in enumerate(ranked))
    return out


def _spark_df(spark, vecs, parts):
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in sorted(vecs.items())],
        ["vec_id", "embedding"],
    )
    return df.repartition(parts)


@pytest.mark.parametrize(
    "n_queries,seed,k,parts",
    # ids: "<parts>" for the 10-query set, "all-<parts>" for every vector
    [pytest.param(10, 1, 3, p, id=str(p)) for p in PARTITION_COUNTS]
    + [pytest.param(62, 0, 4, p, id=f"all-{p}") for p in PARTITION_COUNTS],
)
def test_brute_force_arrow_path_matches_model(
    spark, n_queries, seed, k, parts
):
    # the Arrow mapInPandas scorer with per-batch pruning, for a bounded
    # query set and for every vector as a query (62 = _gen_vecs' count)
    vecs = _gen_vecs(seed=seed)
    ids = sorted(vecs)
    assert len(ids) == 62
    expect = _model_topk(
        vecs, k, [q for q in ids if q < n_queries], lambda q: ids
    )
    got = {
        (r["vec_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(
            _spark_df(spark, vecs, parts), dim=12, n_queries=n_queries, k=k
        ).collect()
    }
    assert got == expect


def _buckets(vecs, dim, bits, n_tables):
    pows = [1 << b for b in range(bits)]
    signs = {
        t: [np.array(lsh_signs(b, dim, t), dtype=np.float64) for b in range(bits)]
        for t in range(n_tables)
    }
    return {
        t: {
            i: sum(
                p
                for b, p in enumerate(pows)
                if float(np.dot(v, signs[t][b])) > 0  # exact: ±1 · ints
            )
            for i, v in vecs.items()
        }
        for t in range(n_tables)
    }


@pytest.mark.parametrize("seed,n_tables", [(0, 1), (1, 2)])
@pytest.mark.parametrize("parts", PARTITION_COUNTS)
def test_lsh_topk_matches_model_sweep(spark, seed, n_tables, parts):
    """Full model equality: candidates = bucket coincidence in ANY table,
    re-rank exact, (sim desc, neighbor_id asc) ties — identical rows at
    every partition count."""
    dim, bits, k = 12, 5, 4
    vecs = _gen_vecs(seed=seed)
    ids = sorted(vecs)
    bk = _buckets(vecs, dim, bits, n_tables)

    def cands_of(q):
        return [
            c
            for c in ids
            if any(bk[t][c] == bk[t][q] for t in range(n_tables))
        ]

    expect = _model_topk(vecs, k, ids, cands_of)
    got = {
        (r["vec_id"], r["rank"], r["neighbor_id"])
        for r in lsh_topk(
            _spark_df(spark, vecs, parts),
            dim=dim,
            k=k,
            bits=bits,
            n_tables=n_tables,
        ).collect()
    }
    assert got == expect
