"""Deterministic sampling operators for training-data mixing.

Corpus mixing ("10% of web, 100% of books, 3% of logs") must be
REPRODUCIBLE — rerunning the pipeline, or running it on a different
cluster size, has to select the same rows, or downstream dedup/eval
splits silently shift. Spark's ``df.sample`` is seeded per-partition and
changes with partitioning, so both operators here derive keep decisions
from a content hash instead:

  * ``stratified_sample`` — per-stratum Bernoulli: keep iff
    ``hash(salt|key) mod 1e6 < fraction·1e6``. Pure per-row codegen
    expressions, ZERO shuffle, independent of partitioning/cluster
    size/execution order — the sample is a pure function of the data.
  * ``per_stratum_topn`` — exactly-n-per-stratum: rank rows inside each
    stratum by the same hash and keep the n smallest. A deterministic
    stand-in for reservoir sampling whose ``row_number <= n`` form
    Catalyst rewrites to the two-phase WindowGroupLimit plan (partial
    map-side top-n prune, ONE pruned exchange — no reducer ever sees a
    full stratum, the straggler-free shape at 10^12 rows).

The hash is the repo-wide md5-derived ``hash64_expr`` (dedup.py), so a
DuckDB oracle reproduces every keep decision bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from tesseract_recognize_spark.operators.dedup import hash64_expr

__all__ = ["sample_hash", "stratified_sample", "per_stratum_topn"]

SAMPLE_MOD = 1_000_000


def sample_hash(key: Column, salt: str) -> Column:
    """Uniform-ish bigint in [0, 1e6) from a salted content hash —
    the single source of randomness for both samplers."""
    return F.pmod(
        hash64_expr(F.concat_ws("|", F.lit(salt), key.cast("string"))),
        F.lit(SAMPLE_MOD),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "s0",
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically:
    strata not in ``fractions`` keep none. One filter, no shuffle;
    thresholds fold to integer literals in codegen."""
    thresh = F.lit(0)
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, int(frac * SAMPLE_MOD)
        ).otherwise(thresh)
    return df.where(sample_hash(F.col(key_col), salt) < thresh)


def per_stratum_topn(
    df: DataFrame,
    strata_col: str,
    n: int,
    key_col: str,
    salt: str = "s0",
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, selected by hash
    rank (ties broken on the key itself — fully deterministic). The
    ``row_number() <= n`` filter compiles to WindowGroupLimit: map-side
    partial top-n, then one exchange carrying <= n rows per (stratum,
    input partition)."""
    w = Window.partitionBy(strata_col).orderBy(
        sample_hash(F.col(key_col), salt).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= n)
        .drop("_rk")
    )
