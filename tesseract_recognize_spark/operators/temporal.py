"""Temporal operators over event streams: gap sessionization, as-of
join, and binned range join.

A 100-TB training-data pipeline slices behavioral logs into sessions
(context windows for sequence models), attributes each event to the
latest preceding state change (as-of join — feature joins in every
feature store), and correlates events across streams inside a time
tolerance (range join — label propagation, burst detection). Spark has
no native operator for any of the three; each is re-expressed here as a
composition whose physical plan survives 10^12 rows:

  * ``sessionize`` — ONE hash(user_id) exchange serves the gap-flag
    window, the running session counter, AND the per-session aggregate:
    ``HashPartitioning(user_id)`` satisfies the clustered distribution
    required by the (user_id, session_seq) group-by, so Catalyst plans
    no second shuffle. State per task is one partition's rows — no
    driver involvement, no skew beyond user fan-out.
  * ``asof_join`` — the union trick: tag both sides, union, and carry
    the right side's payload forward with ``last(..., ignorenulls)``
    over an unbounded-preceding row frame. ONE exchange of
    |left|+|right| rows, versus the naive inequality join Spark would
    plan as BroadcastNestedLoopJoin (O(|L|·|R|), a non-starter at
    scale). Tie discipline matches ASOF semantics: right rows sort
    before left rows at equal timestamps (right_ts <= left_ts is a
    match), dup right timestamps resolve to the largest event_id.
  * ``range_join_counts`` — inequality predicates can't hash-join, so
    bucketize time to width W and explode each probe row to its 3
    candidate buckets: the |anchor x probe| cartesian becomes an
    equi-join on bucket carrying only ±1-bucket neighborhoods, then an
    exact |dt| <= W filter. Shuffle volume is 3·|probe| + |anchor|,
    independent of the time-range selectivity.

All timestamps are converted once to epoch MICROSECONDS (bigint) via
``timestampdiff`` against an NTZ epoch literal: parquet NTZ timestamps
never touch the session timezone, comparisons run in whole-stage
codegen, and DuckDB's ``epoch_us`` mirrors the value bit-exactly for
the oracle gates.

Reference parity: the reference engine has no event operators — these
extend the engine for the training-data workloads SURVEY.md §6 scopes
in, alongside the dedup/ANN family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["epoch_us", "sessionize", "asof_join", "range_join_counts"]

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_us(ts_col: str) -> F.Column:
    """Epoch microseconds (bigint) of an NTZ timestamp column, timezone
    free: NTZ->BIGINT casts are disallowed and NTZ->LTZ would drag the
    session timezone in; timestampdiff against an NTZ epoch literal is
    exact integer arithmetic (DuckDB oracle twin: ``epoch_us(ts)``)."""
    return F.expr(
        f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {ts_col})"
    ).cast("bigint")


def sessionize(
    events: DataFrame,
    gap_minutes: int = 360,
    salt_chunk_minutes: int | None = None,
) -> DataFrame:
    """Gap-based sessions: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``.

    Input: (user_id, event_id, ts, value). Output: (user_id,
    session_seq, session_start_us, session_end_us, n_events,
    sum_value_cents), session_seq 1-based in time order.

    Plan shape (default path): one Exchange hash(user_id); the two
    windows (gap flag, running counter) and the (user_id, session_seq)
    hash aggregate all reuse it — partitioning by user_id clusters every
    (user_id, session_seq) group, so the group-by's
    ClusteredDistribution is already satisfied. Ordering ties break on
    event_id; value sums are integer cents (double sums are
    addition-order-dependent across engines, int sums are not).

    Skew path (``salt_chunk_minutes`` set): partitioning by user alone
    puts ALL of a power user's events in one task — one hot key at 10^12
    events is one straggler. The salted path is the two-level discipline
    extract_full uses for media skew:
      1. pre-sessionize per (user, time-chunk): the salt is
         floor(ts_us / chunk) — a DERIVED key, so no second pass is
         needed to learn which users are hot; every user's events spread
         across ceil(active-span / chunk) tasks. Chunk-boundary splits
         are deliberate oversplits;
      2. aggregate each sub-session to ONE row (start, end, n, cents) —
         the heavy reduction happens under the salted key;
      3. merge sub-sessions per user: consecutive sub-sessions with
         start - prev_end <= gap fuse. Between two time-adjacent
         sub-sessions of one user there are no other events, so the
         inter-sub-session gap IS the inter-event gap the unsalted rule
         tests — outputs are identical row-for-row (pinned by
         tests/test_temporal_salted.py). The merge window sees
         SUB-SESSION rows (bounded by active-span / chunk per user),
         never raw events — the straggler is gone.
    Identical timestamps land in the same chunk, so tie ordering never
    crosses a chunk boundary and the event_id tiebreak stays local.
    """
    gap_us = int(gap_minutes) * 60_000_000
    ev = events.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("value_cents"),
    )
    order = [F.asc("ts_us"), F.asc("event_id")]
    if salt_chunk_minutes:
        chunk_us = int(salt_chunk_minutes) * 60_000_000
        # floor division (not cast-truncation) — pre-epoch safe, same
        # rule as range_join_counts' bucketing
        ev = ev.withColumn("_chunk", F.floor(F.col("ts_us") / chunk_us))
        w1 = Window.partitionBy("user_id", "_chunk").orderBy(*order)
        prev1 = F.lag("ts_us").over(w1)
        new_sub = F.when(
            prev1.isNull() | (F.col("ts_us") - prev1 > gap_us), 1
        ).otherwise(0)
        run1 = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        subs = (
            ev.withColumn("_sub", F.sum(new_sub).over(run1))
            .groupBy("user_id", "_chunk", "_sub")
            .agg(
                F.min("ts_us").alias("_s"),
                F.max("ts_us").alias("_e"),
                F.count("*").alias("_n"),
                F.sum("value_cents").alias("_c"),
            )
        )
        # merge pass over sub-session rows: tiny per user by construction
        w2 = Window.partitionBy("user_id").orderBy(F.asc("_s"), F.asc("_e"))
        prev_e = F.lag("_e").over(w2)
        new_sess = F.when(
            prev_e.isNull() | (F.col("_s") - prev_e > gap_us), 1
        ).otherwise(0)
        run2 = w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        return (
            subs.withColumn("session_seq", F.sum(new_sess).over(run2))
            .groupBy("user_id", "session_seq")
            .agg(
                F.min("_s").alias("session_start_us"),
                F.max("_e").alias("session_end_us"),
                F.sum("_n").alias("n_events"),
                F.sum("_c").alias("sum_value_cents"),
            )
        )
    w = Window.partitionBy("user_id").orderBy(*order)
    prev = F.lag("ts_us").over(w)
    new_session = F.when(
        prev.isNull() | (F.col("ts_us") - prev > gap_us), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("session_seq", F.sum(new_session).over(run))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count("*").alias("n_events"),
            F.sum("value_cents").alias("sum_value_cents"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts_us",
    right_ts: str = "ts_us",
    right_payload: tuple[str, ...] = (),
    right_id: str = "event_id",
    rejoin_payloads: bool = False,
    left_id: str | None = None,
) -> DataFrame:
    """For each left row, the right row with the greatest ``right_ts``
    <= ``left_ts`` within the same ``on`` key (NULL payload when no
    right row precedes). Both inputs carry epoch-µs bigint timestamps.

    The union trick: tag sides (_side 0 = right, 1 = left), union, and
    ``last(payload, ignorenulls=True)`` over (key ORDER BY ts, _side,
    right_id ROWS UNBOUNDED PRECEDING) carries the latest right payload
    onto every subsequent left row; filter back to left rows. ONE
    exchange of |L|+|R| rows — never the O(|L|·|R|) nested-loop plan
    Spark gives a raw inequality join. Equal-timestamp right rows sort
    before left (<= match) and resolve to the largest ``right_id``.

    ``rejoin_payloads=True`` is the wide-payload scale path (requires
    ``left_id``, a unique left key). The union/sort/window above runs
    over a NARROW projection — (key, id, ts) only — and both sides'
    payloads hash-join back onto the matched id pairs afterwards.
    Trade: two extra uniform-key hash joins (which AQE can split) in
    exchange for keeping every wide column out of the
    ``partitionBy(on)`` sort — the sort is the operator's skew point
    (one hot key = one task sorting that key's whole history), so at
    10^12 rows with KB-wide rows the narrow sort + id-keyed joins is
    the plan that survives. Output rows/columns are identical to the
    default path (pinned by tests/test_temporal.py).

    Narrow-path equivalence CONTRACT (documented limits, not validated
    per row — a validation pass would cost a full scan):
      * ``right_payload`` columns must be NON-NULL on matched rows: the
        default path carries each payload with its own
        last(ignorenulls) — a NULL payload on the matched right row
        would fall back to an OLDER right row's value there, while the
        narrow path rejoins the matched row's payload verbatim (NULL).
      * ``left_id`` must be NON-NULL: NULL keys never equi-join, so the
        narrow path would drop such left rows where the default path
        keeps them with NULL as-of columns. (A missing ``left_id``
        raises below; uniqueness and NULLs are the caller's contract.)
    The engine's event tables satisfy both (event_id and value are
    required columns); callers adapting other schemas must check them.
    """
    if rejoin_payloads:
        if not left_id:
            raise ValueError(
                "asof_join(rejoin_payloads=True) needs left_id — a "
                "UNIQUE left key to rejoin payloads on (a non-unique "
                "key would duplicate left rows)"
            )
        asof_id = f"asof_{right_id}"
        asof_ts = f"asof_{right_ts}"
        # narrow core: only (key, id, ts) ride the union+window exchange
        core = asof_join(
            left.select(on, left_id, F.col(left_ts).alias("_lts")),
            right.select(on, right_ts, right_id),
            on,
            left_ts="_lts",
            right_ts=right_ts,
            right_payload=(),
            right_id=right_id,
        ).select(left_id, asof_id, asof_ts)
        out = left.join(core, on=left_id, how="inner")
        if right_payload:
            # rejoin on (key, id), not id alone: right_id only has to be
            # unique WITHIN a key (the same contract the default path's
            # tie-break needs), not globally
            rp = right.select(
                on,
                F.col(right_id).alias(asof_id),
                *[F.col(c).alias(f"asof_{c}") for c in right_payload],
            )
            out = out.join(rp, on=[on, asof_id], how="left")
        # column order identical to the default path
        return out.select(
            *left.columns,
            asof_id,
            asof_ts,
            *[f"asof_{c}" for c in right_payload],
        )
    reserved = {"_ts", "_side", "_tie"}
    clash = reserved & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join: left columns {sorted(clash)} collide with "
            "internal tag columns — rename them first"
        )
    src = [(right_id, f"asof_{right_id}"), (right_ts, f"asof_{right_ts}")]
    src += [(c, f"asof_{c}") for c in right_payload]
    payload = [a for _, a in src]
    l_cols = left.columns
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_id).cast("long").alias("_tie"),
        *[F.col(c).alias(a) for c, a in src],
    )
    lt = left.select(
        "*",
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast("long").alias("_tie"),
    )
    # unionByName fills each side's missing columns (left payload slots,
    # right's left-only columns) with typed NULLs
    u = lt.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(on)
        .orderBy(F.asc("_ts"), F.asc("_side"), F.asc_nulls_last("_tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        *l_cols,
        "_side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in payload],
    )
    return filled.filter(F.col("_side") == 1).drop("_side")


def range_join_counts(
    anchors: DataFrame,
    probes: DataFrame,
    tolerance_minutes: int = 10,
) -> DataFrame:
    """Per anchor row: how many probe rows fall within ±tolerance of
    its ``ts_us`` (any key). Output: (anchor_id, ts_us, n_within), where
    anchor_id is the anchor's ``event_id``.

    Bucketize both sides to tolerance-width buckets and explode each
    probe to its {b-1, b, b+1} neighborhood — every qualifying pair
    shares a bucket with exactly one of the three copies, so a plain
    equi-join on bucket + an exact |dt| <= tol filter replaces the
    unplannable inequality join. Map-side combine counts probes per
    (bucket) first if volumes demand it; here the join output is
    aggregated per anchor in the same shuffle round.
    """
    tol_us = int(tolerance_minutes) * 60_000_000
    # floor division, not cast-truncation: cast rounds toward zero, which
    # mis-buckets pre-epoch (negative) timestamps
    a = anchors.select(
        F.col("event_id").alias("anchor_id"),
        F.col("ts_us").alias("a_ts"),
        F.floor(F.col("ts_us") / tol_us).alias("bucket"),
    )
    bk = F.floor(F.col("ts_us") / tol_us)
    p = probes.select(
        F.col("ts_us").alias("p_ts"),
        F.explode(F.array(bk - 1, bk, bk + 1)).alias("bucket"),
    )
    hits = a.join(p, "bucket").where(
        F.abs(F.col("p_ts") - F.col("a_ts")) <= tol_us
    )
    return (
        a.select("anchor_id", "a_ts")
        .join(
            hits.groupBy("anchor_id").agg(F.count("*").alias("n_within")),
            "anchor_id",
            "left",
        )
        .select(
            "anchor_id",
            F.col("a_ts").alias("ts_us"),
            F.coalesce("n_within", F.lit(0)).alias("n_within"),
        )
    )
