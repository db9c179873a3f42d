"""Property-based invariants (hypothesis / seeded sweeps). Most need no
Spark session; the explode_media page-set sweep (bottom) uses the shared
session fixture."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from tesseract_recognize_spark.constants import GLYPH_W
from tesseract_recognize_spark.fixtures.fonts import word_width
from tesseract_recognize_spark.fixtures.raster import (
    HashStream,
    layout_from_ref,
    layout_geometry,
)
from tesseract_recognize_spark.operators.explode import parse_pages_set
from tesseract_recognize_spark.oracle.oracle import trim


@given(st.sets(st.integers(min_value=0, max_value=200), min_size=1,
               max_size=40))
def test_parse_pages_set_roundtrip(pages):
    # canonical spec: collapse consecutive runs into dash ranges
    xs = sorted(pages)
    parts, i = [], 0
    while i < len(xs):
        j = i
        while j + 1 < len(xs) and xs[j + 1] == xs[j] + 1:
            j += 1
        parts.append(str(xs[i]) if i == j else f"{xs[i]}-{xs[j]}")
        i = j + 1
    assert parse_pages_set(",".join(parts)) == pages


_ASCII_WS = " \t\n\r\f\v"


@given(st.text(alphabet=st.sampled_from(list(_ASCII_WS) + list("abcXYZ.,")),
               max_size=60))
def test_trim_matches_reference_semantics(s):
    # the reference's normalization == strip of leading/trailing whitespace
    # (tesseract-recognize.cc:209); must be idempotent and preserve interior
    out = trim(s)
    assert out == trim(out)
    assert out == re.sub(r"^\s+|\s+$", "", s)
    if out:
        assert not out[0].isspace() and not out[-1].isspace()


@given(st.integers(min_value=1, max_value=20))
def test_word_width_monotone(n):
    assert word_width(n + 1) - word_width(n) == GLYPH_W + 1
    assert word_width(1) == GLYPH_W


@given(st.text(alphabet="abcdef0123456789:/#.-", min_size=1, max_size=40))
@settings(max_examples=40)
def test_layout_deterministic_and_geometry_consistent(ref):
    a, b = layout_from_ref(ref), layout_from_ref(ref)
    assert a == b
    geo = layout_geometry(a)
    assert geo == layout_geometry(b)
    # geometry invariants: word boxes of a line are disjoint in x and lie
    # inside the line bbox; RTL lines mirror inside the same span
    for bg in geo["blocks"]:
        if not bg["block"].is_text:
            continue
        for para in bg["paras"]:
            for line in para:
                lx0, ly0, lx1, ly1 = line["bbox"]
                spans = sorted(
                    (w["bbox"][0], w["bbox"][2]) for w in line["words"]
                )
                prev_end = None
                for x0, x1 in spans:
                    assert lx0 <= x0 <= x1 <= lx1
                    if prev_end is not None:
                        assert x0 > prev_end
                    prev_end = x1


@given(st.text(min_size=0, max_size=30), st.integers(1, 1 << 15))
@settings(max_examples=60)
def test_hashstream_deterministic(seed, n):
    a, b = HashStream(seed), HashStream(seed)
    assert [a.u(n) for _ in range(8)] == [b.u(n) for _ in range(8)]
    assert all(0 <= a.u(n) < n for _ in range(8))


# --- parse_pages_set: adversarial hypothesis sweep vs a reference model ---

def _pages_model(spec: str) -> frozenset[int]:
    """Independent reimplementation of the reference's parsePagesSet
    semantics (tesseract-recognize.cc:222-235) for differential testing."""
    out: set[int] = set()
    for tok in spec.split(","):
        tok = tok.strip()
        if not tok:
            continue
        if "-" in tok:
            a, b = (side.strip() for side in tok.split("-", 1))
            if not (a.isdigit() and b.isdigit()) or int(b) < int(a):
                raise ValueError(tok)
            out.update(range(int(a), int(b) + 1))
        elif tok.isdigit():
            out.add(int(tok))
        else:
            raise ValueError(tok)
    return frozenset(out)


_tok_valid = st.one_of(
    st.integers(0, 99).map(str),
    st.tuples(st.integers(0, 50), st.integers(0, 49)).map(
        lambda ab: f"{ab[0]}-{ab[0] + ab[1]}"
    ),
)
_tok_junk = st.sampled_from(
    ["x", "3x", "-", "1-", "-2", "2-1", "1.5", "a-b", "--", "1-2-3", "+4"]
)


@given(st.lists(_tok_valid, max_size=8),
       st.sampled_from(["", " ", "  ", "\t"]))
@settings(max_examples=80)
def test_parse_pages_set_valid_specs_match_model(toks, pad):
    spec = ",".join(pad + t + pad for t in toks)
    assert parse_pages_set(spec) == _pages_model(spec)


@given(st.lists(_tok_valid, max_size=4), _tok_junk,
       st.integers(0, 4))
@settings(max_examples=80)
def test_parse_pages_set_malformed_raises(toks, junk, at):
    import pytest

    toks = list(toks)
    toks.insert(min(at, len(toks)), junk)
    with pytest.raises(ValueError):
        parse_pages_set(",".join(toks))


# --- explode_media page-set selection: seeded sweep on Spark ------------
# explode_media filters each doc's media spans out of the spans array,
# sorts them by offset, drops unselected pages by index and numbers the
# survivors by explode position. This pins its two reference invariants
# over randomized span arrays, short ones and long ones (200-1000 spans,
# where a per-element scan of the array would go quadratic):
#   * skip-before-decode: a media span survives iff its 0-based ordinal
#     among the doc's ORIGINAL media spans (offset order) is in the page
#     set — exactly the reference skipping frames before decode
#     (tesseract-recognize.cc:470-471,497-498);
#   * renumber-consecutive: survivors' media_idx is 1..n_media in offset
#     order, like the reference's page registration.
# Text spans never pass through the explode; test_crops_pageset.py checks
# them end to end against the oracle under a page set.

def _random_docs(rnd, n_docs, sizes=(0, 12)):
    docs = []
    for d in range(n_docs):
        n = rnd.randint(*sizes)
        offsets = list(range(n))
        rnd.shuffle(offsets)  # array order must not matter (array_sort)
        spans = []
        for i in range(n):
            if rnd.random() < 0.45:
                spans.append(("media", None, f"media://d{d}/{i}", offsets[i]))
            else:
                spans.append(("text", f"t{d}-{i} ", None, offsets[i]))
        docs.append((str(d), spans))
    return docs


def _expected(spans, pages):
    """Pure-Python model of explode_media(page set): the kept media rows
    (offset, media_ref, media_idx, n_media)."""
    media = sorted((s for s in spans if s[0] == "media"), key=lambda s: s[3])
    kept = [s for k, s in enumerate(media) if k in pages]
    return [(s[3], s[2], i + 1, len(kept)) for i, s in enumerate(kept)]


@pytest.mark.spark
def test_explode_media_pageset_seeded_sweep(spark):
    import random

    from pyspark.sql import types as T_

    from tesseract_recognize_spark.operators.explode import explode_media

    schema = T_.StructType([
        T_.StructField("doc_id", T_.StringType()),
        T_.StructField("spans", T_.ArrayType(T_.StructType([
            T_.StructField("kind", T_.StringType()),
            T_.StructField("text", T_.StringType()),
            T_.StructField("media_ref", T_.StringType()),
            T_.StructField("offset", T_.IntegerType()),
        ]))),
    ])
    rnd = random.Random(20260817)
    docs = _random_docs(rnd, 60) + [
        (f"long{d}", spans)
        for d, spans in _random_docs(rnd, 6, sizes=(200, 1000))
    ]
    df = spark.createDataFrame(docs, schema)
    for spec in ("", "0", "0-2,5", "1,3-4,9-11", "7-40", "0-99", "0-999"):
        pages = parse_pages_set(spec)
        got = {}
        for r in explode_media(df, pages=pages).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["offset"], r["media_ref"], r["media_idx"], r["n_media"])
            )
        for doc_id, spans in docs:
            have = sorted(got.get(doc_id, []))
            assert have == _expected(spans, pages), (spec, doc_id)


# ---------------------------------------------------------------------------
# Temporal trio vs brute-force Python models (round-4 ask #7): seeded
# random sweeps engineered to hit the semantic cliff edges — exactly-gap
# spacing (NOT a new session: the rule is >), duplicate timestamps,
# no-prior-right-row as-of NULLs, range-join inclusivity at |dt| == tol,
# and pre-epoch (negative) timestamps exercising floor-division
# bucketing. One Spark action per scenario (hypothesis would respawn
# plans per example; a seeded sweep keeps the suite fast).
# ---------------------------------------------------------------------------


def _ts_pool(rng, gap_us):
    """Timestamps as multiples of gap/4 spanning both sides of the epoch:
    exact-gap spacings and duplicates occur by construction."""
    q = gap_us // 4
    return [rng.randrange(-40, 40) * q for _ in range(8)]


def _model_sessions(events, gap_us):
    """events: [(user, ts_us, event_id, cents)] → set of result tuples."""
    from collections import defaultdict

    by_user = defaultdict(list)
    for u, ts, eid, c in events:
        by_user[u].append((ts, eid, c))
    rows = set()
    for u, evs in by_user.items():
        evs.sort()
        seq = 0
        cur = None  # (start, end, n, cents)
        prev_ts = None
        for ts, _eid, c in evs:
            if prev_ts is None or ts - prev_ts > gap_us:
                if cur:
                    rows.add((u, seq) + cur[:2] + cur[2:])
                seq += 1
                cur = (ts, ts, 1, c)
            else:
                cur = (cur[0], ts, cur[2] + 1, cur[3] + c)
            prev_ts = ts
        if cur:
            rows.add((u, seq) + cur[:2] + cur[2:])
    return rows


@pytest.mark.spark
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_sessionize_matches_model_sweep(spark, seed):
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import Row, types as T

    from tesseract_recognize_spark.operators.temporal import sessionize

    rng = random.Random(seed)
    gap_us = 360 * 60_000_000
    events = []
    eid = 0
    for u in range(12):
        pool = _ts_pool(rng, gap_us)
        for _ in range(rng.randrange(1, 30)):
            ts = rng.choice(pool)  # duplicates + exact-gap spacings
            cents = rng.randrange(0, 5000)
            events.append((u, ts, eid, cents))
            eid += 1
    epoch = datetime(1970, 1, 1)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    df = spark.createDataFrame(
        [
            Row(event_id=e, ts=epoch + timedelta(microseconds=ts),
                user_id=u, value=c / 100.0)
            for (u, ts, e, c) in events
        ],
        schema,
    )
    expect = _model_sessions(events, gap_us)
    for salt in (None, 1440, 240):
        got = {
            (r["user_id"], r["session_seq"], r["session_start_us"],
             r["session_end_us"], r["n_events"], r["sum_value_cents"])
            for r in sessionize(
                df, gap_minutes=360, salt_chunk_minutes=salt
            ).collect()
        }
        assert got == expect, f"salt={salt}"


def _model_asof(lefts, rights):
    """lefts: [(key, ts, id)]; rights: [(key, ts, id, payload)] →
    {left_id: (right_id, right_ts, payload) or (None, None, None)}."""
    out = {}
    for k, lts, lid in lefts:
        cands = [r for r in rights if r[0] == k and r[1] <= lts]
        if not cands:
            out[lid] = (None, None, None)
        else:
            best = max(cands, key=lambda r: (r[1], r[2]))
            out[lid] = (best[2], best[1], best[3])
    return out


@pytest.mark.spark
@pytest.mark.parametrize("seed", [4, 5, 6])
def test_asof_join_matches_model_sweep(spark, seed):
    import random

    from tesseract_recognize_spark.operators.temporal import asof_join

    rng = random.Random(seed)
    tick = 1_000_000
    lefts, rights = [], []
    lid, rid = 0, 10_000
    for k in range(8):
        pool = [rng.randrange(-30, 30) * tick for _ in range(6)]
        for _ in range(rng.randrange(1, 12)):
            lefts.append((k, rng.choice(pool), lid)); lid += 1
        # some keys get NO right rows at all (all-NULL as-of)
        for _ in range(rng.randrange(0, 8) if k % 3 else 0):
            # duplicate right timestamps: tie → largest event_id
            rights.append((k, rng.choice(pool), rid, rid * 7)); rid += 1
    ldf = spark.createDataFrame(
        [(k, ts, i) for k, ts, i in lefts],
        "user_id: long, ts_us: long, event_id: long",
    )
    rdf = spark.createDataFrame(
        [(k, ts, i, p) for k, ts, i, p in rights],
        "user_id: long, ts_us: long, event_id: long, payload: long",
    )
    got = {
        r["event_id"]: (
            r["asof_event_id"], r["asof_ts_us"], r["asof_payload"]
        )
        for r in asof_join(
            ldf, rdf, on="user_id", right_payload=("payload",)
        ).collect()
    }
    assert got == _model_asof(lefts, rights)


@pytest.mark.spark
@pytest.mark.parametrize("seed", [7, 8])
def test_range_join_counts_matches_model_sweep(spark, seed):
    import random

    from tesseract_recognize_spark.operators.temporal import (
        range_join_counts,
    )

    rng = random.Random(seed)
    tol_us = 10 * 60_000_000
    q = tol_us // 2  # half-tol multiples → |dt| == tol occurs exactly
    anchors = [
        (i, rng.randrange(-20, 20) * q) for i in range(60)
    ]
    probes = [rng.randrange(-20, 20) * q for _ in range(300)]
    adf = spark.createDataFrame(anchors, "event_id: long, ts_us: long")
    pdf = spark.createDataFrame(
        [(t,) for t in probes], "ts_us: long"
    )
    got = {
        r["anchor_id"]: r["n_within"]
        for r in range_join_counts(adf, pdf, tolerance_minutes=10).collect()
    }
    expect = {
        i: sum(1 for t in probes if abs(t - ts) <= tol_us)
        for i, ts in anchors
    }
    assert got == expect
