"""documents → one row per span, fully native (no UDFs, no shuffle).

The Spark analog of the reference's NamedImage work list
(tesseract-recognize.cc:383-532): each span becomes an independent work
item. Page numbering metadata (media_idx / n_media — the reference's
multipage "pg{k}_" id prefix inputs, tesseract-recognize.cc:668-670) is
computed from the spans array BEFORE exploding, with array expressions —
zero shuffles, O(n) per doc in array length (one linear aggregate scan
produces a prefix-count array shared by the page filter and the emitted
media_idx; round 2 used slice+filter per element, O(n²)).

Page-set selection (the reference's ``file.pdf[0-2,5]`` suffix,
parsePagesSet at tesseract-recognize.cc:222-235) is applied to the spans
ARRAY before media_idx/n_media are computed: non-selected media spans never
become rows — the analog of the reference skipping frames *before decode*
(tesseract-recognize.cc:470-471,497-498) — and the surviving pages renumber
consecutively exactly as the reference's page registration does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["parse_pages_set", "explode_spans"]


def parse_pages_set(spec: str) -> frozenset[int]:
    """Parse the reference's page-set syntax: comma-separated 0-based
    indices and dash ranges, e.g. "0-2,5" → {0,1,2,5}
    (tesseract-recognize.cc:222-235). Malformed tokens (non-numeric,
    empty-sided or reversed ranges) raise a descriptive ValueError — the
    reference likewise errors on invalid page selections
    (tesseract-recognize.cc:466-469)."""
    out: set[int] = set()
    for tok in spec.split(","):
        tok = tok.strip()
        if not tok:
            continue
        if "-" in tok:
            a, b = tok.split("-", 1)
            a, b = a.strip(), b.strip()
            if not a.isdigit() or not b.isdigit():
                raise ValueError(
                    f"invalid page range {tok!r} in page set {spec!r}: "
                    "both sides of a dash range must be non-negative integers"
                )
            lo, hi = int(a), int(b)
            if hi < lo:
                raise ValueError(
                    f"reversed page range {tok!r} in page set {spec!r}"
                )
            out.update(range(lo, hi + 1))
        else:
            if not tok.isdigit():
                raise ValueError(
                    f"invalid page index {tok!r} in page set {spec!r}: "
                    "expected a non-negative integer"
                )
            out.add(int(tok))
    return frozenset(out)


def _media_prefix_counts(spans: str) -> str:
    """SQL for array<int> with element i = count of media spans among
    spans[0..i] (i.e. the 1-based media ordinal when element i is itself
    media): one linear aggregate scan, ONE lambda evaluation per element."""
    c = "CAST(acc.c + CASE WHEN s.kind = 'media' THEN 1 ELSE 0 END AS INT)"
    return (
        f"aggregate({spans}, named_struct('c', CAST(0 AS INT), "
        "'idx', CAST(array() AS ARRAY<INT>)), (acc, s) -> named_struct("
        f"'c', {c}, 'idx', concat(acc.idx, array({c}))), acc -> acc.idx)"
    )


def explode_spans(
    docs_df: DataFrame, pages: frozenset[int] | str | None = None
) -> DataFrame:
    """Explode the spans array into rows with page-numbering metadata.

    Output: doc_id, offset, kind, text, media_ref, media_idx (1-based page
    number among the doc's media spans, in offset order), n_media.

    ``pages`` (a "0-2,5"-style spec or a set of 0-based media ordinals)
    keeps only the selected media spans — dropped before the explode, so
    they never reach the decode stage.

    One SQL statement, sent in one call instead of one per Column.
    """
    # defensive: span order is defined by `offset`, not array position.
    # The prefix-count array is materialized as a NAMED COLUMN in its own
    # projection (not an expression inside the consuming lambdas): lambda
    # bodies then fetch it as an O(1) bound row reference per element. The
    # passthrough "_pre" reference also keeps CollapseProject from inlining
    # the aggregate into the filter lambda (which would re-evaluate the
    # O(n) scan per element — quadratic again).
    base = f"""
        SELECT doc_id, _spans, {_media_prefix_counts("_spans")} AS _pre
        FROM (
            SELECT doc_id, array_sort(spans, (a, b) ->
                CASE WHEN a.offset < b.offset THEN -1
                     WHEN a.offset > b.offset THEN 1 ELSE 0 END) AS _spans
            FROM {{docs}}
        )"""
    if pages is not None:
        if isinstance(pages, str):
            pages = parse_pages_set(pages)
        # 0-based media ordinal of element i = prefix media count at i minus
        # one (two-param HOF lambda: arg 2 IS the array index); one
        # array_contains against a literal array however large the set;
        # int() keeps the SQL text to integer literals
        values = ", ".join(str(int(p)) for p in sorted(pages))
        in_set = (
            f"array_contains(array({values}), element_at(_pre, i + 1) - 1)"
            if pages else "false"
        )
        # surviving pages renumber consecutively: fresh prefix counts over
        # the filtered array
        base = f"""
        SELECT doc_id, _spans, {_media_prefix_counts("_spans")} AS _pre
        FROM (
            SELECT doc_id,
                   filter(_spans, (s, i) -> s.kind != 'media' OR {in_set})
                       AS _spans,
                   _pre
            FROM ({base})
        )"""
    query = f"""
        SELECT doc_id, span.*, n_media FROM (
            SELECT doc_id,
                   CASE WHEN size(_spans) > 0
                        THEN element_at(_pre, size(_spans)) ELSE 0 END
                       AS n_media,
                   posexplode(zip_with(_spans, _pre, (s, m) -> named_struct(
                       'offset', s.offset, 'kind', s.kind, 'text', s.text,
                       'media_ref', s.media_ref, 'media_idx', m)))
                       AS (span_pos, span)
            FROM ({base})
        )"""
    return docs_df.sparkSession.sql(query, docs=docs_df)
