"""documents → one row per media span, fully native (no UDFs, no shuffle).

The Spark analog of the reference's NamedImage work list
(tesseract-recognize.cc:383-532): each media span becomes an independent
work item. The doc's media spans are filtered out of the spans array and
sorted by offset BEFORE exploding, so page numbering (media_idx / n_media —
the reference's multipage "pg{k}_" id prefix inputs,
tesseract-recognize.cc:668-670) is the explode position and the array size:
no shuffle, one filter and one sort per doc. Text spans never pass through
here; the plan's tail inlines them straight from the spans array.

Page-set selection (the reference's ``file.pdf[0-2,5]`` suffix,
parsePagesSet at tesseract-recognize.cc:222-235) filters the sorted media
array by index before the explode: non-selected pages never become rows —
the analog of the reference skipping frames *before decode*
(tesseract-recognize.cc:470-471,497-498) — and the surviving pages renumber
consecutively, exactly as the reference's page registration does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["parse_pages_set", "explode_media"]


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


def explode_media(
    docs_df: DataFrame, pages: frozenset[int] | str | None = None
) -> DataFrame:
    """The media spans of each document as OCR work items.

    Output: doc_id, offset, media_ref, media_idx (1-based page number
    among the doc's kept media spans, in offset order), n_media.

    ``pages`` (a "0-2,5"-style spec or a set of 0-based media ordinals)
    keeps only the selected media spans — dropped before the explode, so
    they never reach the decode stage.
    """
    media = """array_sort(filter(spans, s -> s.kind = 'media'), (a, b) ->
        CASE WHEN a.offset < b.offset THEN -1
             WHEN a.offset > b.offset THEN 1 ELSE 0 END)"""
    if pages is not None:
        if isinstance(pages, str):
            pages = parse_pages_set(pages)
        # the lambda's second argument is the 0-based media ordinal; int()
        # keeps the SQL text to integer literals
        values = ", ".join(str(int(p)) for p in sorted(pages))
        in_set = f"array_contains(array({values}), i)" if pages else "false"
        media = f"filter({media}, (s, i) -> {in_set})"
    # OUTER: a plain posexplode over the named array makes Spark infer a
    # size(_media) > 0 filter and push it below the projection, which would
    # evaluate the filter and the sort twice; media-less docs give the one
    # NULL row that the WHERE drops
    query = f"""
        SELECT doc_id, m.offset, m.media_ref, pos + 1 AS media_idx,
               size(_media) AS n_media
        FROM (SELECT doc_id, {media} AS _media FROM {{docs}})
        LATERAL VIEW OUTER posexplode(_media) AS pos, m
        WHERE m IS NOT NULL"""
    return docs_df.sparkSession.sql(query, docs=docs_df)
