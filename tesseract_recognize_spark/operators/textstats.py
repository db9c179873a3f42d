"""Text-analysis operators: language ID, quality scoring, token counting,
fingerprinting. All per-row native expressions (whole-stage codegen; no
aggregates over floats, so every value is engine-reproducible and each op
has an exact DuckDB oracle)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from tesseract_recognize_spark.partitioning import spread_small_scan

__all__ = [
    "STOPWORDS",
    "langid_stopwords",
    "quality_score",
    "token_counts",
    "doc_fingerprint",
    "tfidf_top_terms",
    "group_quantiles",
    "QUANTILE_PS",
]

# tiny per-language stopword lists; the ORDER of languages breaks ties
# (first maximal vote wins) — mirrored exactly in the SQL oracle.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"),
    "es": ("el", "la", "los", "de", "que", "y", "en", "un", "una", "por"),
}

# quantile levels of group_quantiles, read by its DuckDB oracle too
QUANTILE_PS = (0.25, 0.5, 0.75, 0.9)


def _words(col: Column) -> Column:
    return F.split(F.lower(col), r"\s+")


def _count_in(values: tuple[str, ...]) -> Column:
    """Occurrences of set members among the whitespace tokens of
    ``text``, as a SQL-lambda expression: `w IN (...)` optimizes to a
    hash-set InSet above 10 items, where a Python-lambda ==-OR fold stays a
    linear comparison chain (Column.isin is unusable inside HOF lambdas).
    Empty tokens can't be members, so no non-empty pre-filter is needed."""
    lst = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return F.expr(
        rf"size(filter(split(lower(text), '\\s+'), w -> w IN ({lst})))"
    )


def langid_stopwords(docs: DataFrame) -> DataFrame:
    """Stopword-vote language ID: count stopword hits per language, argmax
    with fixed language order as the tie-break (a deliberately simple,
    fully deterministic heuristic — the point is the distributed shape:
    per-row array intersection, no shuffle at all)."""
    docs = spread_small_scan(docs, "doc_id")
    votes = {
        lang: _count_in(sw) for lang, sw in STOPWORDS.items()
    }
    langs = list(STOPWORDS)
    best = F.lit(langs[0])
    best_v = votes[langs[0]]
    for lang in langs[1:]:
        is_better = votes[lang] > best_v
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_v = F.when(is_better, votes[lang]).otherwise(best_v)
    pred = F.when(best_v > 0, best).otherwise(F.lit("und"))
    return docs.select(
        "doc_id",
        *[votes[lang].alias(f"votes_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Per-document quality features + a composite score.

    Pure scalar arithmetic (ints + IEEE +-*/ only) so the score is exactly
    reproducible in the oracle. Features follow the usual web-corpus
    heuristics: length, alpha ratio, punct ratio, stopword ratio, mean
    word length."""
    docs = spread_small_scan(docs, "doc_id")
    t = F.col("text")
    n = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast("double")
    words = F.filter(_words(t), lambda w: F.length(w) > 0)
    n_words = F.size(words).cast("double")
    all_sw = tuple(w for sw in STOPWORDS.values() for w in sw)
    n_stop = _count_in(all_sw).cast("double")
    safe_n = F.when(n > 0, n).otherwise(F.lit(1.0))
    safe_w = F.when(n_words > 0, n_words).otherwise(F.lit(1.0))
    alpha_ratio = n_alpha / safe_n
    punct_ratio = n_punct / safe_n
    stop_ratio = n_stop / safe_w
    n_nonws = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    mean_wlen = n_nonws / safe_w
    score = (
        alpha_ratio * 0.4
        + stop_ratio * 0.4
        + (F.lit(1.0) - punct_ratio) * 0.2
    )
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        n_words.cast("int").alias("n_words"),
        alpha_ratio.alias("alpha_ratio"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_wlen.alias("mean_word_len"),
        score.alias("quality_score"),
    )


# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPEISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9\\s]"


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count per doc."""
    docs = spread_small_scan(docs, "doc_id")
    t = F.col("text")
    ws = F.size(F.filter(_words(t), lambda w: F.length(w) > 0))
    bpe = F.size(F.regexp_extract_all(F.lower(t), F.lit(BPEISH_PATTERN), 0))
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpeish_tokens"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf rank.

    idf is the LINEAR form N/df, not log(N/df): every arithmetic step
    is then an IEEE-exact +-*/ (a transcendental log differs by ulps
    between engines and would break the bit-exact oracle gate); the
    per-document RANKING this operator exists for is only mildly
    affected (log compresses, it does not reorder extremes), and the
    exactness contract is worth more than the textbook constant.

    Scale shape: token explode → (doc, term) count (map-side
    combinable) → doc-freq aggregate → join back on term (AQE
    broadcasts the vocab side when it fits, shuffles otherwise) → N via
    a broadcast single-row cross join → per-doc top-k under
    WindowGroupLimit. No driver collect; every shuffle keys on
    (doc_id, term) or term.
    """
    docs = spread_small_scan(docs, "doc_id")
    tok = docs.select(
        "doc_id", F.explode(_words(F.col("text"))).alias("term")
    ).where(F.col("term") != "")
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf_count"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        "tf_count",
        "doc_freq",
        (
            F.col("tf_count").cast("double") * F.col("n_docs")
            / F.col("doc_freq")
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            "tf_count",
            "doc_freq",
            "score",
        )
    )


def group_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exact per-group quantiles at the ``QUANTILE_PS`` levels by
    explicit rank selection: the quantile at p is the value at 1-based
    rank floor((n-1)·p)+1 in the group's (value, id) order — the LOWER
    empirical quantile, chosen over interpolated
    `percentile`/`quantile_cont` because the interpolation a + (b-a)·frac
    is evaluated in different expression orders across engines (ulp
    drift breaks a bit-exact gate), while rank selection involves no
    arithmetic on the values at all.

    Plan shape: one hash(group) exchange serves the rank window, the
    count window, and the filter; the p-explode multiplies rows only
    AFTER the two windows, and the filter keeps |groups|·|QUANTILE_PS|
    rows.
    """
    wrank = Window.partitionBy(group_col).orderBy(
        F.asc(value_col), F.asc(id_col)
    )
    wcnt = Window.partitionBy(group_col)
    ranked = (
        df.select(group_col, value_col, id_col)
        .withColumn("rn", F.row_number().over(wrank))
        .withColumn("cnt", F.count("*").over(wcnt))
    )
    return (
        ranked.select(
            group_col,
            value_col,
            "rn",
            "cnt",
            F.explode(F.array(*map(F.lit, QUANTILE_PS))).alias("p"),
        )
        .where(F.col("rn") == F.floor((F.col("cnt") - 1) * F.col("p")) + 1)
        .select(
            group_col, "p", F.col(value_col).alias("quantile_value")
        )
    )


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Canonical content fingerprint: md5 of the lowercased,
    whitespace-collapsed text (the exact-dedup key after normalization)."""
    docs = spread_small_scan(docs, "doc_id")
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"\s+", " "),
        r"^ | $",
        "",
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )
