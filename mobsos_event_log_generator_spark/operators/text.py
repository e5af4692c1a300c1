"""Text-analysis operators for LLM-data pipelines (BASELINE.json north star).

All pure Column algebra — tokenization, shingling, language-ID scoring,
quality metrics, and fingerprints run JVM-side in whole-stage codegen. Each
helper has an exact SQL mirror in ``plans/llm.py`` so the DuckDB oracle checks
byte-identical semantics.

Tokenization contract (shared with the oracle): tokens are maximal runs of
non-whitespace, i.e. ``split(text, '\\s+')`` minus empty strings. Keep this in
lock-step with ``TOKENIZE_SQL``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.operators import exactmath as XM

# Stopword marker sets for the n-gram/stopword language-ID heuristic.
# Deliberately tiny: language ID at 100 TB must stay in codegen; a real model
# (fastText etc.) would slot in as a pandas UDF behind the same API.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "and", "of", "to", "is", "in"),
    "es": ("el", "la", "los", "que", "es", "y", "un"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
}

STOPWORDS = LANG_MARKERS["en"]


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokens, empty strings dropped.

    `array_remove(split(.), '')`, NOT `filter(split(.), w -> w <> '')`:
    identical semantics (both drop every '' and keep order; split never
    yields NULL elements), but the lambda form is a HigherOrderFunction —
    interpreted per row, outside whole-stage codegen — and measured 4x
    slower on the sf0.1 shingle path (2.09 s -> 0.52 s, tools/profile_fs2).
    Same pitfall class as the interpreted HOF folds in ENGINEERING_NOTES."""
    return F.array_remove(F.split(F.col(text_col), r"\s+"), "")


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col)).cast("long")


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """Sub-word token estimate: alpha runs / digits / punct as atoms, alpha
    runs charged ceil(len/4) tokens (the ~4-chars-per-BPE-token rule)."""
    atoms = F.expr(rf"regexp_extract_all({text_col}, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]', 0)")
    return F.aggregate(
        atoms,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.floor((F.length(w) + F.lit(3)) / F.lit(4)).cast("long"),
    )


def word_shingles(words: Column, n: int = 3) -> Column:
    """Word n-gram shingles (empty array when fewer than n words)."""
    idx = F.sequence(F.lit(0), F.size(words) - n)
    gram = lambda i: F.concat_ws(" ", *[F.element_at(words, i + k + 1) for k in range(n)])  # noqa: E731
    return F.when(F.size(words) >= n, F.transform(idx, gram)).otherwise(F.array().cast("array<string>"))


def marker_hits(words: Column, markers: tuple[str, ...]) -> Column:
    """Occurrence count (not distinct) of marker words."""
    return F.size(F.filter(words, lambda w: w.isin(*markers))).cast("long")


def lang_scores(words: Column) -> dict[str, Column]:
    return {lang: marker_hits(words, m) for lang, m in LANG_MARKERS.items()}


def lang_id(words: Column) -> Column:
    """Argmax over marker-hit counts, ties broken by language code order;
    'und' (undetermined) when no marker hits at all."""
    scores = lang_scores(words)
    expr = F.lit("und")
    expr_score = F.lit(0).cast("long")
    for lang in reversed(sorted(LANG_MARKERS)):  # build right-to-left; leftmost wins ties via >
        s = scores[lang]
        expr = F.when(s > expr_score, F.lit(lang)).otherwise(expr)
        expr_score = F.greatest(s, expr_score)
    return expr


def punct_ratio(text_col: str = "text") -> Column:
    """Non-alnum/space chars over total chars (0 for empty text)."""
    total = F.length(F.col(text_col))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", ""))
    return F.when(total > 0, punct.cast("double") / total).otherwise(F.lit(0.0))


def stopword_ratio(words: Column) -> Column:
    n = F.size(words)
    return F.when(n > 0, marker_hits(words, STOPWORDS).cast("double") / n).otherwise(F.lit(0.0))


def mean_word_length(words: Column) -> Column:
    n = F.size(words)
    # length(concat_ws('', words)) == Σ length(w): same exact integer, but
    # concat_ws is codegen'd while the aggregate() fold runs interpreted.
    total = F.length(F.concat_ws("", words)).cast("long")
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text_col: str = "text", words: Column | None = None) -> Column:
    """Heuristic document quality in [0,1]: length band + word-shape band +
    stopword presence + punctuation sanity (Gopher/C4-style rule scoring).

    Pass ``words`` as a materialized attribute column when calling repeatedly —
    inlining the split expression here multiplies the tokenization cost."""
    w = tokens(text_col) if words is None else words
    n = F.size(w)
    len_ok = F.when((n >= 50) & (n <= 100_000), 1.0).otherwise(0.0)
    mwl = mean_word_length(w)
    shape_ok = F.when((mwl >= 3.0) & (mwl <= 10.0), 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(w) >= 0.01, 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text_col) <= 0.2, 1.0).otherwise(0.0)
    return F.round((len_ok + shape_ok + stop_ok + punct_ok) / 4.0, 4)


def winnow_fingerprints(words: Column, n: int = 3, window: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    MOSS rolling-hash sampler): md5 every word n-gram, then keep the
    lexicographic minimum of each sliding window of ``window`` consecutive
    shingle hashes, deduplicated. Guarantee: any shared run of at least
    ``n + window - 1`` words between two documents yields at least one shared
    fingerprint, while only ~2/(window+1) of the hashes survive — the
    standard position-free document fingerprint for plagiarism/overlap
    detection. Documents with fewer than ``window`` shingles contribute their
    single global min (0 shingles → empty set).

    All codegen-safe Column algebra: the CASE is lazy per row, so the
    ``sequence(0, m - window)`` index array is never built for short docs.
    Per-row cost is O(m·window) comparisons over an already-hashed array —
    no Python, no shuffle; the selectivity knob is ``window``."""
    hs = F.transform(word_shingles(words, n), F.md5)
    m = F.size(hs)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), m - window),
            lambda i: F.array_min(F.slice(hs, i + 1, window)),
        )
    )
    return (
        F.when(m == 0, F.array().cast("array<string>"))
        .when(m < window, F.array(F.array_min(hs)))
        .otherwise(wins)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 32,
) -> DataFrame:
    """Context-window chunking: split each document into ``chunk_tokens``-word
    chunks every ``stride`` words (overlapping when stride < chunk_tokens) —
    the long-document → training-sample expansion step.

    Pure Column algebra: one tokenize, a ``sequence`` of chunk starts, one
    explode, and per-chunk ``slice``/``array_join`` — all codegen'd, rows only
    fan out by ceil(n_words/stride). Empty docs produce no chunks."""
    words = df.select(F.col(id_col), tokens(text_col).alias("__w"))
    n = F.size("__w")
    starts = F.when(n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    return words.select(F.col(id_col), F.col("__w"), F.explode(starts).alias("start")).select(
        F.col(id_col),
        F.floor(F.col("start") / stride).cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start_token"),
        F.least(F.lit(chunk_tokens), F.size("__w") - F.col("start")).cast("long").alias("n_chunk_tokens"),
        F.array_join(F.slice(F.col("__w"), F.col("start") + 1, chunk_tokens), " ").alias("chunk_text"),
    )


# PII redaction patterns, applied in order (URL before EMAIL so addresses
# inside URLs are already collapsed; IP before PHONE so dotted quads are not
# half-eaten as phone numbers). Restricted to syntax with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def redact_pii(text_col: Column | str = "text") -> Column:
    """Replace emails / URLs / IPv4s / phone-shaped digit runs with typed
    placeholder tokens — the standard pre-training scrub, as chained
    JVM-side regexp_replace (codegen; no Python in the row path)."""
    out = F.col(text_col) if isinstance(text_col, str) else text_col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher-style repetition signals per document over word n-grams:
    total/distinct gram counts, duplicate-gram fraction (1 - distinct/total)
    and the most frequent gram with its share of all grams.

    Scale shape: explode → two-level aggregation, both map-side combined;
    the top gram comes from a per-doc window over the (doc, gram) counts —
    state per doc is its distinct grams, never the corpus. Docs with < n
    words keep zero stats (left join back). Ties on the top gram break
    lexicographically so results are engine-portable."""
    from pyspark.sql.window import Window

    words = df.select(F.col(id_col), tokens(text_col).alias("__w"))
    grams = words.select(F.col(id_col), F.explode(word_shingles(F.col("__w"), n)).alias("gram"))
    counts = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        XM.ratio_round(F.sum("c") - F.count(F.lit(1)), F.sum("c"), 6).alias("dup_fraction"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("c").desc(), F.col("gram"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(id_col), F.col("gram").alias("top_gram"), F.col("c").alias("top_count"))
    )
    return (
        df.select(id_col)
        .join(stats, id_col, "left")
        .join(top, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
            F.coalesce("dup_fraction", F.lit(0.0)).alias("dup_fraction"),
            F.coalesce("top_gram", F.lit("")).alias("top_gram"),
            F.coalesce("top_count", F.lit(0)).cast("long").alias("top_count"),
            F.coalesce(
                XM.ratio_round(F.col("top_count"), F.col("n_grams"), 6), F.lit(0.0)
            ).alias("top_fraction"),
        )
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document stats block.

    Tokenization is materialized through a projection first; every metric
    then references the bound ``__words`` attribute (a single split per row
    instead of one per metric reference)."""
    w = F.col("__words")
    return (
        df.withColumn("__words", tokens(text_col))
        .withColumns(
            {
                "n_tokens": F.size(w).cast("long"),
                "n_tokens_bpe": bpe_ish_token_count(text_col),
                # Rounded outputs use the exact integer-ratio form: these
                # per-doc ratios are small-denominator rationals whose true
                # value can sit exactly on a 6-dp midpoint, where the two
                # engines' round() functions may disagree. The UNROUNDED
                # helpers still feed quality_score's comparisons (identical
                # doubles on both engines -> deterministic).
                "mean_word_len": F.when(
                    F.size(w) > 0,
                    XM.ratio_round(
                        # codegen'd Σ length(w) (see mean_word_length)
                        F.length(F.concat_ws("", w)).cast("long"),
                        F.size(w),
                        6,
                    ),
                ).otherwise(F.lit(0.0)),
                "stopword_ratio": F.when(
                    F.size(w) > 0, XM.ratio_round(marker_hits(w, STOPWORDS), F.size(w), 6)
                ).otherwise(F.lit(0.0)),
                "punct_ratio": F.when(
                    F.length(F.col(text_col)) > 0,
                    XM.ratio_round(
                        F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", "")),
                        F.length(F.col(text_col)),
                        6,
                    ),
                ).otherwise(F.lit(0.0)),
                "lang_pred": lang_id(w),
                "quality": quality_score(text_col, words=w),
                "fingerprint": F.md5(F.array_join(w, " ")),
            }
        )
        .drop("__words")
    )


def winnow_fingerprint_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """``winnow_fingerprints`` as exploded (id, fingerprint) ROWS via a
    JVM window-frame sliding-min instead of the per-row HOF.

    Same output set (unit-asserted equal), very different execution: the
    HOF form evaluates an interpreted ``transform(sequence, slice,
    array_min)`` per row — measured 5.6 s warm over sf0.01 — while this form
    posexplodes the hashed shingles and takes ``min`` over a
    ``ROWS BETWEEN window-1 PRECEDING AND CURRENT ROW`` frame in WindowExec:
    0.8 s warm, 7x faster, at the cost of one shuffle on the id. Use the
    Column form when fingerprints must stay an in-row array (no shuffle);
    use this whenever the next step explodes anyway (the pairs join, any
    fingerprint-keyed aggregation)."""
    from pyspark.sql.window import Window as _W

    words = df.select(F.col(id_col), tokens(text_col).alias("words"))
    sh = words.select(id_col, word_shingles(F.col("words"), n).alias("sh"))
    hs = sh.select(id_col, F.posexplode(F.transform("sh", F.md5)).alias("pos", "h"))
    frame = _W.partitionBy(id_col).orderBy("pos").rowsBetween(-(window - 1), 0)
    per_doc = _W.partitionBy(id_col)
    rows = (
        hs.withColumn("m", F.count(F.lit(1)).over(per_doc))
        .withColumn("winmin", F.min("h").over(frame))
        .withColumn("gmin", F.min("h").over(per_doc))
    )
    full = rows.filter((F.col("m") >= window) & (F.col("pos") >= window - 1)).select(
        id_col, F.col("winmin").alias("fingerprint")
    )
    short = rows.filter((F.col("m") < window) & (F.col("pos") == 0)).select(
        id_col, F.col("gmin").alias("fingerprint")
    )
    return full.union(short).distinct()


def nfc_normalize_docs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization over ``mapInPandas`` — the canonicalization
    every multilingual dedup/hash pipeline needs BEFORE exact hashing
    (decomposed 'e'+U+0301 and composed U+00E9 are different bytes but the
    same text; unnormalized corpora silently miss duplicates). Schema is
    explicit (no annotation reliance); stdlib ``unicodedata`` implements
    the full canonical composition tables. Zero shuffle."""
    import pandas as pd

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("normalized", T.StringType())]
    )

    def norm(batches):
        import unicodedata

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "normalized": [
                        unicodedata.normalize("NFC", t) if t is not None else None
                        for t in pdf[text_col]
                    ],
                }
            )

    return df.select(id_col, text_col).mapInPandas(norm, schema)


def positional_postings(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Positional inverted-index postings: one row per token occurrence with
    its 1-based position — the index structure behind phrase and proximity
    search. The tokenization is materialized through a projection before
    posexplode (the expression-inlining rule, see doc_shingles)."""
    words = df.select(F.col(id_col), tokens(text_col).alias("__words"))
    return words.select(
        F.col(id_col),
        F.posexplode("__words").alias("pos0", "tok"),
    ).select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "tok")


def phrase_occurrences(
    postings: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase match over positional postings: documents where the
    phrase's tokens appear at consecutive positions, with occurrence counts
    (overlapping occurrences all count — 'a a a' contains 'a a' twice,
    which non-overlapping regex scans miss).

    Scale shape: term-selective from the first step — each join leg filters
    the postings to ONE vocabulary term before the (id, position) equi-join,
    so work is Σ postings(term_i), never the corpus; a k-token phrase is
    k−1 hash joins on the same (id, pos) key space."""
    toks = phrase.split()
    if not toks:
        raise ValueError("empty phrase")
    cur = postings.filter(F.col("tok") == toks[0]).select(F.col(id_col), F.col("pos"))
    for i, t in enumerate(toks[1:], start=1):
        leg = postings.filter(F.col("tok") == t).select(
            F.col(id_col), (F.col("pos") - i).alias("pos")
        )
        cur = cur.join(leg, [id_col, "pos"])
    return cur.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_occurrences"))
