"""Deduplication operators for LLM-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the point of each):

* **Exact** — hash-groupBy on a content digest; one shuffle on the digest key,
  perfectly parallel, no driver state.
* **MinHash+LSH** — the 100 TB fuzzy-dedup path: per-doc signatures are a
  single explode→groupBy (map-side combined); candidate generation is an
  equi-join on (band, band_hash) — i.e. only documents sharing a bucket ever
  meet, never an all-pairs product; candidates are exactly verified with set
  Jaccard. Hash family: lexicographic min of md5(seed || shingle) per seed —
  deterministic across engines, no RNG state to ship.
* **SimHash** — 32-bit signature from md5-nibble votes; near-dup = signature
  bucket equality (or small hamming radius via rotations).
* **n-gram Jaccard** — exact pairwise within a blocking key (for bounded
  blocks); the honest quadratic baseline the LSH path approximates.
* **Embedding cosine** — near-dup pairs over a vector column within a
  blocking key; the scale path is the LSH/IVF bucketing in ``similarity.py``.

All deterministic, all expressible as DataFrame algebra; the DuckDB oracles in
``plans/llm.py`` re-run the same algorithms (and, where the data allows, the
exhaustive ground truth) for byte-exact comparison.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mobsos_event_log_generator_spark.operators import exactmath as XM

from mobsos_event_log_generator_spark.operators.text import tokens, winnow_fingerprints, word_shingles

NUM_MINHASHES = 12
NUM_BANDS = 4
ROWS_PER_BAND = NUM_MINHASHES // NUM_BANDS
SIMHASH_BITS = 32  # one bit per md5 hex nibble


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup groups: one row per duplicated digest with the surviving
    (minimum) id, the duplicate count, and the sorted member list."""
    digest = F.md5(F.col(text_col))
    return (
        df.groupBy(digest.alias("digest"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.array_join(F.array_sort(F.collect_list(F.col(id_col).cast("string"))), ",").alias("members"),
        )
        .filter(F.col("n_dups") > 1)
    )


def doc_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (docs with < n words drop
    out — they have no shingle set to compare).

    The tokenization is materialized through a projection BEFORE shingling:
    ``word_shingles`` references its input array ~5x (size guard + one
    element_at per gram position), and if that input is the raw
    split-expression each reference re-tokenizes the document — O(words²)
    regex work per doc (measured 8.4s → 0.5s at sf0.1).

    Dedup is row-local — ``array_distinct`` BEFORE the explode — not a
    DataFrame ``.distinct()`` after: within-doc uniqueness needs no data
    movement, while the old global distinct was a full shuffle+aggregate of
    the posting table repeated in EVERY plan copy of this subtree (the
    similarity-join consumers reference it up to 4x and column pruning
    blocks ReuseExchange). Identical output for unique ``id_col`` inputs —
    every caller feeds a primary-key doc table."""
    words = df.select(F.col(id_col), tokens(text_col).alias("words"))
    return words.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col("words"), n))).alias("shingle"),
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = NUM_MINHASHES) -> DataFrame:
    """Per-doc minhash signature: sig_i = min(md5('s{i}|' || shingle)).

    One groupBy over the exploded shingles computes all hashes at once;
    partial aggregation combines map-side so the shuffle carries one row per
    (doc, partition), not per shingle.
    """
    aggs = [
        F.expr(f"min(md5(concat('s{i}|', shingle)))").alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = NUM_BANDS,
    num_hashes: int = NUM_MINHASHES,
) -> DataFrame:
    """Band rows: (doc, band, band_hash) where band_hash folds r consecutive
    minhashes. Docs agreeing on any band become join candidates.

    b bands × r rows-per-band (r = num_hashes // num_bands) sets the match
    curve: P(candidate) = 1 - (1 - j^r)^b for true Jaccard j — more bands =
    higher recall AND more candidate pairs to verify. Tune per corpus via the
    ``minhash_lsh_dedup`` passthroughs."""
    r = num_hashes // num_bands
    if r < 1:
        # r=0 would hash an EMPTY band: every doc gets the same constant
        # band_hash and candidate generation goes all-pairs quadratic.
        raise ValueError(
            f"num_bands ({num_bands}) must not exceed num_hashes ({num_hashes})"
        )
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + k}") for k in range(r)])).alias("band_hash"),
        )
        for b in range(num_bands)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bh")
    ).select(id_col, F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs from shared LSH buckets (equi-join on the
    bucket key — the only place two documents ever meet).

    ``max_bucket_size`` is the hot-bucket guard for huge corpora: a bucket
    with B members yields B² join rows, and a degenerate band value (e.g. a
    boilerplate shingle pattern shared by millions of docs) turns the join
    quadratic. Dropping buckets above the cap bounds the worst case at
    cap²·n_buckets; pairs in a dropped bucket usually still meet in one of
    their other NUM_BANDS-1 buckets. Off by default — small corpora want
    exact behavior (and the exhaustive-oracle gate requires it)."""
    if max_bucket_size is not None:
        sizes = bands.groupBy("band", "band_hash").agg(F.count(F.lit(1)).alias("__bsize"))
        bands = (
            bands.join(sizes, ["band", "band_hash"])
            .filter(F.col("__bsize") <= max_bucket_size)
            .drop("__bsize")
        )
    a = bands.select(F.col(id_col).alias("id1"), "band", "band_hash")
    b = bands.select(F.col(id_col).alias("id2"), "band", "band_hash")
    return (
        a.join(b, on=["band", "band_hash"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    sizes_in_candidates: bool = False,
) -> DataFrame:
    """Exact set-Jaccard on candidate pairs via shingle co-count:
    |A∩B| from a join on the shingle key, |A∪B| = |A|+|B|-|A∩B|.
    Jaccard is a ratio of small ints — bit-exact across engines.

    An array formulation (collect_list per doc → two id joins →
    array_intersect) was A/B'd at sf0.1/τ=0.5 (tools/profile_verify_ab):
    medians tie (~8.2 s incl. shared upstream) but the fat per-pair arrays
    show GC-pressure outliers (28 s worst vs 14 s), so the skinny
    posting-level co-count stays — its intermediates are rows, not
    duplicated O(doc)-sized arrays per candidate.

    ``sizes_in_candidates``: when the candidate generator already knows the
    exact per-doc set sizes (the prefix-join path carries them as n1/n2),
    reuse them instead of re-deriving a counts aggregate from ``shingles``
    — that aggregate is a full extra copy of the shingle pipeline in the
    plan (scan + tokenize + explode + distinct) plus two joins, and Spark
    cannot ReuseExchange it because column pruning specializes each copy."""
    s1 = shingles.select(F.col(id_col).alias("id1"), "shingle")
    s2 = shingles.select(F.col(id_col).alias("id2"), "shingle")
    if sizes_in_candidates:
        # (n1, n2) are functionally dependent on (id1, id2): grouping by
        # them too yields the identical groups, no extra shuffle width.
        paired = (
            candidates.join(s1, "id1")
            .join(s2, ["id2", "shingle"])
            .groupBy("id1", "id2", "n1", "n2")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        counts = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        inter = (
            candidates.join(s1, "id1")
            .join(s2, ["id2", "shingle"])
            .groupBy("id1", "id2")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        c1 = counts.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
        c2 = counts.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
        paired = inter.join(c1, "id1").join(c2, "id2")
    return (
        paired.withColumn(
            "jaccard",
            XM.ratio_round(
                F.col("n_inter"), F.col("n1") + F.col("n2") - F.col("n_inter"), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = NUM_MINHASHES,
    num_bands: int = NUM_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full fuzzy-dedup pipeline: shingle → minhash → LSH buckets → candidate
    pairs → exact Jaccard verify. Returns (id1, id2, jaccard) near-dup pairs.

    The shingle table feeds four consumers (signatures, both sides of the
    intersection join, the size counts). It is deliberately NOT persisted
    here: recomputing the (cheap, projection-materialized) shingle subtree
    inline keeps the operator stateless — an internal persist() leaks cache
    across repeated invocations (measured: successive bench runs degraded
    11s → 29s from cache pressure). Callers running a one-shot job over a
    100 TB corpus can persist the ``doc_shingles`` output themselves and pass
    it via the lower-level functions (``minhash_signatures`` +
    ``lsh_candidate_pairs`` + ``jaccard_verify``)."""
    sh = doc_shingles(df, id_col, text_col, shingle_n)
    sig = minhash_signatures(sh, id_col, num_hashes)
    cand = lsh_candidate_pairs(
        lsh_bands(sig, id_col, num_bands, num_hashes), id_col, max_bucket_size
    )
    return jaccard_verify(cand, sh, id_col, threshold)


def simhash(words: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over a word array: bit j is the sign of the sum over words of
    ±1 votes taken from md5 hex nibble j (occurrence-weighted). Returns a
    non-negative bigint (bits 0..31).

    Single pass: each word is md5'd ONCE, its ±1 vote vector folded into a
    running count array (``zip_with``); the bit pattern then folds against a
    power-of-two array. (A per-bit-aggregate formulation re-hashes every word
    per bit — 32x the hash cost.)
    """
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    hashes = F.transform(words, F.md5)  # md5 once per word, before the fold

    def hash_votes(h: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda j: F.when(F.substring(h, j, 1).isin(*high), 1).otherwise(-1),
        )

    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, hash_votes(h), lambda a, b: a + b),
    )
    powers = F.array(*[F.lit(2**j).cast("long") for j in range(bits)])
    return F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc simhash as explode → hash-once projection → codegen'd hash
    aggregate (32 conditional sums). Same semantics as ``simhash`` (the
    Column form), but the hot path stays in whole-stage codegen instead of
    interpreted nested higher-order functions — ~4x faster measured.
    Docs with zero words get simhash 0 (left join back)."""
    high = ("8", "9", "a", "b", "c", "d", "e", "f")
    hashed = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("w")).select(
        id_col, F.md5("w").alias("h")
    )
    # Parsed SQL per bit instead of nested Column ops (~450 Py4J round trips
    # of driver latency per call — guide §1/§4 driver-boundary class); the
    # parsed trees are the identical conditional sums, so signatures are
    # bit-exact.
    in_high = "IN ({})".format(",".join(f"'{c}'" for c in high))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.expr(
                f"sum(CASE WHEN substring(h, {j + 1}, 1) {in_high} THEN 1 ELSE -1 END)"
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    sig = F.expr(
        "CAST("
        + " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(bits))
        + " AS BIGINT)"
    )
    sigs = votes.select(F.col(id_col), sig.alias("simhash"))
    return df.select(id_col).join(sigs, id_col, "left").select(
        id_col, F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard within a blocking key (honest quadratic baseline;
    blocks must be bounded — at scale prefer minhash_lsh_dedup)."""
    words = df.select(F.col(id_col), F.col(block_col).alias("block"), tokens(text_col).alias("words"))
    sh = (
        words.select(F.col(id_col), F.col("block"), F.explode(word_shingles(F.col("words"), n)).alias("shingle"))
        .distinct()
    )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id1"), F.col("block"), "shingle")
    b = sh.select(F.col(id_col).alias("id2"), F.col("block"), "shingle")
    inter = (
        a.join(b, ["block", "shingle"])
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    c1 = counts.select(F.col(id_col).alias("id1"), F.col("n_sh").alias("n1"))
    c2 = counts.select(F.col(id_col).alias("id2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(c1, "id1")
        .join(c2, "id2")
        .withColumn(
            "jaccard",
            XM.ratio_round(
                F.col("n_inter"), F.col("n1") + F.col("n2") - F.col("n_inter"), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
) -> DataFrame:
    """Cross-document exact substring dedup — the suffix-array family of
    Lee et al., "Deduplicating Training Data Makes Language Models Better"
    (arXiv:2107.06499), re-expressed for a shared-nothing engine.

    The suffix-array insight distributes cleanly: every repeated substring of
    ≥ L tokens contains at least one repeated L-token window, so the sorted
    suffix traversal becomes (1) emit every L-token window with its position,
    (2) group windows by hash and keep those occurring in ≥ 2 DISTINCT
    documents, (3) per document, merge overlapping/adjacent repeated window
    starts (gap ≤ L) into maximal repeated spans. Output: one row per span —
    (id, span_start, span_end, n_windows), token positions 1-based,
    span_end exclusive. Every token covered by a span lies inside some
    ≥ L-token substring that appears verbatim in another document.

    Scale shape — no suffix array is ever materialized and nothing is
    quadratic: windows are O(tokens) rows; "repeated" is one hash-partitioned
    aggregate (map-side-combinable count-distinct expansion); the filter back
    is a LEFT SEMI equi-join on the window hash (pure filter — a boilerplate
    window shared by B docs costs B rows, never B²); span merging is a
    per-document WindowExec (partitioned by id — hot docs bound the task, not
    the corpus). Determinism: md5 window hashes, integer positions — the
    DuckDB oracle replays the identical definition for byte-exact parity.
    """
    from pyspark.sql.window import Window as W

    words = df.select(F.col(id_col), tokens(text_col).alias("words"))
    hs = F.transform(word_shingles(F.col("words"), window_tokens), F.md5)
    wins = words.select(F.col(id_col), F.posexplode(hs).alias("i", "h")).select(
        F.col(id_col), (F.col("i") + 1).cast("long").alias("p"), "h"
    )
    rep = (
        wins.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = wins.join(rep, "h", "left_semi")
    w_doc = W.partitionBy(id_col).orderBy("p")
    isl = (
        hits.withColumn("prev", F.lag("p").over(w_doc))
        .withColumn(
            "new_island",
            (F.col("prev").isNull() | (F.col("p") - F.col("prev") > window_tokens)).cast("int"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w_doc.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    return (
        isl.groupBy(F.col(id_col), F.col("island"))
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + window_tokens).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(F.col(id_col), "span_start", "span_end", "n_windows")
    )


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    fingerprint: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup: drop new docs whose fingerprint already
    exists in the historical corpus (LEFT ANTI join on the digest).

    The scale shape of continuous corpus building: the historical side
    reduces to DISTINCT digests (one narrow column, far smaller than the
    corpus), the new batch is typically small — so the anti-join broadcasts
    whichever side is under the threshold and nothing ever re-reads
    historical text. ``fingerprint`` is any deterministic digest Column
    (full-text md5, prefix digest, simhash band...).

    NULL contract (explicit): a new doc whose fingerprint is NULL (e.g.
    md5(NULL) from NULL text) is KEPT — a missing digest cannot prove a
    duplicate. NULL digests are likewise dropped from the historical set so
    the join never carries a NULL key. This matches ANSI anti-join
    semantics (NULL never equals NULL), and the registry oracle uses an
    explicit ANTI JOIN — not NOT IN, whose NULL handling diverges."""
    new_keyed = new_docs.withColumn("__fp", fingerprint)
    seen = corpus.select(fingerprint.alias("__fp")).filter(F.col("__fp").isNotNull()).distinct()
    return new_keyed.join(seen, "__fp", "left_anti").drop("__fp")


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MOSS-style containment detection over winnowing fingerprints
    (``text.winnow_fingerprints``): two documents are a reported pair when
    the smaller one shares at least ``threshold`` of its fingerprint set
    with the other — the asymmetric-containment metric that catches a short
    document pasted into a long one, which symmetric Jaccard dilutes.

    Scale shape (mirrors the LSH path): documents only ever meet through an
    equi-join on the fingerprint value — winnowing already subsampled
    ~2/(window+1) of the shingle hashes, so the exploded table is a fraction
    of the shingle join the exact-Jaccard verifier pays. ``max_bucket_size``
    is the same hot-bucket guard as ``lsh_candidate_pairs``: a boilerplate
    fingerprint shared by B docs yields B² join rows; buckets above the cap
    are dropped (off by default — exhaustive oracles need exact behavior).
    Overlap is a ratio of small ints rounded at 6 dp — bit-exact
    cross-engine."""
    from mobsos_event_log_generator_spark.operators.text import winnow_fingerprint_rows

    fps = winnow_fingerprint_rows(df, id_col, text_col, n=shingle_n, window=window)
    # The fingerprint computation is the expensive subtree (the rows form
    # above is 7x the HOF form; ENGINEERING_NOTES §1/§2) — evaluate it ONCE:
    # group the
    # exploded table by fingerprint and derive BOTH the per-doc counts and
    # the co-occurrence pairs from that single aggregate. The old form
    # referenced the subtree three times (counts + both join sides) and
    # re-evaluated it per branch: measured 14-16 s warm at sf0.01 vs ~4 s
    # for this form — and it shuffles the exploded table once, not thrice.
    g = fps.groupBy("fingerprint").agg(F.array_sort(F.collect_list(F.col(id_col))).alias("docs"))
    if max_bucket_size is not None:
        g = g.filter(F.size("docs") <= max_bucket_size)
    counts = (
        g.select(F.explode("docs").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    # All i<j pairs inside each fingerprint's (sorted) doc list: docs are
    # only ever paired through a shared fingerprint, same as the equi-join.
    pair_structs = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), y -> struct(x AS doc_a, y AS doc_b))))"
    )
    shared = (
        g.filter(F.size("docs") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("__na"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("__nb"))
    return (
        shared.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("overlap", F.round(F.col("shared") / F.least("__na", "__nb"), 6))
        .filter(F.col("overlap") >= threshold)
        .select("doc_a", "doc_b", "shared", "overlap")
    )
