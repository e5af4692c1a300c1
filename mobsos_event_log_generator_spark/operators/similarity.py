"""Similarity search over embedding columns (``array<float>``).

Two paths, same API:

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query set
  against the corpus; cosine is a JVM fold (``aggregate``/``zip_with``) so the
  scan stays in codegen. Exact, O(|Q|·|corpus|) — the correctness baseline.
* ``bucketed_ann_topk`` — the scale path: a deterministic coarse quantizer
  (sign pattern of the leading dimensions — an 8-bit hypercube code, i.e. a
  fixed-hyperplane LSH) buckets the corpus; queries only scan their own
  bucket. At 100 TB the bucket key is the shuffle/partition key, turning ANN
  into an equi-join instead of a cross product.

Determinism contract: cosine is ``dot / (sqrt(|a|²) · sqrt(|b|²))`` with each
sum a left-to-right double fold from 0.0, rounded by Spark's ``round(_, 6)``
(HALF_UP) or quantized by ``floor(_·1e6 + 0.5)``; distances are the same fold
over ``(x − y)²``. Rankings order by the rounded value — NaN is the largest
value, as in Spark — and break ties on the id. A zero cosine divisor raises
``DIVIDE_BY_ZERO`` (ANSI). The DuckDB oracles replay these folds, and every
Arrow kernel here does its float arithmetic through ``vector_kernels``, which
implements exactly this contract — so each Arrow kernel's rows are bit-equal
to its JVM twin's, or both raise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mobsos_event_log_generator_spark.driver_rows import driver_rows_df
from mobsos_event_log_generator_spark.operators import vector_kernels as vk

CODE_BITS = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Rounded cosine similarity (6 dp) of two float vectors."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def cosine_unrolled(a_col: str, b_col: str, dim: int) -> Column:
    """``cosine`` for a STATICALLY KNOWN dim, unrolled into one parsed
    literal-index expression (aggregate/zip_with folds are interpreted per
    row — ENGINEERING_NOTES pitfall 2 — so candidate scoring paid
    3 interpreted 64-step folds per pair).

    PLACEMENT (r12): every join-consume call site moved BACK to the fold —
    the 192-term chain inside a BroadcastHashJoin consume is consistently
    SLOWER than the interpreted fold (alternating A/Bs: bruteforce
    0.84-1.21 s unrolled vs 0.59-0.86 s fold) and blew Janino's 64 KB
    method limit inside embedding_knn_clusters' pair-join consume (r12
    sweep codegen log). Kept for scan-side projections where the chain is
    the whole stage (the assignment crossJoins use ``_sqdist_unrolled``).
    Bit-identical to the fold form:
    every chain keeps the fold's leading 0.0 accumulator explicitly, so
    the association — including the 0.0 + (-0.0) edge on dot products —
    matches term for term, and each cast/multiply is the same subtree the
    lambdas build."""
    zero = "CAST(0.0 AS DOUBLE)"
    dot = zero + " + " + " + ".join(
        f"(CAST(element_at(`{a_col}`, {i}) AS DOUBLE) * CAST(element_at(`{b_col}`, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    na = zero + " + " + " + ".join(
        f"(CAST(element_at(`{a_col}`, {i}) AS DOUBLE) * CAST(element_at(`{a_col}`, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    nb = zero + " + " + " + ".join(
        f"(CAST(element_at(`{b_col}`, {i}) AS DOUBLE) * CAST(element_at(`{b_col}`, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return F.expr(f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 6)")


#: Hard cap on rows the Arrow kernels will collect driver-side. The "queries
#: are a broadcast-dim" assumption is now ENFORCED, not assumed: at 64 floats
#: per vector this bounds driver memory to ~35 MB of vectors.
MAX_COLLECTED_QUERY_ROWS = 65536


def _collect_bounded(queries: DataFrame, cols, cap: int = MAX_COLLECTED_QUERY_ROWS):
    """Collect the query side driver-side with the broadcast-dim assumption
    enforced: the ``limit(cap + 1)`` is part of the plan, so an oversized
    query side can never flood the driver — we see at most cap+1 rows, and
    raise instead of silently truncating. Callers with a genuinely large
    query side must use the JVM bucket-join paths (``cosine_topk`` /
    ``bucketed_ann_topk``), which never collect."""
    rows = queries.select(*cols).limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"Arrow ANN query side exceeds {cap} rows; these kernels collect "
            "queries driver-side — use the JVM bucket-join path instead"
        )
    return rows


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top-k tail every cosine search shares: per ``query_id``,
    ``row_number`` over (cosine DESC, neighbor_id) as a long ``rank``, kept
    while ≤ k."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(F.col("rank") <= k)
def hypercube_code(vec: Column, bits: int = CODE_BITS) -> Column:
    """Deterministic coarse-quantizer bucket: bit j = sign(vec[j]).

    A fixed-axis LSH — no trained centroids or RNG to ship; the same vector
    always lands in the same of 2^bits buckets on any engine."""
    out = F.lit(0).cast("long")
    for j in range(bits):
        out = out + F.when(F.element_at(vec, j + 1) >= 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact top-k neighbors per query (query_id, neighbor_id, cosine, rank);
    self-matches excluded. The query side is broadcast — corpus never shuffles.
    ``dim`` is kept for interface symmetry; the cosine here is the HOF fold:
    an r12 alternating A/B on the sf0.1 BNLJ shape (80k pairs) measured the
    fold at 0.59–0.86 s warm vs 0.84–1.21 s for ``cosine_unrolled`` — the
    unrolled chain regresses inside the BroadcastNestedLoopJoin consume
    (same class as the r11 rerank-lane revert), results proven identical."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def cosine_micro(a: Column, b: Column) -> Column:
    """Cosine similarity quantized to EXACT integer micro-units (1e-6) via
    floor(cos·1e6 + 0.5) — pure double/long codegen ops on the raw
    (unrounded) cosine double, so both engines compute the identical IEEE
    double and pick the identical integer; valid for negative cosines too
    (floor semantics match on both sides, unlike decimal HALF_UP)."""
    return F.floor(_dot(a, b) / (_norm(a) * _norm(b)) * F.lit(1e6) + F.lit(0.5)).cast("long")


def _mmr_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    pool: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared MMR candidate generation (JVM, oracle-exact): broadcast-query
    corpus scan, integer micro relevance, per-query top-``pool`` by
    (rel desc, id). Both MMR variants are contractually row-identical and
    share one oracle, so they MUST share this block. The result is
    localCheckpoint-ed: the selection that follows re-references it several
    times, and without truncation every reference re-runs the full corpus
    scan (measured 5x wall at a 200k-vector probe). The checkpoint
    materializes only queries x pool rows — bounded by the
    MAX_COLLECTED_QUERY_ROWS query contract, never corpus-sized — the same
    lineage rule as graph.py's fixpoints."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("c_vec"))
    w = Window.partitionBy("query_id").orderBy(F.col("rel_micro").desc(), F.col("doc_id"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id",
            "doc_id",
            "c_vec",
            cosine_micro(F.col("q_vec"), F.col("c_vec")).alias("rel_micro"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= pool)
        .drop("rn")
        .localCheckpoint(eager=True)
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell & Goldstein
    1998, lambda = 0.5): per query, take the top-``pool`` cosine candidates,
    then greedily select ``k`` of them, each round maximizing
    relevance − max-similarity-to-already-selected. With lambda = 0.5 the
    argmax ordering equals the integer score rel_micro − maxsim_micro, so
    the whole selection runs in EXACT integer micro-units — no float
    comparison anywhere, ties broken by doc_id.

    Scale shape: candidate generation is the broadcast-query corpus scan
    (one pass, no corpus shuffle); everything after is bounded — pool²
    candidate-pair sims and k unrolled argmax rounds over ≤pool rows per
    query — so diversification cost is independent of corpus size. Returns
    (query_id, doc_id, rel_micro, mmr_score_micro, mmr_rank).

    ID-TYPE CONTRACT (r11 ADVICE): ids must be integral — the collected
    greedy state is rebuilt through an explicit ``long`` schema (consistent
    with ``kcenter_select``). String/other id columns would fail or coerce
    at the final createDataFrame; wrap non-long ids with a surrogate key
    before calling."""
    cand_v = _mmr_candidates(corpus, queries, pool, id_col, vec_col)
    pairs = (
        cand_v.select("query_id", "doc_id", "c_vec")
        .join(
            cand_v.select(
                "query_id",
                F.col("doc_id").alias("other_id"),
                F.col("c_vec").alias("o_vec"),
            ),
            "query_id",
        )
        .filter(F.col("doc_id") != F.col("other_id"))
        .select(
            "query_id",
            "doc_id",
            "other_id",
            cosine_micro(F.col("c_vec"), F.col("o_vec")).alias("sim_micro"),
        )
    )
    # Greedy selection over COLLECTED bounded state (the kcenter_select
    # pattern): the pool is ≤|queries|×pool rows and the pair matrix
    # ≤|queries|×pool² rows — both bounded by the MAX_COLLECTED_QUERY_ROWS
    # query contract times pool hyperparameters, never corpus-scaled. The
    # relevance and pair similarities stay JVM-computed exact integer
    # micro-units (cosine_micro, the oracle contract); only the k-round
    # argmax — pure int compares with (desc score, asc doc_id) ties — runs
    # driver-side. The old DataFrame-recursive form re-executed O(k²)
    # window/aggregate stages over the checkpointed pool plus one full
    # replay in the final union: ~7 s of tiny-stage scheduling for 400
    # rows at sf0.1, now one collect each for pool and pairs.
    spark = corpus.sparkSession
    pool_rows = cand_v.select("query_id", "doc_id", "rel_micro").collect()
    pair_rows = pairs.collect()
    by_q: dict = {}
    for r in pool_rows:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["rel_micro"]))
    sim: dict = {}
    for r in pair_rows:
        sim[(r["query_id"], r["doc_id"], r["other_id"])] = r["sim_micro"]
    sel: list[tuple[int, int, int, int, int]] = []
    for qid in by_q:
        cands = sorted(by_q[qid])  # doc_id asc => strict > keeps min-id ties
        chosen: list[int] = []
        for rank in range(1, k + 1):
            best = None
            for doc_id, rel in cands:
                if doc_id in chosen:
                    continue
                pen = max(
                    (sim[(qid, doc_id, o)] for o in chosen if (qid, doc_id, o) in sim),
                    default=0,
                )
                score = rel - pen if chosen else rel
                if best is None or score > best[1]:
                    best = (doc_id, score, rel)
            if best is None:
                break
            chosen.append(best[0])
            sel.append((qid, best[0], best[2], best[1], rank))
    return driver_rows_df(
        spark,
        sel,
        "query_id long, doc_id long, rel_micro long, mmr_score_micro long, mmr_rank long",
    )


def mmr_rerank_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``mmr_rerank`` with the greedy selection as an Arrow kernel: identical
    candidate generation (shared ``_mmr_candidates``), then each query's pool
    flows through ONE ``applyInPandas`` pass — pair sims plus the k-round
    greedy loop in int64 — instead of k unrolled join/window stages. The pair
    sims are ``vector_kernels``' fold cosines through ``micro``, the
    ``cosine_micro`` quantizer with Java's double→long cast (a NaN cosine is
    0 on both paths), and a zero-norm pair raises like the JVM division.
    Same integer selection rule and doc_id tie-break, so it shares
    ``mmr_rerank``'s oracle (unit-gated row-identical); per-group memory is
    O(pool·dim + pool²), bounded by the ``pool`` hyperparameter."""
    import pandas as pd

    from pyspark.sql import types as T

    cand = _mmr_candidates(corpus, queries, pool, id_col, vec_col)
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("rel_micro", T.LongType()),
            T.StructField("mmr_score_micro", T.LongType()),
            T.StructField("mmr_rank", T.LongType()),
        ]
    )
    kk = int(k)

    def select_greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["rel_micro", "doc_id"], ascending=[False, True]).reset_index(
            drop=True
        )
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        rel = pdf["rel_micro"].to_numpy(dtype=np.int64)
        mat = vk.matrix(pdf["c_vec"])
        n2 = vk.sqnorms(mat)
        # the JVM pair join never scores (doc, doc): the diagonal is not live
        sim = vk.micro(vk.cosines(mat, mat, n2, n2, ~np.eye(len(ids), dtype=bool)))
        picked: list[int] = []
        scores: list[int] = []
        taken = np.zeros(len(ids), dtype=bool)
        for _ in range(min(kk, len(ids))):
            # rows sorted by (rel desc, id): round 1 is the relevance argmax
            cur = rel - sim[:, picked].max(axis=1) if picked else rel
            cur = np.where(taken, np.int64(-(2**62)), cur)
            best = np.lexsort((ids, -cur))[0]
            picked.append(best)
            scores.append(int(cur[best]))
            taken[best] = True
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy()[picked],
                "doc_id": ids[picked],
                "rel_micro": rel[picked],
                "mmr_score_micro": np.array(scores, dtype=np.int64),
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int64),
            }
        )

    return cand.groupBy("query_id").applyInPandas(select_greedy, out_schema)


def bucketed_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = CODE_BITS,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k probing only the query's hypercube bucket (recall < 1 by
    design; bucket equi-join instead of cross product)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        hypercube_code(F.col(vec_col), bits).alias("code"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        hypercube_code(F.col(vec_col), bits).alias("code"),
    )
    scored = (
        c.join(F.broadcast(q), on="code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def multiprobe_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = CODE_BITS,
    dim: int = 64,
) -> DataFrame:
    """Multi-probe ANN top-k: each query probes its own hypercube bucket PLUS
    every Hamming-distance-1 neighbor bucket (flip one sign bit) — the classic
    multi-probe LSH recall recovery without extra hash tables or index copies.

    Scale shape: the corpus is coded ONCE (one code per row, no explosion);
    only the small broadcast query side fans out ×(bits+1). Probe codes are
    pairwise distinct, so a (query, neighbor) pair matches at most one probe —
    no dedup pass needed before scoring.
    """
    code = hypercube_code(F.col(vec_col), bits)
    probes = F.array(
        code, *[code.bitwiseXOR(F.lit(1 << j).cast("long")) for j in range(bits)]
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probes).alias("code"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        code.alias("code"),
    )
    scored = (
        c.join(F.broadcast(q), on="code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def multiprobe_hq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = CODE_BITS,
    probes: int = 64,
    dim: int = 64,
) -> DataFrame:
    """High-recall multi-probe ANN: the query-directed probing SEQUENCE
    (Lv et al., "Multi-Probe LSH", VLDB'07) instead of a fixed Hamming
    radius. Each candidate bucket is the query's code XOR a flip mask; a
    mask's cost is the sum of squared margins |q_b|^2 of the bits it flips
    (a sign bit flips under perturbation with probability decreasing in its
    margin, so low-cost masks are the likeliest true-neighbor buckets).
    ALL 2^bits masks are scored per query and the cheapest ``probes`` are
    probed — strictly better recall-per-probe than blind radius probing.
    Measured (tools/probe_round11.py, registered query set): recall@5
    0.87 on the x10 perturbed corpus (r10-verdict floor >=0.7 cleared with
    margin; blind H<=1 lane: 0.28) and 0.54 on the hard near-equidistant
    sf0.1 base fixture (blind H<=1: 0.11); offline sweep: T=64 probes 25%
    of the corpus vs blind H<=3's 0.845 recall at 37% probed.

    Scale shape: identical to ``multiprobe_ann_topk`` — the corpus is coded
    once (never exploded); only the bounded broadcast query side fans out
    x``probes``. The mask scoring walks 2^bits x bits interpreted HOF steps
    per QUERY row only (corpus rows never touch it), so codegen pressure
    stays off the hot path. Masks are pairwise distinct, so a (query,
    neighbor) pair matches at most one probe — no dedup pass. Ties in mask
    cost break on the mask value, making the probe set (and the oracle
    mirror) fully deterministic."""
    code = hypercube_code(F.col(vec_col), bits)
    # cost of each flip mask: left-to-right sum over ascending bits of
    # |q_b|^2 — term order pinned so the DuckDB oracle folds identically
    masks = F.expr(
        f"""
        transform(
          slice(
            array_sort(
              transform(sequence(0, {2**bits - 1}), mask -> struct(
                aggregate(sequence(0, {bits - 1}), CAST(0.0 AS DOUBLE),
                  (acc, b) -> acc + CASE WHEN (mask div shiftleft(1, b)) % 2 = 1
                    THEN CAST(element_at({vec_col}, b + 1) AS DOUBLE)
                         * CAST(element_at({vec_col}, b + 1) AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END) AS s,
                mask AS m))),
            1, {probes}),
          t -> t.m)
        """
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(masks).alias("mask"),
        code.alias("qcode"),
    ).select(
        "query_id",
        "q_vec",
        F.col("qcode").bitwiseXOR(F.col("mask").cast("long")).alias("code"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        code.alias("code"),
    )
    scored = (
        c.join(F.broadcast(q), on="code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    block_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key."""
    a = df.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("v1"), F.col(block_col).alias("block"))
    b = df.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("v2"), F.col(block_col).alias("block"))
    return (
        a.join(b, "block")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("cosine", cosine(F.col("v1"), F.col("v2")))
        .filter(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized brute-force top-k: the Arrow escape hatch for kernels
    the Column algebra can't express efficiently (here: a vectorized fold
    per Arrow batch instead of an interpreted per-pair fold).

    The query matrix is closed over (it is small — the broadcast-dim rule);
    each corpus partition streams through ``mapInArrow`` once, and
    ``vector_kernels.topk`` keeps every query's top-k of the batch, scoring
    it block by block. A global window then ranks the O(k·|Q|)-per-batch
    survivors. The rows are ``cosine_topk``'s: fold cosines, Spark's
    ``round(_, 6)``, NaN first, ties on neighbor id, and a zero-norm vector
    raises. ``mapInArrow`` rather than ``mapInPandas``, because the pandas
    conversion turns a NaN cosine into null."""
    import numpy as np
    import pyarrow as pa

    q_rows = _collect_bounded(queries, (id_col, vec_col))
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = vk.matrix([r[vec_col] for r in q_rows])
    cap = vk.BLOCK_CELLS

    def score(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy().astype(np.int64)
            qi, ni, cos, _ = vk.topk(vk.matrix(batch.column(1)), q_mat, k, "cosine", ids, q_ids, cap)
            yield pa.RecordBatch.from_arrays(
                [pa.array(q_ids[qi]), pa.array(ids[ni]), pa.array(cos)],
                ["query_id", "neighbor_id", "cosine"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(scored, k)


def multitable_codes(vec_col: str, num_tables: int = 16, bits: int = 4, dim: int = 64) -> Column:
    """Array of (table, code) structs: table l's code packs the sign bits of
    dims [l*bits, l*bits+bits) (wrapping mod dim) — L independent fixed-axis
    hash tables. Classic multi-table LSH: a true neighbor is found if it
    agrees with the query in ANY table.

    Assembled as ONE parsed SQL expression: the nested-Column form issued
    ~400 Py4J round trips per call (seconds of driver latency across the
    ANN plans); the parsed tree — integer CASE sums cast to BIGINT inside
    named_struct — is identical, so codes are unchanged."""
    tables = []
    for l in range(num_tables):
        terms = " + ".join(
            f"(CASE WHEN element_at(`{vec_col}`, {(l * bits + j) % dim + 1}) >= 0"
            f" THEN {2**j} ELSE 0 END)"
            for j in range(bits)
        )
        tables.append(f"named_struct('tbl', {l}, 'code', CAST({terms} AS BIGINT))")
    return F.expr("array(" + ", ".join(tables) + ")")


def multitable_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_tables: int = 16,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Multi-table ANN top-k: candidates = union over L tables of same-bucket
    rows, deduped, then exact cosine + top-k.

    Measured tradeoff on the (weakly correlated, max-cosine≈0.47) fixture at
    sf0.01: single-table 8-bit probes 3% of the corpus at recall@5=0.02;
    L=16 x 4-bit tables probes ~65% at recall@5=0.92; L=8 x 8-bit probes 3%
    at 0.12. Near-random embeddings admit no free lunch — the recall queries
    exist precisely to surface this tradeoff per dataset; on clustered
    real-world embeddings the same operator prunes far harder at high recall.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(multitable_codes(vec_col, num_tables, bits)).alias("tc"),
    ).select("query_id", "q_vec", F.col("tc.tbl").alias("tbl"), F.col("tc.code").alias("code"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.explode(multitable_codes(vec_col, num_tables, bits)).alias("tc"),
    ).select("neighbor_id", "c_vec", F.col("tc.tbl").alias("tbl"), F.col("tc.code").alias("code"))
    cand = (
        c.join(F.broadcast(q), on=["tbl", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair can collide in several tables; surviving duplicates carry
        # identical vector payloads so dropDuplicates on the ids is exact.
        # An ids-only dedup (attach vectors after, guide §8) was A/B'd in
        # r12 and REVERTED at this scale: the re-attach joins cost more
        # than the payload shuffle saves (new 1.6-2.1 s vs old 0.9-1.4 s
        # warm at sf0.1). At 100 TB the ids-only shape is the right one —
        # and it is exactly what the persisted-index reader
        # (multitable_query_index) does; repeated-batch deployments route
        # there (similarity_topk_ann_multitable_indexed).
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
    )
    # HOF-fold cosine, not cosine_unrolled: r12 alternating A/B on this
    # shortlist-consume shape measured the fold faster (0.93-1.4 vs
    # 1.27-1.67 s warm) — same class as the r11 rerank-lane revert.
    scored = cand.withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec"))).select(
        "query_id", "neighbor_id", "cosine"
    )
    return _rank_topk(scored, k)


def multitable_write_index(
    corpus: DataFrame,
    path: str,
    num_tables: int = 16,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Persist the multi-table LSH signatures as a LAKE LAYOUT (the
    `ivf_write_index` pattern applied to the signature stage): `postings/`
    holds ONLY ids, written `partitionBy(tbl, code)` so each of the
    L x 2^bits hash buckets is a partition directory, and `vectors/` holds
    the id -> vector payload for exact rescoring. Repeated query batches
    then skip signature recomputation entirely, and — the 100 TB point —
    the candidate-generation scan reads just the probed bucket DIRECTORIES
    of an id-only table (dynamic partition pruning on (tbl, code)), never
    the corpus vectors; vectors are fetched afterwards by equi-join for
    the bounded candidate set only."""
    coded = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(multitable_codes(vec_col, num_tables, bits, dim)).alias("tc"),
    ).select("neighbor_id", F.col("tc.tbl").alias("tbl"), F.col("tc.code").alias("code"))
    # Cluster by the partition columns before the partitioned write:
    # without it every scan task opens a file in every bucket directory it
    # touches — up to tasks x L x 2^bits tiny files whose open/commit
    # overhead dominates the write (8k files for a 500-doc fixture). After
    # the repartition each bucket is one task's rows -> one file per
    # directory; sign-bit buckets are near-uniform so the shuffle is
    # skew-free, and AQE coalesces the post-shuffle partitions at small
    # scale.
    coded.repartition("tbl", "code").write.mode("overwrite").partitionBy(
        "tbl", "code"
    ).parquet(f"{path}/postings")
    corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).write.mode("overwrite").parquet(f"{path}/vectors")


def multitable_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    num_tables: int = 16,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted signature index (`multitable_write_index` layout).

    Bit-identical to the in-memory `multitable_ann_topk` on the same
    corpus: the (tbl, code) equi-join yields the identical candidate set
    (dedup on ids), and rescoring applies the same cosine + (desc cosine,
    neighbor_id) tie order. Only the ACCESS PATH differs — candidates come
    from the id-only postings directories (partition-pruned to the probed
    buckets), vectors from one id equi-join against `vectors/`."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(multitable_codes(vec_col, num_tables, bits)).alias("tc"),
    ).select("query_id", "q_vec", F.col("tc.tbl").alias("tbl"), F.col("tc.code").alias("code"))
    postings = spark.read.parquet(f"{path}/postings")
    cand = (
        postings.join(F.broadcast(q), on=["tbl", "code"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "q_vec", "neighbor_id")
    )
    vectors = spark.read.parquet(f"{path}/vectors")
    scored = cand.join(vectors, "neighbor_id").withColumn(
        "cosine", cosine(F.col("q_vec"), F.col("c_vec"))
    ).select("query_id", "neighbor_id", "cosine")
    return _rank_topk(scored, k)


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sqdist_to_literal(a_col: str, vec: list, dim: int) -> str:
    """``_sqdist_unrolled`` against a DRIVER-KNOWN vector: the selected
    point's coordinates are embedded as exact double literals (``repr``
    round-trips every finite double; the ``D`` suffix parses via
    Double.parseDouble, so the literal IS the original IEEE value). Term
    shape and left-associative order match ``_sqdist_unrolled`` exactly —
    bit-identical distances."""
    return "(" + " + ".join(
        f"((CAST(element_at(`{a_col}`, {i}) AS DOUBLE) - {vec[i - 1]!r}D)"
        f" * (CAST(element_at(`{a_col}`, {i}) AS DOUBLE) - {vec[i - 1]!r}D))"
        for i in range(1, dim + 1)
    ) + ")"


def _sqdist_unrolled_sql(a_col: str, b_col: str, dim: int) -> str:
    """The SQL text of ``_sqdist_unrolled`` (shared so callers can embed it
    inside larger parsed expressions)."""
    t = " + ".join(
        f"((CAST(element_at(`{a_col}`, {i}) AS DOUBLE) - CAST(element_at(`{b_col}`, {i}) AS DOUBLE))"
        f" * (CAST(element_at(`{a_col}`, {i}) AS DOUBLE) - CAST(element_at(`{b_col}`, {i}) AS DOUBLE)))"
        for i in range(1, dim + 1)
    )
    return f"({t})"


def _sqdist_unrolled(a_col: str, b_col: str, dim: int) -> Column:
    """``_sqdist`` for a STATICALLY KNOWN dim, unrolled into one parsed
    literal-index expression chain. aggregate/zip_with are HigherOrderFunctions
    — interpreted per row, outside whole-stage codegen (ENGINEERING_NOTES
    pitfall 2) — which makes the broadcast assignment stages N x k
    interpreted folds; the unrolled chain codegens. Bit-identical to the
    fold: `+` parses left-associative so the association matches the fold's
    acc order exactly (the leading 0.0 + t1 == t1 for every IEEE double, and
    squared terms are never -0.0), and each (x-y)*(x-y) term is the same
    doubled subtree the fold's lambda builds."""
    return F.expr(_sqdist_unrolled_sql(a_col, b_col, dim))


#: Codegen budget for kcenter's literal-embedded least() chain: the round-r
#: projection inlines (r-1)*dim squared-diff terms into ONE generated method,
#: and this repo has measured Janino's 64 KB method limit blowing at ~641
#: inlined terms (r10 zorder note; er_golden_records r11) with a silent 2-7x
#: interpreted fallback. 512 keeps the default k=8/dim=64 lanes (≤448 terms)
#: on the literal path and routes anything larger to the bit-identical
#: broadcast-join form below.
_KCENTER_TERM_BUDGET = 512


def kcenter_select(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    term_budget: int | None = None,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985, the 2-approximation
    behind data-efficient subset selection): seed with the smallest id, then
    k−1 rounds each add the point FARTHEST from the current selection
    (max-min squared L2). Distances are floor-quantized to integer
    micro-units from the identical left-to-right fold both engines compute,
    and ties break on vec_id — fully deterministic.

    Scale shape: each round is ONE corpus scan with ZERO exchanges — the
    ≤k selected vectors are driver state, so the per-point min distance is
    a single codegen'd least() PROJECTION over literal-embedded selected
    coordinates (``_sqdist_to_literal``), and the round winner comes off a
    TakeOrdered(1). The former shape crossJoined a broadcast of the
    selection and then groupBy(vec_id)-shuffled the corpus WITH its
    vector payloads once per round — k full-corpus shuffles the projection
    form never pays. Distances are the same per-pair floor-quantized
    values min-folded in the same order — bit-identical selections.
    Returns (vec_id, sel_round, dmax_micro); dmax_micro is the max-min
    distance when the point was chosen (0 for the seed) — the
    covering-radius curve.

    Codegen guard (r11 ADVICE / r12): rounds whose literal chain would
    exceed ``term_budget`` ((n_selected)·dim squared-diff terms, default
    ``_KCENTER_TERM_BUDGET``) switch to a broadcast-join of the selected
    set + min aggregate — the same floor-quantized per-pair longs
    min-folded (min ≡ least over the same values), so selections are
    bit-identical; only the plan shape changes. Unit-gated by
    ``test_kcenter_join_fallback_matches_literal``."""
    budget = _KCENTER_TERM_BUDGET if term_budget is None else term_budget
    pts = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    seed = pts.orderBy("vec_id").limit(1).first()
    schema = "vec_id long, sel_round long, dmax_micro long"
    spark = corpus.sparkSession
    if seed is None:
        return spark.createDataFrame([], schema)
    sel: list[tuple[int, int, int]] = [(int(seed["vec_id"]), 1, 0)]
    sel_vecs: list[list[float]] = [[float(x) for x in seed["v"]]]
    for rnd in range(2, k + 1):
        sel_ids = [s[0] for s in sel]
        cand = pts.filter(~F.col("vec_id").isin(sel_ids))
        if len(sel_vecs) * dim <= budget:
            dists = [
                f"CAST(floor({_sqdist_to_literal('v', sv, dim)} * 1000000.0D + 0.5D) AS BIGINT)"
                for sv in sel_vecs
            ]
            dmin = dists[0] if len(dists) == 1 else "least(" + ", ".join(dists) + ")"
            scored = cand.select("vec_id", "v", F.expr(dmin).alias("dmin_micro"))
        else:
            # Broadcast-join fallback: the same per-pair quantized distance
            # (createDataFrame round-trips the collected doubles exactly,
            # and _sqdist_unrolled builds the identical term chain the
            # literal form inlines), min-aggregated instead of least()'d.
            sel_df = spark.createDataFrame(
                [(sv,) for sv in sel_vecs], "sv array<double>"
            )
            pair_d = F.expr(
                f"CAST(floor({_sqdist_unrolled_sql('v', 'sv', dim)} "
                "* 1000000.0D + 0.5D) AS BIGINT)"
            )
            scored = (
                cand.crossJoin(F.broadcast(sel_df))
                .select("vec_id", pair_d.alias("d_micro"))
                .groupBy("vec_id")
                .agg(F.min("d_micro").alias("dmin_micro"))
            )
        best = (
            scored.orderBy(F.col("dmin_micro").desc(), F.col("vec_id"))
            .limit(1)
            .first()
        )
        if best is None:
            break
        if "v" in best.asDict():
            best_v = best["v"]
        else:  # join fallback: fetch the winner's vector (1-row lookup)
            best_v = pts.filter(F.col("vec_id") == int(best["vec_id"])).first()["v"]
        sel.append((int(best["vec_id"]), rnd, int(best["dmin_micro"])))
        sel_vecs.append([float(x) for x in best_v])
    return driver_rows_df(spark, sel, schema)


def ivf_seed_centroids(
    corpus: DataFrame,
    num_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse-quantizer seeds: the ``num_centroids`` corpus
    vectors with the smallest md5(id) — a pseudo-random sample with no RNG
    state, reproducible on any engine. ORDER BY + LIMIT compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort shuffle).
    Returns (cid, cvec) with cvec as rounded doubles.

    The cid ``row_number`` is a partition-less window, but over at most
    ``num_centroids`` rows: it sits directly on the post-LIMIT seed table.
    Any oracle-gated query whose executed plan exposes it (no checkpoint
    between the seeds and the consumer) must be listed in
    ``GLOBAL_WINDOW_ALLOWLIST`` (tests/test_plans.py)."""
    seeds = (
        corpus.select(
            F.col(id_col).alias("sid"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
            F.col(vec_col).alias("v"),
        )
        .orderBy("h", "sid")
        .limit(num_centroids)
    )
    w = Window.orderBy("h", "sid")
    return seeds.select(
        (F.row_number().over(w) - 1).cast("long").alias("cid"),
        F.transform("v", lambda x: F.round(x.cast("double"), 6)).alias("cvec"),
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    carry_vec: bool = False,
) -> DataFrame:
    """Nearest-centroid assignment (``nprobe`` = 1) or probe lists
    (``nprobe`` > 1): broadcast nested-loop against the tiny centroid table,
    rank by rounded squared-L2 distance with cid tie-break. The corpus never
    shuffles — one codegen'd pass computes all k distances per row
    (``_sqdist_unrolled``: the HOF fold ran interpreted).

    ``carry_vec`` keeps the vector column on the output rows (it is already
    present in the ranked table), so consumers that need (id, vec, cid) skip
    the corpus self-join they previously paid to re-attach it (r12,
    guide §2.4 — the values are the same row's vector, so results are
    unchanged by construction)."""
    scored = df.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(centroids)).withColumn(
        "dist", F.round(_sqdist_unrolled(vec_col, "cvec", dim), 6)
    )
    # NOTE (r11): a min(struct(dist, cid)) group-by was A/B'd as a map-side
    # replacement for this window — struct-typed min compiles to
    # SortAggregate (no codegen'd hash-agg for non-primitive buffers), which
    # re-sorts the k-expanded table and measured no faster. Window retained.
    w = Window.partitionBy(id_col).orderBy("dist", "cid")
    cols = [id_col, vec_col, "cid"] if carry_vec else [id_col, "cid"]
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select(*cols)
    )


def ivf_assign_arrow(
    df: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,  # interface symmetry with ivf_assign; the kernel reads real lengths
    carry_vec: bool = False,
) -> DataFrame:
    """Arrow twin of ``ivf_assign`` — the assignment-stage scale path.

    ``ivf_assign``'s crossJoin evaluates ``_sqdist`` as an interpreted HOF
    fold (no codegen for ``aggregate``/``zip_with`` — ENGINEERING_NOTES
    pitfall), so its cost is N x k interpreted array folds. With the
    centroids-scale-with-corpus rule (k ~ N / cell_target) that stage turns
    quadratic-in-N in the slowest execution mode Spark has: the round-7
    x100 probe measured semdedup_arrow's assignment exceeding 7 minutes at
    200k vectors / k=800 while the per-cell pair matmul stayed trivial.

    This kernel collects the (bounded, k-row) centroid table to the driver
    — the same pattern as ``ivf_ann_topk_arrow`` — and scans the corpus
    once via ``mapInArrow``: ``vector_kernels.topk`` ranks each row's
    centroids by (round(fold squared distance, 6), cid) in Spark's order,
    block by block — the JVM form's rank key, so the assignment is
    bit-equal to it (unit-gated by ``test_ivf_assign_arrow_matches_jvm``).
    ``carry_vec`` passes the input vector column through verbatim (no
    recompute, no cast), so consumers skip the corpus self-join that
    re-attached it (r12, guide §2.4). The corpus never shuffles and nothing
    corpus-sized is collected or broadcast."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    cents = sorted(
        centroids.select("cid", "cvec").collect(),  # bounded: k centroid rows
        key=lambda r: r["cid"],
    )
    cids = np.array([r["cid"] for r in cents], dtype=np.int64)
    cmat = vk.matrix([r["cvec"] for r in cents])
    npb, cap = int(nprobe), vk.BLOCK_CELLS
    fields = [T.StructField(id_col, T.LongType())]
    if carry_vec:
        fields.append(T.StructField(vec_col, df.schema[vec_col].dataType))
    fields.append(T.StructField("cid", T.LongType()))
    names = [f.name for f in fields]

    def assign(batches):
        for batch in batches:
            row, c, _, _ = vk.topk(cmat, vk.matrix(batch.column(1)), npb, "sqdist", cids, cap=cap)
            cols = [batch.column(0).take(row).cast(pa.int64())]
            cols += [batch.column(1).take(row)] if carry_vec else []
            yield pa.RecordBatch.from_arrays(cols + [pa.array(cids[c])], names)

    return df.select(id_col, vec_col).mapInArrow(assign, T.StructType(fields))


def ivf_train(
    corpus: DataFrame,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    assign=None,
) -> DataFrame:
    """IVF coarse quantizer: deterministic seeds + ``iters`` Lloyd
    refinements. Each iteration is one broadcast assignment pass plus one
    groupBy(cid) computing the per-dimension mean (map-side combined — the
    shuffle carries k×dim partial sums per partition, not the corpus).
    Means are rounded to 6 dp so the refined centroids are engine-portable.
    Seeds that attract no vectors drop out (standard empty-cluster shrink).
    ``assign`` swaps the assignment kernel (default JVM ``ivf_assign``;
    ``ivf_assign_arrow`` is the bit-equal scale path)."""
    assign_fn = assign or ivf_assign
    cents = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
    for _ in range(iters):
        # carry_vec: the Lloyd update reads (vec, cid) straight off the
        # assignment — the corpus self-join that re-attached the vector is
        # gone (r12, guide §2.4; identical rows, so identical means).
        assigned = assign_fn(corpus, cents, 1, id_col, vec_col, dim, carry_vec=True)
        # Parsed SQL per dimension (identical round/avg/element_at tree)
        # instead of ~500 Py4J round trips of nested Column assembly.
        cents = (
            assigned
            .groupBy("cid")
            .agg(
                *[
                    F.expr(
                        f"round(avg(CAST(element_at(`{vec_col}`, {i + 1}) AS DOUBLE)), 6)"
                    ).alias(f"m{i}")
                    for i in range(dim)
                ]
            )
            .select(
                "cid",
                F.expr("array(" + ",".join(f"m{i}" for i in range(dim)) + ")").alias("cvec"),
            )
        )
    return cents


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF ANN top-k: train a coarse quantizer, build inverted lists
    (corpus → nearest centroid), probe each query's ``nprobe`` nearest
    cells, exact cosine + top-k inside the probed cells only.

    Scale shape: the trained centroid table is tiny and broadcast; the
    corpus is scanned once for list assignment (its partitioning key at
    100 TB — write the lists bucketed by cid and probes become pruned
    scans); per-query work is |corpus| × nprobe/num_centroids instead of
    |corpus|. Unlike the fixed-axis LSH variants the cells adapt to the
    data distribution via the Lloyd refinement — on clustered real-world
    embeddings that is the difference between probing a fixed 1/2^bits of
    space and probing the actual neighborhood."""
    # cents (num_centroids rows, full corpus-pass lineage) feeds both the
    # list assignment and the query probes - checkpoint it so the train
    # runs once (hits_fixed_point pattern; same as ivfpq_ann_topk).
    cents = ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim).localCheckpoint(
        eager=True
    )
    inv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")).join(
        ivf_assign(corpus, cents, 1, id_col, vec_col, dim).select(
            F.col(id_col).alias("neighbor_id"), "cid"
        ),
        "neighbor_id",
    )
    probes = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")).join(
        F.broadcast(
            ivf_assign(queries, cents, nprobe, id_col, vec_col, dim).select(
                F.col(id_col).alias("query_id"), "cid"
            )
        ),
        "query_id",
    )
    # nprobe probes of one query are distinct cids and a neighbor lives in
    # exactly one cell, so a (query, neighbor) pair matches at most once.
    scored = (
        inv.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def semdedup(
    corpus: DataFrame,
    threshold: float,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding corpus with the deterministic IVF coarse quantizer,
    then inside each cluster drop every vector that has a lower-id cell-mate
    with cosine >= ``threshold``. Returns one row per corpus vector:
    (vec_id, cid, dup_of, kept) where ``dup_of`` is the smallest dominating
    cell-mate id (NULL for kept rows).

    The paper keeps the member farthest from the centroid as the group
    representative; this implementation keeps the lowest id — an equivalent
    one-per-group rule that is deterministic across engines (no dependence on
    centroid float noise for the SURVIVOR choice, only for the grouping).

    Scale shape: the only quadratic is WITHIN a cell, exactly as published —
    num_centroids grows with the corpus so cell size stays bounded (the paper
    uses 50k clusters for LAION-440M; cells of ~10k make the pair join
    ~10^8 rows per 10^9 vectors). The cluster id is the shuffle key: the pair
    generation is a self-equi-join on cid, never a cross product. Cells
    larger than ``max_cell_size`` (when set) are passed through as kept and
    flagged via dup_of = NULL — the same conservative skip as the LSH
    hot-bucket cap."""
    cents = ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim)
    # carry_vec keeps the vector on the assignment output — no corpus
    # self-join to re-attach it (r12, guide §2.4; rows identical).
    assigned = ivf_assign(corpus, cents, 1, id_col, vec_col, dim, carry_vec=True)
    # The assignment feeds BOTH sides of the pair self-join plus the final
    # projection; expensive subtrees referenced across join branches
    # re-evaluate per branch (ENGINEERING_NOTES pitfall 2c) — without the
    # truncation the quantizer + full corpus assignment run 3x (measured
    # 4.45 s -> 3.92 s warm on the 10k-vector/64-cell probe, where the pair
    # join dominates; the re-evaluated share grows with iters and corpus).
    # localCheckpoint keeps the operator caller-stateless (blocks are freed
    # with the frame), same pattern as the connected-components loop.
    assigned = assigned.localCheckpoint(eager=True)
    if max_cell_size is not None:
        sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
        small = sizes.filter(F.col("_n") <= max_cell_size).select("cid")
        dedupable = assigned.join(F.broadcast(small), "cid", "left_semi")
    else:
        dedupable = assigned
    a = dedupable.select(
        F.col("cid"), F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec")
    )
    b = dedupable.select(
        F.col("cid"), F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec")
    )
    dup_of = (
        a.join(b, "cid")
        .filter(F.col("b_id") < F.col("a_id"))
        .withColumn("cos", cosine(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("cos") >= F.lit(float(threshold)))
        .groupBy("a_id")
        .agg(F.min("b_id").alias("dup_of"))
    )
    return (
        assigned.join(dup_of, assigned[id_col] == dup_of["a_id"], "left")
        .select(
            F.col(id_col),
            F.col("cid"),
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("kept"),
        )
    )


def semdedup_arrow(
    corpus: DataFrame,
    threshold: float,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """``semdedup`` with BOTH hot stages as Arrow kernels: centroid
    assignment rides ``ivf_assign_arrow`` (the Arrow twin of the JVM
    crossJoin fold — >7 min at 200k vectors / k=800 in the round-7 x100
    probe against seconds here), then each cell's members flow through
    ``applyInPandas``, where the pair sweep scores the cell's lower triangle
    block by block through ``vector_kernels``: fold cosines, Spark's
    ``round(_, 6)``, Spark's ``>=`` (a NaN cosine counts as a duplicate) and
    a raise on a zero-norm pair. Each member keeps its smallest dominating
    id. The rows are the JVM ``semdedup``'s, so both variants share one
    oracle (unit-gated equivalence).

    Scale shape: grouping key = cid (the same shuffle the JVM form does);
    per-cell memory is O(cell·dim) vectors plus O(block) pair temporaries,
    never O(cell²)."""
    import pandas as pd

    from pyspark.sql import types as T

    cents = ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim, assign=ivf_assign_arrow)
    # carry_vec: the assignment kernel keeps the vector on its output rows,
    # deleting the corpus self-join that re-attached it (r12, guide §2.4 —
    # one exchange + one corpus scan less per plan; rows identical).
    assigned = ivf_assign_arrow(corpus, cents, 1, id_col, vec_col, dim, carry_vec=True)
    if max_cell_size is not None:
        sizes = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_n"))
        small = sizes.filter(F.col("_n") <= max_cell_size).select("cid")
        kept_cells = assigned.join(F.broadcast(small), "cid", "left_semi")
        passthrough = assigned.join(F.broadcast(small), "cid", "left_anti").select(
            F.col(id_col), F.col("cid"),
            F.lit(None).cast("long").alias("dup_of"),
            F.lit(True).alias("kept"),
        )
    else:
        kept_cells = assigned
        passthrough = None

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cid", T.LongType()),
            T.StructField("dup_of", T.LongType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )
    tau, cap = float(threshold), vk.BLOCK_CELLS

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        mat = vk.matrix(pdf[vec_col])
        n, n2, pos = len(ids), vk.sqnorms(mat), np.arange(len(ids))
        first = np.full(n, n)  # position of the smallest dominating id; n = none
        for rs, cs in vk.blocks(n, n, cap):
            live = pos[None, cs] < pos[rs, None]  # ids ascend: i's dominators are j < i
            if live.any():
                cos = vk.round6(vk.cosines(mat[rs], mat[cs], n2[rs], n2[cs], live))
                hit = vk.at_least(cos, tau) & live
                first[rs] = np.minimum(
                    first[rs], np.where(hit.any(axis=1), hit.argmax(axis=1) + cs.start, n)
                )
        dup_of = pd.array(ids[np.minimum(first, n - 1)], dtype="Int64")
        dup_of[first == n] = pd.NA
        return pd.DataFrame(
            {id_col: ids, "cid": pdf["cid"].to_numpy(), "dup_of": dup_of, "kept": first == n}
        )

    swept = kept_cells.groupBy("cid").applyInPandas(sweep, out_schema)
    return swept.unionByName(passthrough) if passthrough is not None else swept


def _ivf_cell_knn(
    corpus: DataFrame,
    k: int,
    num_centroids: int,
    iters: int,
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Directed within-cell kNN edges (a_id, b_id, cos, rk): IVF-assign the
    corpus with the shared deterministic quantizer, then per vector keep the
    top-k cell-mates by (6-dp cosine desc, id). Shared by the mutual-kNN
    clustering, the kNN label audit, the k-dist outlier score and the
    hard-negative miner — their oracles replay this exact edge set, so it
    MUST be one block.

    Each cell's members flow through ONE ``applyInArrow`` pass, where
    ``vector_kernels.topk`` ranks every member's cell-mates by fold cosine
    (Spark's ``round(_, 6)``, NaN first, id ties; a zero-norm pair raises)
    block by block — memory O(cell·dim + block), never cell². Arrow rather
    than pandas, because the pandas conversion turns a NaN cosine into null.
    The JVM pair-join form this replaced (three interpreted 64-step folds
    on cell² pairs, parallelism capped at num_centroids tasks, ~29 s at
    sf0.1) is the reference of ``test_ivf_cell_knn_arrow_matches_jvm``."""
    import numpy as np
    import pyarrow as pa

    cents = ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim)
    assigned = ivf_assign(corpus, cents, 1, id_col, vec_col, dim, carry_vec=True)
    kk, cap = int(k), vk.BLOCK_CELLS

    def cell_knn(tbl):
        ids = tbl.column(0).to_numpy().astype(np.int64)
        mat = vk.matrix(tbl.column(1))
        a, b, cos, rk = vk.topk(mat, mat, kk, "cosine", ids, ids, cap)
        return pa.table({"a_id": ids[a], "b_id": ids[b], "cos": cos, "rk": rk})

    return assigned.select(id_col, vec_col, "cid").groupBy("cid").applyInArrow(
        cell_knn, "a_id long, b_id long, cos double, rk long"
    )


def knn_graph_clusters(
    corpus: DataFrame,
    k: int = 3,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding clustering via a mutual-kNN graph: IVF-cell the corpus with
    the shared deterministic quantizer, take each vector's top-``k``
    cell-mates by (6-dp cosine desc, id), keep only MUTUAL edges (a in
    kNN(b) and b in kNN(a) — the standard noise-robust symmetrization), and
    label components with large-star/small-star contraction. Returns one row
    per corpus vector: (vec_id, component, cluster_size); vectors with no
    mutual neighbor are singleton components of themselves.

    Scale shape: the only quadratic is within an IVF cell (cid is the
    shuffle key; num_centroids scales with the corpus — the SemDeDup rule);
    the kNN cut bounds the edge set at k·|corpus| before the mutual
    semi-pairing halves it again, and the contraction runs O(log n) rounds
    on that bounded edge list. Everything downstream of the cell pair join
    is edge-sized, never pair-sized."""
    from mobsos_event_log_generator_spark.operators.graph import connected_components_star

    knn = _ivf_cell_knn(corpus, k, num_centroids, iters, id_col, vec_col, dim)
    rev = knn.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    mutual = (
        knn.join(rev, ["a_id", "b_id"], "left_semi")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.col("a_id").alias("id1"), F.col("b_id").alias("id2"))
    )
    comp = connected_components_star(mutual)
    labeled = (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).cast("long").alias("component"),
        )
    )
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return labeled.join(sizes, "component").select("vec_id", "component", "cluster_size")


def knn_label_audit(
    corpus: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int = 64,
) -> DataFrame:
    """kNN label-agreement audit (the confident-learning / cleanlab-style
    label-error screen over training data): for each vector, the majority
    label among its top-``k`` IVF-cell-mates — ties broken (votes desc,
    label asc) — compared against its own label. Returns one row per corpus
    vector: (vec_id, label, predicted_label, votes, agree); vectors with no
    cell-mate carry NULL predicted_label/votes/agree (3VL on both engines).

    Scale shape: the kNN edge generation is the shared ``_ivf_cell_knn``
    block (quadratic confined to a cell, edges ≤ k·|corpus|); the vote is
    one hash agg on (a_id, label) plus a per-a_id window over ≤k rows."""
    knn = _ivf_cell_knn(corpus, k, num_centroids, iters, id_col, vec_col, dim)
    labels = corpus.select(F.col(id_col).alias("b_id"), F.col(label_col).alias("cand"))
    votes = (
        knn.join(labels, "b_id")
        .groupBy("a_id", "cand")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("a_id").orderBy(F.col("n").desc(), F.col("cand"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("a_id", F.col("cand").alias("predicted_label"), F.col("n").alias("votes"))
    )
    return (
        corpus.select(F.col(id_col).alias("vec_id"), F.col(label_col).alias("label"))
        .join(pred, F.col("vec_id") == F.col("a_id"), "left")
        .select(
            "vec_id",
            "label",
            "predicted_label",
            "votes",
            (F.col("label") == F.col("predicted_label")).alias("agree"),
        )
    )


def knn_kdist_outliers(
    corpus: DataFrame,
    k: int = 5,
    n_out: int = 25,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """kNN-distance outlier scoring (the classic k-dist novelty screen —
    Ramaswamy et al. 2000 — in cosine space): a vector's score is the 6-dp
    cosine to its k-th nearest IVF cell-mate; LOW kth-cosine = isolated =
    novel/noisy. Returns one row per corpus vector:
    (vec_id, kth_cos, is_outlier) — the ``n_out`` lowest-kth-cosine vectors
    flagged (ties on vec_id); vectors with fewer than k cell-mates carry
    NULL kth_cos and are never flagged (their isolation is a cell-size
    artifact, not a geometry measurement).

    Scale shape: the shared ``_ivf_cell_knn`` edge block (quadratic confined
    to a cell), one rk == k filter, and a TakeOrdered(n_out) — no global
    sort, no corpus-sized shuffle past the cell pair join."""
    knn = _ivf_cell_knn(corpus, k, num_centroids, iters, id_col, vec_col, dim)
    kth = knn.filter(F.col("rk") == k).select(F.col("a_id"), F.col("cos").alias("kth_cos"))
    flagged = (
        kth.orderBy(F.col("kth_cos").asc(), F.col("a_id"))
        .limit(n_out)
        .select(F.col("a_id").alias("out_id"), F.lit(True).alias("flag"))
    )
    return (
        corpus.select(F.col(id_col).alias("vec_id"))
        .join(kth, F.col("vec_id") == F.col("a_id"), "left")
        .join(flagged, F.col("vec_id") == F.col("out_id"), "left")
        .select(
            "vec_id",
            "kth_cos",
            F.coalesce(F.col("flag"), F.lit(False)).alias("is_outlier"),
        )
    )


def srp_signatures(
    corpus: DataFrame,
    signs: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pack each vector into ONE BIGINT SRP signature: int8-quantize, project
    through the fixed ±1 ``signs`` matrix (one row per plane), keep the sign
    bit of each EXACT-INTEGER projection. Because the projections are integer
    sums they are associative — partition-order-immune and bit-identical on
    any engine — so unlike the float folds this kernel is free to pick its
    plan shape: posexplode + per-plane conditional sums (constant-array
    lookups), which stays inside whole-stage codegen where the unrolled
    2048-term projection blows the Janino method limit and falls back to
    interpreted (ENGINEERING_NOTES pitfall 2, measured in probe_round6c)."""
    zq = corpus.select(id_col, quantize_int8(F.col(vec_col)).alias("__q"))
    el = zq.select(id_col, F.posexplode("__q").alias("pos", "z"))
    # The projection aggregates and the bit packer are assembled as SQL
    # strings (one F.expr per plane / one for the packer) instead of nested
    # Column operators: the operator form issued ~13k Py4J round trips
    # (64 lits x 32 planes plus per-op calls) = 2.3 s of driver time per
    # call, where the parsed strings are ~35 calls. Identical expression
    # trees after parsing — integer literals, element_at, CASE — so the
    # signature stays bit-exact.
    projs = el.groupBy(id_col).agg(
        *[
            F.expr(
                "sum(z * element_at(array("
                + ",".join(str(s) for s in row)
                + "), pos + 1))"
            ).alias(f"__p{j}")
            for j, row in enumerate(signs)
        ]
    )
    packer = (
        "CAST("
        + " + ".join(
            f"(CASE WHEN __p{j} >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(len(signs))
        )
        + " AS BIGINT)"
    )
    return projs.select(id_col, F.expr(packer).alias("sig"))


def srp_signatures_arrow(
    corpus: DataFrame,
    signs: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/BLAS twin of ``srp_signatures`` — the signature-build scale
    path (guide §4.2). The JVM form pays a posexplode (64 rows/vector), a
    groupBy with 32 constant-array-lookup sums, and the exchange between
    them — measured 3.7 s WholeStageCodegen + 1.2 s shuffle-write of
    executor time at sf0.1 for 2 000 vectors. Here each partition streams
    through ONE ``mapInPandas`` pass: int8 quantization is the identical
    IEEE float64 op sequence (min, max, div, mul, add, floor — elementwise,
    so bit-equal to ``quantize_int8`` by construction), and the projections
    and bit packing are EXACT int64 arithmetic (associative — no float
    determinism question at all, the same argument that lets the JVM form
    pick its plan shape). Equality is unit-gated against the JVM form
    (``test_srp_signatures_arrow_matches_jvm``). Nothing corpus-sized is
    collected or broadcast; the corpus never shuffles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    smat = np.array(signs, dtype=np.int64)  # (planes, dim)
    weights = (np.int64(1) << np.arange(smat.shape[0], dtype=np.int64))
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType()), T.StructField("sig", T.LongType())]
    )

    def pack(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # quantize_int8, op for op: least(c,x) -> greatest(-c,.) -> /c
            # -> *127 -> +0.5 -> floor (c = 1.0)
            z = np.floor(
                np.maximum(-1.0, np.minimum(1.0, mat)) / 1.0 * 127.0 + 0.5
            ).astype(np.int64)
            proj = z @ smat.T  # exact int64: |proj| <= dim * 127
            sig = ((proj >= 0) * weights).sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "sig": sig})

    return corpus.select(id_col, vec_col).mapInPandas(pack, out_schema)


def gram_partials(
    quantized: DataFrame,
    dim: int,
    arr_col: str = "uarr",
) -> DataFrame:
    """Per-partition Gram/sum partials over PRE-QUANTIZED int64 vectors —
    the Arrow BLAS path the dim-correlation docstring reserves for large
    corpora (r12). Input rows carry ``arr_col`` = array<long> (micro-unit
    quantization happens in JVM codegen, so there is NO float rounding in
    this kernel — every value is exact int64 and int64 sums are
    associative: bit-identical on any partitioning by construction).

    Emits, per flush: rows (kind='s', j, k, val) with the upper triangle
    (j ≤ k) of U^T·U, (kind='d', j, 0, val) with the per-dimension sums,
    and ('n', 0, 0, count). Callers sum the partials in a tiny
    (dim²/2)-row decimal(38,0) JVM aggregate — the corpus-scaled pair
    explode/self-join never exists.

    int64 headroom: the input is not clamped, so nothing bounds |u| but
    the data. Each batch's largest product is max|u|²; the kernel keeps an
    exact bound on every running cell and flushes the partial rows before
    it could pass 2^63 − 1 (with unit-scale values, |u| ≤ 1e6, that is one
    flush per ~9.2M rows), and raises if a single product u_j·u_k cannot
    fit (|u| > ~3.04e9 micro units)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("val", T.LongType()),
        ]
    )
    ju, ku = np.triu_indices(dim)
    lim = 2**63 - 1

    def emit(g, s, n):
        return pd.DataFrame(
            {
                "kind": ["s"] * len(ju) + ["d"] * dim + ["n"],
                "j": np.concatenate([ju + 1, np.arange(1, dim + 1), [0]]).astype(np.int32),
                "k": np.concatenate([ku + 1, np.zeros(dim, dtype=np.int64), [0]]).astype(np.int32),
                "val": np.concatenate([g[ju, ku], s, [n]]),
            }
        )

    def partials(batches):
        g = np.zeros((dim, dim), dtype=np.int64)
        s = np.zeros(dim, dtype=np.int64)
        n = used = 0  # used: exact bound on every |g| and |s| cell
        for pdf in batches:
            if len(pdf) == 0:
                continue
            u = np.array([np.asarray(v, dtype=np.int64) for v in pdf[arr_col]])
            top = max(int(u.max()), -int(u.min()), 1) ** 2
            if top > lim:
                raise OverflowError(f"gram_partials: |u|² = {top} exceeds int64")
            step = lim // top  # rows whose products always fit one accumulator
            for i in range(0, len(u), step):
                chunk = u[i : i + step]
                if used + len(chunk) * top > lim:
                    yield emit(g, s, n)
                    g, s, n, used = np.zeros_like(g), np.zeros_like(s), 0, 0
                g += chunk.T @ chunk
                s += chunk.sum(axis=0)
                n += len(chunk)
                used += len(chunk) * top
        yield emit(g, s, n)

    return quantized.select(arr_col).mapInPandas(partials, out_schema)


def knn_hard_negatives(
    corpus: DataFrame,
    k: int = 5,
    n_neg: int = 3,
    dup_cos: float = 0.95,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    ``n_neg`` MOST similar cell-mates that are NOT near-duplicates
    (6-dp cosine < ``dup_cos`` — near-dups are presumed positives/copies
    and would be FALSE negatives if sampled). Returns
    (anchor_id, negative_id, neg_cos, rank). Built on the shared
    ``_ivf_cell_knn`` edge block: the top-``k`` cell-mate list is computed
    once, the dup cutoff drops the false-negative head, and a per-anchor
    re-rank keeps the hardest ``n_neg`` survivors — so mining cost is the
    kNN block plus a bounded per-anchor window, never an extra corpus
    scan."""
    knn = _ivf_cell_knn(corpus, k, num_centroids, iters, id_col, vec_col, dim)
    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), F.col("b_id"))
    return (
        knn.filter(F.col("cos") < dup_cos)
        .withColumn("rk2", F.row_number().over(w))
        .filter(F.col("rk2") <= n_neg)
        .select(
            F.col("a_id").alias("anchor_id"),
            F.col("b_id").alias("negative_id"),
            F.col("cos").alias("neg_cos"),
            F.col("rk2").cast("long").alias("rank"),
        )
    )


def quantize_int8(vec: Column, clip: float = 1.0) -> Column:
    """Scalar int8 quantization: q_i = floor(clip(v_i, ±clip)/clip · 127
    + 0.5) — the standard 4x-memory embedding compression (FAISS SQ8
    family). The floor(x+0.5) form (round-half-toward-+∞) is used on BOTH
    engines with the identical op tree, so the mapping is bit-portable
    (native round() diverges at midpoints across engines, pitfall 8); the
    result is an ``array<int>`` whose dot products are EXACT integers —
    quantized similarity search has no float determinism question at
    all."""
    c = float(clip)
    return F.transform(
        vec,
        lambda x: F.floor(
            F.greatest(F.lit(-c), F.least(F.lit(c), x.cast("double"))) / F.lit(c) * 127.0 + 0.5
        ).cast("int"),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    clip: float = 1.0,
) -> DataFrame:
    """Exact top-k under int8 quantization: score = integer dot product of
    the quantized vectors (sum of int products — associative, bit-exact on
    any engine and any partitioning; rank ties break on neighbor id).
    Returns (query_id, neighbor_id, qdot, rank). The scan reads int8-range
    ints instead of floats — at 100 TB that is the 4x I/O and cache win
    that makes the first retrieval stage quantized in practice, with the
    float rerank reserved for the shortlist."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_int8(F.col(vec_col), clip).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize_int8(F.col(vec_col), clip).alias("c_vec")
    )
    qdot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("qdot", qdot)
        .select("query_id", "neighbor_id", "qdot")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )


def normalize_vector(vec: Column) -> Column:
    """L2-normalize a float vector (JVM fold for the norm + transform for the
    scale) — the standard ANN preprocessing so dot product == cosine.
    Zero vectors pass through unchanged."""
    norm = _norm(vec)
    return F.when(norm > 0, F.transform(vec, lambda x: (x.cast("double") / norm).cast("float"))).otherwise(vec)


def ivf_ann_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 32,
    nprobe: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF routing composed with the Arrow kernel — the measured-fast ANN
    shape (BASELINE ANN probe: IVF prunes 4.5x at 400 queries; this
    composes it with the vectorized scoring of ``cosine_topk_arrow``).

    Training stays on the JVM path (`ivf_train` — oracle-identical
    centroids), collected ONCE as the tiny centroid matrix. (Measured
    alternative: vectorizing the Lloyd assignment through mapInPandas was
    SLOWER at 40k rows — the extra shuffle join and corpus re-scan cost more
    than the interpreted fold saved; see BASELINE ANN probe.) Queries (the
    small side) are assigned to their nprobe cells driver-side; the corpus
    streams through ONE ``mapInArrow`` pass that assigns each batch row to
    its cell and scores it against only that cell's queries. Both steps are
    ``vector_kernels.topk``: the assignment ranks (round(fold squared
    distance, 6), cid) — ``ivf_assign``'s key — and the scoring ranks fold
    cosines exactly as ``cosine_topk_arrow`` does, block by block. No
    shuffle until the final O(k·|Q|) window; the rows are ``ivf_ann_topk``'s."""
    import numpy as np
    import pyarrow as pa

    cents_rows = sorted(
        ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim).collect(),
        key=lambda r: r["cid"],
    )
    cids = np.array([r["cid"] for r in cents_rows], dtype=np.int64)
    cmat = vk.matrix([r["cvec"] for r in cents_rows])
    q_rows = _collect_bounded(queries, (id_col, vec_col))
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = vk.matrix([r[vec_col] for r in q_rows])
    cap = vk.BLOCK_CELLS
    qj, qc, _, _ = vk.topk(cmat, q_mat, nprobe, "sqdist", cids, cap=cap)
    cell_queries = {c: qj[qc == c] for c in np.unique(qc)}  # cell -> probing queries

    def score(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy().astype(np.int64)
            mat = vk.matrix(batch.column(1))
            row, cell, _, _ = vk.topk(cmat, mat, 1, "sqdist", cids, cap=cap)
            for c in np.unique(cell):
                if c not in cell_queries:
                    continue
                rows, qsel = row[cell == c], cell_queries[c]
                qi, ni, cos, _ = vk.topk(mat[rows], q_mat[qsel], k, "cosine", ids[rows], q_ids[qsel], cap)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(q_ids[qsel][qi]), pa.array(ids[rows][ni]), pa.array(cos)],
                    ["query_id", "neighbor_id", "cosine"],
                )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(scored, k)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> None:
    """Persist an IVF index as a LAKE LAYOUT: the trained centroid table plus
    the corpus written `partitionBy("cid")` — the inverted lists ARE the
    partition directories. This is the 100-TB form of the in-memory
    `ivf_ann_topk` docstring's advice: once the lists are cell-partitioned
    parquet, a query that probes `nprobe` cells reads ONLY those
    directories (dynamic partition pruning against the probe list) instead
    of scanning the corpus — the scan itself becomes the index probe."""
    # Checkpoint before the double reference (written out + list assign).
    cents = ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim).localCheckpoint(
        eager=True
    )
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = ivf_assign(corpus, cents, 1, id_col, vec_col, dim)
    # Cluster by the partition column before the partitioned write (see
    # multitable_write_index): unclustered, every task opens a file in
    # every cell directory it touches — tasks x num_centroids tiny files.
    (
        corpus.join(assigned, id_col)
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(f"{path}/lists")
    )


def ivf_probe_and_score(
    cents: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Probe-and-score core shared by every persisted-index reader (batch
    `ivf_query_index` and the streaming-maintained index): compute each
    query's `nprobe` probe cells against the tiny broadcast centroid table,
    join the probe list against the cell-partitioned ``lists`` ON THE
    PARTITION COLUMN — Spark's dynamic partition pruning turns that into
    reading only the probed `cid=` directories — then exact cosine + top-k
    inside the probed cells."""
    probes = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")).join(
        F.broadcast(
            ivf_assign(queries, cents, nprobe, id_col, vec_col, dim).select(
                F.col(id_col).alias("query_id"), "cid"
            )
        ),
        "query_id",
    )
    inv = lists.select("cid", F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        inv.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def index_dim_from_centroids(cents: DataFrame) -> int:
    """The index's vector dimensionality IS persisted metadata: every
    centroid row carries the full-dim ``cvec``. Reading it back (one tiny
    1-row probe of the already-loaded centroid table) closes the r11 ADVICE
    gap — a reader passing no ``dim`` previously fell back to a silent 64
    and computed cosine over only the first 64 components of a wider
    index."""
    row = cents.select("cvec").first()
    if row is None:
        raise ValueError("IVF index has no centroids — cannot derive dim")
    return len(row["cvec"])


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Query a persisted IVF index (`ivf_write_index` layout): identical
    semantics (and unit-asserted identical results) to the in-memory
    `ivf_ann_topk` given the same trained centroids; see
    ``ivf_probe_and_score`` for the pruning argument. ``dim`` defaults to
    the dimensionality persisted with the index (the centroid vectors) —
    see ``index_dim_from_centroids``."""
    cents = spark.read.parquet(f"{path}/centroids")
    lists = spark.read.parquet(f"{path}/lists")
    if dim is None:
        dim = index_dim_from_centroids(cents)
    return ivf_probe_and_score(cents, lists, queries, k, nprobe, id_col, vec_col, dim)


# ---------------------------------------------------------------------------
# Product quantization (PQ-ADC)
# ---------------------------------------------------------------------------

def _pq_subvectors(
    df: DataFrame,
    out_id: str,
    m_subspaces: int,
    sub_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, sub): each vector split into ``m_subspaces`` contiguous
    ``sub_dim``-length slices — one narrow explode, no shuffle."""
    return (
        df.select(
            F.col(id_col).alias(out_id),
            F.explode(F.sequence(F.lit(0), F.lit(m_subspaces - 1))).alias("m"),
            F.col(vec_col).alias("v"),
        )
        .select(out_id, "m", F.expr(f"slice(v, m * {sub_dim} + 1, {sub_dim})").alias("sub"))
    )


def _pq_assign(
    sub: DataFrame, codebook: DataFrame, out_id: str, code_col: str, sub_dim: int = 16
) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): broadcast join against
    the tiny (m, cid, cvec) table, rank by 6-dp-rounded squared L2 with cid
    tie-break — the PQ analogue of ``ivf_assign``."""
    scored = sub.join(F.broadcast(codebook), "m").withColumn(
        "dist", F.round(_sqdist_unrolled("sub", "cvec", sub_dim), 6)
    )
    w = Window.partitionBy(out_id, "m").orderBy("dist", "cid")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(out_id, "m", F.col("cid").alias(code_col))
    )


def pq_assign_arrow(
    df: DataFrame,
    codebook: DataFrame,
    out_id: str,
    code_col: str,
    m_subspaces: int = 4,
    sub_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry_sub: bool = False,
) -> DataFrame:
    """Arrow twin of ``_pq_assign`` fused with ``_pq_subvectors`` — the
    encode-stage scale path (r12, guide §4.2/§2.4). The JVM form pays, per
    encode, an explode (m rows/vector), a broadcast join against the
    codebook, and a row_number window whose Exchange re-shuffles the
    subvector table (~0.5 s wall twice per pq_adc run at sf0.1). Here the
    codebook (bounded m×num_codes rows, already checkpointed by callers)
    is collected and each corpus partition streams through ONE
    ``mapInArrow`` pass: subspace slicing, then ``vector_kernels.topk``
    ranks each subvector's codes by (round(fold squared distance, 6), cid)
    — the ``ivf_assign_arrow`` contract per subspace, unit-gated by
    ``test_pq_assign_arrow_matches_jvm``. ``carry_sub`` keeps the subvector
    on the output rows (NaN elements intact) so the Lloyd mean skips the
    (id, m) self-join. The corpus never shuffles; nothing corpus-sized is
    collected."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    rows = sorted(
        codebook.select("m", "cid", "cvec").collect(),  # bounded: m×codes
        key=lambda r: (r["m"], r["cid"]),
    )
    by_m: dict[int, tuple] = {}
    for m in range(m_subspaces):
        ent = [r for r in rows if r["m"] == m]
        by_m[m] = (
            np.array([r["cid"] for r in ent], dtype=np.int64),
            vk.matrix([r["cvec"] for r in ent]),
        )
    fields = [T.StructField(out_id, T.LongType()), T.StructField("m", T.IntegerType())]
    if carry_sub:
        fields.append(T.StructField("sub", T.ArrayType(T.DoubleType())))
    fields.append(T.StructField(code_col, T.LongType()))
    names, cap = [f.name for f in fields], vk.BLOCK_CELLS

    def assign(batches):
        for batch in batches:
            ids = batch.column(0).cast(pa.int64())
            mat = vk.matrix(batch.column(1))
            for m in range(m_subspaces):
                cids, cmat = by_m[m]
                sub = mat[:, m * sub_dim : (m + 1) * sub_dim]
                row, c, _, _ = vk.topk(cmat, sub, 1, "sqdist", cids, cap=cap)
                cols = [ids.take(row), pa.array(np.full(len(row), m, dtype=np.int32))]
                if carry_sub:
                    offsets = pa.array(np.arange(len(row) + 1, dtype=np.int32) * sub.shape[1])
                    cols.append(pa.ListArray.from_arrays(offsets, pa.array(sub[row].ravel())))
                yield pa.RecordBatch.from_arrays(cols + [pa.array(cids[c])], names)

    return df.select(id_col, vec_col).mapInArrow(assign, T.StructType(fields))


def pq_train(
    corpus: DataFrame,
    m_subspaces: int = 4,
    sub_dim: int = 16,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ codebook (Jégou et al. 2011, public): per subspace, ``num_codes``
    centroids = md5-ordered seed subvectors refined by ONE Lloyd round
    (assign → per-(m, cid) dimension means, 6-dp rounded) — the same
    deterministic, engine-portable training recipe as ``ivf_train``, run
    independently in each of the ``m_subspaces`` slices. Returns
    (m, cid, cvec). The seed window rides ``ivf_seed_centroids`` (LIMIT-
    bounded); the Lloyd mean is one groupBy over (m, cid) — the shuffle
    carries m_subspaces × num_codes × sub_dim partial sums per partition,
    never the corpus."""
    seeds = ivf_seed_centroids(corpus, num_codes, id_col, vec_col)
    cb0 = (
        seeds.select(
            "cid",
            F.explode(F.sequence(F.lit(0), F.lit(m_subspaces - 1))).alias("m"),
            F.col("cvec").alias("v"),
        )
        .select("m", "cid", F.expr(f"slice(v, m * {sub_dim} + 1, {sub_dim})").alias("cvec"))
    )
    # Arrow assign with carry_sub (r12): one fused pass replaces the
    # explode + broadcast-join + window Exchange AND the (nid, m) self-join
    # the Lloyd mean paid to re-attach the subvector (pq_assign_arrow
    # equality contract, unit-gated).
    a0 = pq_assign_arrow(
        corpus, cb0, "nid", "cid", m_subspaces, sub_dim, id_col, vec_col, carry_sub=True
    )
    return (
        a0
        .groupBy("m", "cid")
        .agg(
            *[
                F.round(F.avg(F.element_at(F.col("sub"), j + 1).cast("double")), 6).alias(f"d{j}")
                for j in range(sub_dim)
            ]
        )
        .select("m", "cid", F.array(*[F.col(f"d{j}") for j in range(sub_dim)]).alias("cvec"))
    )


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_subspaces: int = 4,
    sub_dim: int = 16,
    num_codes: int = 16,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC ANN top-k: train a product quantizer, encode the corpus as
    ``m_subspaces`` small integer codes per vector, score queries against
    the CODES via asymmetric distance computation (per-query lookup table
    of query-subvector -> codebook-entry distances), take a ``shortlist``
    by approximate distance, then exact-cosine rerank to ``k``.

    Scale shape: the persisted index is m_subspaces ints per vector
    (4 codes vs 64 float64s: 32x smaller as int32 columns, 128x byte-packed
    on disk); the ADC scan
    touches only codes plus a broadcast (query × m × num_codes) micro-unit
    table, and the full vectors are read back for just shortlist × queries
    rows. Distances accumulate as exact integer micro-units
    (floor(d·1e6 + 0.5) per subspace, summed) so the ADC ranking is
    order-free and engine-identical — no float re-summation across the
    groupBy. Self-matches excluded. Returns
    (query_id, neighbor_id, adc_micro, cosine, rank)."""
    from mobsos_event_log_generator_spark.operators import exactmath as XM

    # The trained codebook is m×num_codes rows but its lineage is two full
    # corpus passes (seed assign + Lloyd mean); it feeds BOTH the encode
    # join and the ADC table, so an eager checkpoint halves the corpus
    # passes (hits_fixed_point pattern) with byte-identical entries.
    cb = pq_train(corpus, m_subspaces, sub_dim, num_codes, id_col, vec_col).localCheckpoint(
        eager=True
    )
    codes = pq_assign_arrow(
        corpus, cb, "neighbor_id", "code", m_subspaces, sub_dim, id_col, vec_col
    )
    qsub = _pq_subvectors(queries, "query_id", m_subspaces, sub_dim, id_col, vec_col)
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "cid",
        XM.int_units_long(_sqdist_unrolled("sub", "cvec", sub_dim), 6).alias("d_micro"),
    )
    adc = (
        codes.join(
            F.broadcast(dtab),
            (codes["m"] == dtab["m"]) & (codes["code"] == dtab["cid"]),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micro").cast("long").alias("adc_micro"))
    )
    ws = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    short = adc.withColumn("rk", F.row_number().over(ws)).filter(F.col("rk") <= shortlist)
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    reranked = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    return _rank_topk(reranked, k).select("query_id", "neighbor_id", "adc_micro", "cosine", "rank")


def ivfpq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 2,
    iters: int = 1,
    m_subspaces: int = 4,
    sub_dim: int = 16,
    num_codes: int = 16,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ ANN top-k (the FAISS IVFPQ composition, non-residual variant):
    an IVF coarse quantizer prunes the candidate set to each query's
    ``nprobe`` cells, and inside the probed cells vectors are scored by
    PQ-ADC codes instead of full vectors — routing cuts WHICH vectors are
    touched, codes cut HOW MANY BYTES each touch costs. Shortlist by
    integer-micro approximate distance, exact-cosine rerank to ``k``.

    Scale shape: the persisted index is (cell id + m codes) per vector;
    the scan per query is |corpus| × nprobe/num_centroids rows of a few
    bytes each, against broadcast (centroid, codebook, ADC-table) dims
    that are all bounded by index hyperparameters — at 100 TB the lists
    live bucketed by cell and a probe is a pruned scan of code columns.
    Self-matches excluded. Returns
    (query_id, neighbor_id, adc_micro, cosine, rank)."""
    from mobsos_event_log_generator_spark.operators import exactmath as XM

    # cents (num_centroids rows) feeds the corpus cell assignment AND the
    # query probes; cb (m×num_codes rows) feeds encode AND the ADC table.
    # Each carries full corpus-pass lineage — checkpoint both (see
    # pq_ann_topk / hits_fixed_point).
    cents = ivf_train(corpus, num_centroids, iters, id_col, vec_col, dim).localCheckpoint(
        eager=True
    )
    cells = ivf_assign(corpus, cents, 1, id_col, vec_col, dim).select(
        F.col(id_col).alias("neighbor_id"), F.col("cid").alias("cell")
    )
    cb = pq_train(corpus, m_subspaces, sub_dim, num_codes, id_col, vec_col).localCheckpoint(
        eager=True
    )
    codes = pq_assign_arrow(
        corpus, cb, "neighbor_id", "code", m_subspaces, sub_dim, id_col, vec_col
    ).join(cells, "neighbor_id")
    probes = ivf_assign(queries, cents, nprobe, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"), F.col("cid").alias("cell")
    )
    qsub = _pq_subvectors(queries, "query_id", m_subspaces, sub_dim, id_col, vec_col)
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "query_id",
        "m",
        "cid",
        XM.int_units_long(_sqdist_unrolled("sub", "cvec", sub_dim), 6).alias("d_micro"),
    )
    # a neighbor lives in exactly one cell and a query's nprobe cells are
    # distinct, so the cell join matches each (query, neighbor) at most once
    adc = (
        codes.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(
            F.broadcast(dtab),
            ["query_id", "m"],
        )
        .filter(F.col("cid") == F.col("code"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d_micro").cast("long").alias("adc_micro"))
    )
    ws = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    short = adc.withColumn("rk", F.row_number().over(ws)).filter(F.col("rk") <= shortlist)
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    reranked = (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("cosine", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    return _rank_topk(reranked, k).select("query_id", "neighbor_id", "adc_micro", "cosine", "rank")


def kmeans_convergence(
    corpus: DataFrame,
    num_centroids: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """k-means commissioning report: per-Lloyd-iteration inertia, live-cell
    count, and cell-size balance for iterations 0..``iters`` (0 = the
    deterministic md5 seeds) — the convergence/elbow audit run before an
    IVF quantizer or clustering config ships. One row per iteration:
    (iter, n_cells, n_vectors, inertia_micro, largest_cell, smallest_cell).

    Exactness: per-row squared distance folds left-to-right over the
    dims (identical IEEE doubles on any engine); assignment ranks by
    (round(d, 6), cid) — the SAME rule as ``ivf_assign``, so iteration 1
    of this audit trains byte-identical centroids to ``ivf_train`` and
    the report audits exactly the quantizer the IVF/IVFPQ family ships.
    Inertia quantizes each distance via the floor(x·1e6 + 0.5) trick, so
    sums and cell sizes are exact integers. Inertia accumulates in decimal(38,0) — per-row micro
    distances are ~1e6-1e9, so a long sum would wrap near 1e12 rows.

    Scale shape: each Lloyd update is localCheckpointed (num_centroids
    rows — the graph.py pattern), so iteration i's assignment pass runs
    exactly once instead of replaying assignments 0..i-1 (the old
    persist-free form paid O(iters²) broadcast-scan passes).
    The corpus never shuffles for assignment (centroids broadcast); the
    only shuffles are the k-row mean/stat aggregations, map-side combined.
    """
    from mobsos_event_log_generator_spark.operators import exactmath as XM

    cents = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
    out = None
    for it in range(iters + 1):
        scored = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .crossJoin(F.broadcast(cents))
            .withColumn("d_rank", F.round(_sqdist_unrolled(vec_col, "cvec", dim), 6))
            .withColumn(
                "d_micro", XM.int_units_long(_sqdist_unrolled(vec_col, "cvec", dim), 6)
            )
        )
        w = Window.partitionBy(id_col).orderBy("d_rank", "cid")
        a = (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(id_col, "cid", "d_micro")
        )
        per_cell = a.groupBy("cid").agg(
            F.count(F.lit(1)).alias("sz"),
            F.sum(F.col("d_micro").cast("decimal(38,0)")).alias("cell_inertia"),
        )
        summary = per_cell.agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("sz").cast("long").alias("n_vectors"),
            F.sum("cell_inertia").cast("long").alias("inertia_micro"),
            F.max("sz").cast("long").alias("largest_cell"),
            F.min("sz").cast("long").alias("smallest_cell"),
        ).select(F.lit(it).cast("long").alias("iter"), "*")
        out = summary if out is None else out.unionByName(summary)
        if it < iters:
            assigned = a.select(id_col, "cid")
            # Checkpoint each Lloyd update (num_centroids rows): without it
            # iteration i's centroid lineage replays assignments 0..i-1, so
            # the audit pays O(iters²) broadcast-scan passes over the corpus
            # (the docstring's own caveat). With the checkpoint each
            # assignment pass runs exactly once — same hits_fixed_point
            # pattern, byte-identical centroids.
            cents = (
                corpus.join(assigned, id_col)
                .groupBy("cid")
                .agg(
                    *[
                        F.expr(
                            f"round(avg(CAST(element_at(`{vec_col}`, {i + 1}) AS DOUBLE)), 6)"
                        ).alias(f"m{i}")
                        for i in range(dim)
                    ]
                )
                .select(
                    "cid",
                    F.expr(
                        "array(" + ",".join(f"m{i}" for i in range(dim)) + ")"
                    ).alias("cvec"),
                )
                .localCheckpoint(eager=True)
            )
    return out
