"""Physical-plan regression tests: the scale properties each query claims
must be visible in its executedPlan (SURVEY.md: "explain and iterate until
it's the plan you'd want"). These lock in pushdown, pruning, broadcast
strategy, map-side partial aggregation, distributed top-k, and the
no-Python-in-the-row-path rule."""

from __future__ import annotations

import pytest

from mobsos_event_log_generator_spark.plans.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """F5's timestamp range + derived not-null predicates must appear as scan
    DataFilters (Catalyst's PushDownPredicates doing what the reference did
    by hand-building SQL, event_reader.py:59-69)."""
    plan = plan_of(spark, sf_dir, "eventlog_resource_window")
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan and "DataFilters: [" in scan[0]
    assert "isnotnull" in scan[0]


def test_column_pruning_drops_unused_columns(spark, sf_dir):
    """eventlog_minmax touches only ts/case derivation inputs — the scan must
    NOT read props/value (ColumnPruning)."""
    plan = plan_of(spark, sf_dir, "eventlog_minmax")
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "props" not in scan
    assert "value" not in scan


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: partial_sum before the exchange, final after."""
    plan = plan_of(spark, sf_dir, "tpch_q1_pricing_summary")
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_q3_broadcasts_dims_and_distributes_topk(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 without a global sort
    assert "CartesianProduct" not in plan


def test_q5_no_cartesian_and_broadcast_dims(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "tpch_q5_local_supplier")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# Oracle-gated queries allowed to cross the Python boundary: each is the
# explicitly sanctioned Arrow surface it demonstrates (COVERAGE.md "Python
# execution surfaces"), never an accidental BatchEvalPython. (These were
# rows-only until round 2; now that they carry exact oracles they must be
# excluded from the JVM-only sweep explicitly.)
PYTHON_SURFACE_ALLOWLIST = {
    "udaf_source_token_totals",      # GROUPED_AGG pandas UDAF
    "grouped_map_source_zscore",     # applyInPandas grouped map
    "corpus_chunk_documents_udtf",   # Python UDTF (lateral table function)
    "multimodal_decode_stub",        # mapInPandas fake decoder
    "multimodal_decode_png",         # mapInPandas real PNG codec
    "multimodal_thumbnail",          # mapInPandas decode + nearest-neighbor resize
    "multimodal_audio_features",     # mapInPandas WAV synth + RIFF decode
    "semdedup_embeddings_arrow",     # applyInPandas per-cell BLAS pair sweep
    "text_unicode_nfc",              # mapInPandas unicodedata NFC
    "similarity_topk_arrow",         # mapInPandas BLAS kernel
    "similarity_topk_ann_ivf_arrow", # mapInPandas BLAS kernel + IVF routing
    "similarity_mmr_arrow",          # applyInPandas greedy MMR kernel
}


def test_no_python_in_hot_paths(spark, sf_dir):
    """GLOBAL gate: every oracle-gated batch query must compile to JVM
    expressions — no (Arrow)BatchEvalPython operators anywhere. Streaming
    queries are excluded (building their plan executes the stream); the
    rows-only registry entries are the sanctioned Python surfaces."""
    from mobsos_event_log_generator_spark.plans.queries import ORACLES

    swept = 0
    for q in sorted(ORACLES):
        if q.startswith("streaming_") or q in PYTHON_SURFACE_ALLOWLIST:
            continue
        plan = plan_of(spark, sf_dir, q)
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q
        swept += 1
    assert swept > 70  # the sweep must actually cover the registry


# Oracle-gated queries allowed a partition-less Window: each one's window
# input is BOUNDED (post-LIMIT rank or a per-bucket/per-group aggregate of
# fixed cardinality), so the single partition holds O(constant) rows, not the
# corpus. Every entry needs a justification — an unbounded global window is
# the canonical 100-TB scale-killer (operators/sweep.py).
GLOBAL_WINDOW_ALLOWLIST = {
    "vocabulary_topk": "rank over a post-LIMIT 50-row table (plans/llm.py)",
    "vocabulary_zipf_slope": "rank over the post-LIMIT 500-row top-vocabulary "
    "table (plans/llm.py)",
    "similarity_topk_ann_ivf": "centroid-id row_number over the post-LIMIT "
    "num_centroids-row seed table (operators/similarity.py::ivf_seed_centroids)",
    "embedding_outliers": "same IVF seeding window: post-LIMIT centroid table",
    "semdedup_embeddings": "same IVF seeding window: post-LIMIT centroid table",
    "semdedup_embeddings_arrow": "same IVF seeding window: post-LIMIT centroid table",
    "similarity_topk_pq_adc": "same IVF seeding window: post-LIMIT seed table "
    "(operators/similarity.py::pq_train via ivf_seed_centroids)",
    "similarity_topk_ann_ivfpq": "same IVF seeding windows: post-LIMIT seed "
    "tables for the coarse quantizer and the PQ codebook",
    "embedding_kmeans_convergence": "same IVF seeding window: post-LIMIT "
    "centroid table (one per replayed Lloyd iteration)",
    "corpus_hard_negatives": "same IVF seeding window: row_number directly over "
    "TakeOrderedAndProject(limit=num_centroids=8) seed table (per-cell kNN)",
    "embedding_label_knn_audit": "same IVF seeding window: row_number directly "
    "over TakeOrderedAndProject(limit=num_centroids=8) seed table (per-cell kNN)",
    "embedding_outlier_kdist": "same IVF seeding windows (two): row_number "
    "directly over TakeOrderedAndProject(limit=num_centroids=8) seed tables "
    "(per-cell kNN)",
    "eventlog_alignment_cost": "activity-alphabet code window: row_number over "
    "DISTINCT activities (alphabet-bounded input)",
    "orders_revenue_drawdown": "cumulative sum / running max over the per-day "
    "revenue aggregate — calendar-bounded series (thousands of rows at any "
    "corpus size), the documented bounded-series exception in its docstring",
    "corpus_quality_knee": "CDF cumsum over the token-count HISTOGRAM — input "
    "bounded by the distinct document-length alphabet (hundreds of rows), "
    "documented in its docstring with the two-phase-sweep fallback",
    "orders_bandit_allocation": "share-normalizing sum over the per-ARM "
    "aggregate — order-priority alphabet (5 rows at any corpus size), "
    "documented in its docstring",
}


def _toplevel_bracket_groups(s: str) -> list[str]:
    """Top-level [...] groups of a plan line (nested brackets stay inside)."""
    groups, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start : i + 1])
    return groups


def partitionless_window_lines(plan: str) -> list[str]:
    """Window operator lines with NO partition spec.

    The executedPlan string prints `Window [exprs], [partitionSpec],
    [orderSpec]`; either trailing spec may be absent, so with two groups the
    second is a partitionSpec (bare columns) or an orderSpec (`ASC`/`DESC`
    markers) — only the latter means partition-less. `WindowGroupLimit`
    (pushed-down top-k) prints its partitionSpec FIRST; it is global only
    when that group is empty. Bucket-offset windows over per-bucket
    `__total` aggregates are exempt: their input is O(num_buckets) rows by
    construction (operators/sweep.py)."""
    bad = []
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-:* ")
        if not s.startswith("Window"):
            continue
        groups = _toplevel_bracket_groups(s)
        if s.startswith("WindowGroupLimit"):
            if groups and groups[0] != "[]":
                continue  # partitioned top-k
        else:
            if len(groups) >= 3:
                continue  # partitioned (with order)
            if len(groups) == 2 and "ASC" not in groups[1] and "DESC" not in groups[1]:
                continue  # partitioned (no order): second group is the partitionSpec
        if "__total" in s:
            continue  # per-bucket offsets: bounded input
        bad.append(s)
    return bad


def test_no_single_partition_window_over_unbounded_input(spark, sf_dir):
    """GLOBAL gate (the de-weak rule from round 3): no oracle-gated batch
    query may move unbounded input through a partition-less WindowExec —
    global running aggregates must take the two-phase sweep form
    (operators/sweep.py), global quantile ranks the distributed_ntile form.
    Same shape as the no-BatchEvalPython gate below."""
    from mobsos_event_log_generator_spark.plans.queries import ORACLES

    offenders, swept = {}, 0
    for q in sorted(ORACLES):
        if q.startswith("streaming_") or q in GLOBAL_WINDOW_ALLOWLIST:
            continue
        bad = partitionless_window_lines(plan_of(spark, sf_dir, q))
        if bad:
            offenders[q] = bad
        swept += 1
    assert not offenders, f"partition-less windows over unbounded input: {offenders}"
    assert swept > 70  # the sweep must actually cover the registry


def test_lsh_candidates_is_equijoin_not_cross(spark, sf_dir):
    """LSH candidate generation must be a hash equi-join on the bucket key."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_pairs_is_cell_equijoin_not_cross(spark, sf_dir):
    """SemDeDup's within-cell pair sweep must be an equi-join on the cluster
    id (cid is the shuffle key); the only nested-loop allowed is the tiny
    broadcast centroid assignment."""
    plan = plan_of(spark, sf_dir, "semdedup_embeddings")
    assert "CartesianProduct" not in plan


def test_pagerank_iterations_are_joins_not_cross(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "eventlog_pagerank_activities")
    assert "CartesianProduct" not in plan


def test_weekly_drift_broadcasts_totals(spark, sf_dir):
    """The per-week totals are a tiny dim — both joins against them must be
    broadcast, and the edge-shift self-join must not be a cross product."""
    plan = plan_of(spark, sf_dir, "eventlog_weekly_drift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_range_join_is_banded_equijoin(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "range_join_events_near_errors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of sweep shuffles once on the key (plus AQE reads); it must not
    contain a join operator at all — it's a window over a union."""
    plan = plan_of(spark, sf_dir, "asof_last_click_before_purchase")
    assert "Join" not in plan  # no join operators: union + window only
    assert "WindowExec" in plan or "Window" in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    """After execution (AQE finalized), the aggregation pipeline must sit
    inside WholeStageCodegen spans and the scan must be vectorized."""
    df = QUERIES["tpch_q1_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan  # WholeStageCodegen stage markers
    assert "Batched: true" in plan  # vectorized parquet reader
    assert "AQEShuffleRead" in plan  # adaptive shuffle coalescing engaged


def test_q6_pure_pushdown_scan_agg(spark, sf_dir):
    """Q6 is the scan-efficiency canary: every predicate pushed to parquet
    (PushedFilters), projection pruned to the 4 touched columns, partial agg
    before the single-row exchange."""
    plan = plan_of(spark, sf_dir, "tpch_q6_forecast_revenue")
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "PushedFilters: [" in scan and "IsNotNull" in scan
    assert "GreaterThanOrEqual(l_shipdate" in scan or "l_shipdate" in scan.split("PushedFilters")[1]
    for unused in ("l_tax", "l_returnflag", "l_partkey"):
        assert unused not in scan
    assert "partial_sum" in plan
    assert "Exchange" in plan  # exactly the 1-row partial→final merge


def test_q4_semi_join_not_inner(spark, sf_dir):
    """EXISTS must decorrelate to LeftSemi — lineitem rows never multiply
    orders."""
    plan = plan_of(spark, sf_dir, "tpch_q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q19_stays_hash_join(spark, sf_dir):
    """OR-of-ANDs predicate must not defeat the equi-join extraction."""
    plan = plan_of(spark, sf_dir, "tpch_q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q13_outer_join_preserved(spark, sf_dir):
    """The right-side priority filter must ride on the LEFT OUTER join
    condition, not collapse it to inner (count-0 customers are the point)."""
    plan = plan_of(spark, sf_dir, "tpch_q13_customer_distribution")
    assert "LeftOuter" in plan
    assert plan.count("HashAggregate") >= 4  # two aggregation levels, each partial+final


def test_q21_semi_and_anti_self_joins(spark, sf_dir):
    """EXISTS/NOT EXISTS over the same fact must become one LeftSemi and one
    LeftAnti — lineitem is never widened into the output."""
    plan = plan_of(spark, sf_dir, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q8_single_pass_share(spark, sf_dir):
    """The market-share ratio must come from ONE aggregation pass (conditional
    sum), not a self-join of two aggregates; dims broadcast."""
    plan = plan_of(spark, sf_dir, "tpch_q8_market_share")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # one partial+final pair over the joined fact — no second scan of lineitem
    assert plan.count("FileScan parquet") == len(
        ["part", "lineitem", "orders", "customer", "nation", "region", "supplier", "nation2"]
    )


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """The global-average gate is a broadcast of a 1-row aggregate (nested
    loop on a scalar is fine); dormancy is a LeftAnti on pre-filtered
    orders."""
    plan = plan_of(spark, sf_dir, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln and "orders" in ln]
    assert any("PushedFilters: [" in s and "o_orderdate" in s for s in scans)


def test_sketch_probes_broadcast_no_probe_shuffle(spark, sf_dir):
    """Bloom/CMS probes must join against a BROADCAST sketch — the probe
    side (the big table at scale) never shuffles for the membership check."""
    for q in ["bloom_semijoin_parts", "cms_user_frequencies"]:
        plan = plan_of(spark, sf_dir, q)
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q


def test_eventually_follows_is_equijoin_not_cross(spark, sf_dir):
    """The EFG self-join must hash/merge-join on the case key with pos< as a
    residual condition — never a cross/nested-loop over events."""
    plan = plan_of(spark, sf_dir, "eventlog_eventually_follows")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_is_agg_join_not_window(spark, sf_dir):
    """First-occurrence span dedup must be the skew-proof form: a map-side-
    combinable min-struct AGGREGATE per segment hash probed back via an
    equi-join — no window (a hot segment would sort all copies in one task)
    and no pair expansion."""
    plan = plan_of(spark, sf_dir, "corpus_span_dedup")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan  # the pre-shuffle combine that kills skew


def test_grouping_sets_single_pass(spark, sf_dir):
    """GROUPING SETS must compile to one Expand + one shuffle — not a union
    of per-set scans."""
    plan = plan_of(spark, sf_dir, "grouping_sets_status_priority")
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") <= 2  # one hash shuffle (+AQE wrapper)
    assert "Union" not in plan


def test_trailing_range_frame_single_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "events_trailing_window_stats")
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert plan.count("Exchange") == 1


def test_gapfill_no_cartesian_over_rows(spark, sf_dir):
    """The only nested-loop allowed is the 1-row bounds broadcast; the
    grid×hourly combine must be a hash join."""
    plan = plan_of(spark, sf_dir, "events_gapfill_interpolate")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_prefix_filter_join_is_equijoin_not_cross(spark, sf_dir):
    """Prefix-filter candidate generation must be a hash/sort-merge equi-join
    on the (renamed) prefix token — a shared-lineage self-join that resolves
    `shingle == shingle` to the same attribute degrades into a size-filtered
    cross join that the verify step silently papers over."""
    plan = plan_of(spark, sf_dir, "dedup_jaccard_prefix_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_counts_are_equijoins_not_cross(spark, sf_dir):
    """Wedge generation and closure check must be equi-joins (on the oriented
    source and the (a,b) edge key) — the oracle's triple self-join is the
    quadratic shape the plan exists to avoid."""
    plan = plan_of(spark, sf_dir, "parts_cooccur_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phrase_search_is_positional_equijoin(spark, sf_dir):
    """Each phrase leg must join on the (doc, pos) key after a term filter —
    never a cross product over postings."""
    plan = plan_of(spark, sf_dir, "search_phrase_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_point_in_time_single_shuffle_sweep(spark, sf_dir):
    """The point-in-time lookup must be the as-of union-sweep (no inequality
    join): no nested-loop, and exactly the per-key window partitioning."""
    plan = plan_of(spark, sf_dir, "scd2_point_in_time_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_no_shuffle_of_facts(spark, sf_dir):
    """The inclusion filter is a narrow projection against a 1-row broadcast
    total — no Exchange over the fact table except the aggregate's own."""
    plan = plan_of(spark, sf_dir, "orders_weighted_sample")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# Explicit-broadcast-hint gate (source-level).
#
# An F.broadcast() hint FORCES the broadcast regardless of runtime size, so at
# 100x the data it means executor/driver OOM instead of a graceful shuffle
# degradation. Round-5's verdict found 17+ hints on SF-scaled inputs
# (customer/supplier/part, per-part/per-doc/per-term aggregates); those are
# now removed — AQE re-broadcasts the small-SF cases at runtime. Every hint
# that REMAINS must name an input whose cardinality is bounded by something
# other than the data volume: a 1-row scalar aggregate, a fixed-size sketch,
# a num_centroids/num_buckets-bounded table, the 25-row nation / 5-row region
# dims, a per-event-type (alphabet-bounded) aggregate, or a caller-provided
# query/id set whose boundedness is an explicit API contract. Adding a new
# hint means adding a justified entry here — the diff is the review moment.
_BROADCAST_HINT_ALLOWLIST = {
    # (relative file, normalized argument): (count, why it is bounded)
    ("operators/bloom.py", "bloom"): (1, "fixed-width bloom bitmap rows"),
    ("operators/cms.py", "cms"): (1, "fixed depth x width sketch cells"),
    ("operators/filters.py", "ids_df"): (1, "caller-supplied resource id list (API contract: request-sized)"),
    ("operators/graph.py", "closing"): (1, "explicit opt-in (broadcast_closing flag, default off)"),
    ("operators/privacy.py", "small"): (1, "under-k quasi-identifier groups (k-anonymity audit output, contractually small)"),
    ("operators/sampling.py", "tot"): (1, "1-row total-weight aggregate"),
    ("operators/similarity.py", "q"): (8, "caller-provided query set (API contract: bounded workload)"),
    ("operators/similarity.py", "centroids"): (1, "num_centroids-bounded"),
    ("operators/similarity.py", "probes"): (3, "queries x nprobe routing rows"),
    ("operators/similarity.py", "small"): (3, "cell ids below max_cell_size (num_centroids-bounded)"),
    ("operators/similarity.py", "codebook"): (1, "PQ codebook: m_subspaces x num_codes rows"),
    ("operators/similarity.py", "cb"): (2, "PQ codebook: m_subspaces x num_codes rows"),
    ("operators/similarity.py", "dtab"): (2, "queries x m_subspaces x num_codes ADC table (query set bounded by API contract)"),
    ("operators/similarity.py", "qv"): (2, "caller-provided query vectors (API contract: bounded workload)"),
    ("operators/similarity.py", "sel_df"): (1, "kcenter_select join fallback: vectors selected so far, <= k - 1 rows (caller-set k)"),
    (
        "operators/similarity.py",
        'ivf_assign(queries, cents, nprobe, id_col, vec_col, dim).select( F.col(id_col).alias("query_id"), "cid" )',
    ): (2, "queries x nprobe assignment rows"),
    ("operators/retrieval_index.py", "stats"): (3, "1-row (n_docs, avgdl) index stats"),
    ("operators/skyline.py", "offsets"): (1, "per-bucket offsets, fixed bucket count"),
    ("operators/sweep.py", "offsets"): (2, "per-bucket offsets, fixed bucket count"),
    ("plans/analytics.py", "n"): (7, "nation dim: 25 rows (x6) + per-priority totals (alphabet-bounded, trimmed mean)"),
    ("plans/analytics.py", "n1"): (2, "nation dim: 25 rows"),
    ("plans/analytics.py", "n2"): (2, "nation dim: 25 rows"),
    ("plans/analytics.py", "r"): (2, "region dim: 5 rows"),
    ("plans/analytics.py", "avg_bal"): (1, "1-row scalar"),
    ("plans/analytics.py", "top"): (1, "1-row max"),
    ("plans/analytics.py", "thresh"): (1, "1-row scalar"),
    ("plans/analytics.py", "med"): (1, "per-event-type medians (alphabet-bounded)"),
    ("plans/analytics.py", "mad"): (1, "per-event-type MADs (alphabet-bounded)"),
    ("plans/analytics.py", "ref"): (1, "1-row reference date"),
    ("plans/analytics.py", "total"): (2, "1-row scalar (ABC analysis + ABC-XYZ matrix)"),
    ("plans/analytics.py", "b"): (2, "1-row bounds"),
    ("plans/analytics.py", "norder"): (2, "1-row order count (basket pairs + association rules)"),
    ("operators/graph.py", "dang"): (1, "1-row dangling-mass aggregate (markov stationary)"),
    ("plans/analytics.py", "q"): (1, "per-event-type quantile cuts (alphabet-bounded)"),
    ("plans/analytics.py", "types"): (1, "event-type alphabet"),
    ("plans/analytics.py", "n_ref_row"): (1, "1-row scalar"),
    ("plans/analytics.py", "tot"): (6, "1-row scalar or alphabet-bounded per-group totals (PSI x2, Nelson-Aalen, weighted median, Kaplan-Meier)"),
    ("plans/analytics.py", "cut"): (2, "1-row study-cutoff max shipdate (Nelson-Aalen, Kaplan-Meier)"),
    ("plans/analytics.py", "mx"): (2, "1-row max (PSI, drawdown)"),
    ("plans/analytics.py", "qs"): (1, "9-cut decile array (1 row)"),
    ("plans/llm.py", "model"): (1, "char-trigram counts (charset^3-bounded, not corpus-scaled)"),
    ("plans/llm.py", "tg"): (1, "1-row true-pair count"),
    ("plans/llm.py", "cg"): (1, "1-row candidate-pair count"),
    ("plans/llm.py", "total"): (1, "1-row scalar"),
    ("plans/llm.py", "cents"): (1, "num_centroids-bounded"),
    ("plans/llm.py", "t"): (1, "1-row bigram total"),
    ("plans/llm.py", "v"): (1, "1-row vocab size"),
    ("plans/llm.py", "stats"): (3, "1-row (n_docs, avgdl)"),
    ("plans/llm.py", "dj"): (1, "64-row dimension stats (dim-bounded)"),
    ("plans/llm.py", "dims"): (1, "64-row dimension stats (dim-bounded, PCA centering)"),
    ("plans/llm.py", "v1"): (1, "64-row iterate vector (dim-bounded)"),
    ("plans/llm.py", "q"): (1, "3-row split-quota literal dim (stratified allocation)"),
    ("plans/llm.py", "rem"): (1, "per-language remainders (alphabet-bounded)"),
    ("plans/llm.py", "cum"): (1, "language x split cumulative allocations (alphabet-bounded)"),
    ("plans/llm.py", "dk"): (1, "64-row dimension stats (dim-bounded)"),
    ("plans/llm.py", "cov"): (2, "1-row coverage / covered-pair scalars"),
    ("plans/llm.py", "span"): (1, "1-row span bounds"),
    ("plans/llm.py", "n"): (1, "1-row doc count"),
    ("plans/llm.py", "nrow"): (2, "1-row kind='n' count of the aggregated gram_partials output (dim correlation, CKA views)"),
    ("plans/llm.py", "qv"): (1, "caller-bounded query vectors (every-50th-id sample)"),
    ("plans/procmining.py", "total"): (1, "1-row scalar"),
    ("plans/procmining.py", "alpha"): (1, "activity-alphabet code map (bounded)"),
    ("plans/procmining.py", "modal"): (1, "1-row modal variant"),
    ("plans/procmining.py", "model"): (1, "activity-alphabet^2 transition model"),
    ("plans/procmining.py", 'totals.select(F.col("wk"), F.col("t").alias("t_cur"))'): (1, "per-week totals (calendar-bounded)"),
    (
        "plans/procmining.py",
        'totals.select( (F.col("wk") + F.expr("INTERVAL 7 DAY")).alias("wk"), F.col("t").alias("t_prev"), )',
    ): (1, "per-week totals (calendar-bounded)"),
    ("plans/temporal.py", "bounds"): (1, "1-row bounds"),
    ("plans/temporal.py", "q"): (1, "3-row percentile literal dim (SLA)"),
    ("plans/procmining.py", "tot"): (1, "1-row handover total"),
    ("operators/similarity.py", "cents"): (1, "num_centroids-bounded (kmeans_convergence)"),
    ("plans/analytics.py", "bnd"): (2, "1-row (lo, hi) timestamp bounds (MWU, DiD)"),
    ("plans/analytics.py", "bnd2"): (1, "1-row (lo, hi) orderdate bounds (CUPED)"),
    ("plans/analytics.py", "bnd3"): (1, "1-row (lo, hi) shipdate bounds (revenue bridge)"),
    ("plans/analytics.py", "theta"): (1, "1-row CUPED co-moment scalars"),
    ("plans/analytics.py", "lags"): (1, "4-row literal lag dim (autocorrelation)"),
    ("plans/analytics.py", "d0"): (1, "1-row min-day origin (Haar)"),
    ("plans/analytics.py", "levels"): (1, "3-row literal level dim (Haar)"),
    ("plans/analytics.py", "g"): (1, "1-row (N, S, Q) day-series stats"),
    ("plans/analytics.py", "spine"): (2, "calendar-bounded day spine"),
    ("plans/analytics.py", "ga"): (1, "per-type rank stats (alphabet-bounded)"),
    ("plans/analytics.py", "gb"): (1, "per-type rank stats (alphabet-bounded)"),
    ("plans/analytics.py", "alpha"): (1, "sensitive-alphabet dim (acctbal buckets)"),
    ("plans/analytics.py", "nn_tot"): (2, "1-row grand total"),
    ("plans/analytics.py", "ct"): (1, "7-row day-of-week margin"),
    ("plans/sketches.py", "q"): (1, "3-row literal quantile dim (histogram quantiles)"),
    ("plans/sketches.py", "ht"): (1, "located-bucket dim — <= 3 quantiles x flags rows (histogram exact audit)"),
    ("plans/sketches.py", "tot"): (1, "1-row order-count scalar (bandit UCB1)"),
}


def test_broadcast_hints_only_on_bounded_inputs():
    """Source gate: every F.broadcast() in the package must match a justified
    allowlist entry, and every allowlist entry must still exist (no silent
    drift in either direction)."""
    import os
    import re
    from collections import Counter

    import mobsos_event_log_generator_spark as pkg

    root = os.path.dirname(pkg.__file__)
    found: Counter = Counter()
    for dirpath, _, filenames in os.walk(root):
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            src = open(path).read()
            for m in re.finditer(r"F\.broadcast\(", src):
                i, depth = m.end(), 1
                j = i
                while depth:
                    if src[j] == "(":
                        depth += 1
                    elif src[j] == ")":
                        depth -= 1
                    j += 1
                found[(rel, " ".join(src[i : j - 1].split()))] += 1
    expected = {k: c for k, (c, _why) in _BROADCAST_HINT_ALLOWLIST.items()}
    unexpected = {k: v for k, v in found.items() if k not in expected}
    assert not unexpected, f"unlisted F.broadcast() hints (justify in allowlist): {unexpected}"
    drift = {k: (found.get(k, 0), c) for k, c in expected.items() if found.get(k, 0) != c}
    assert not drift, f"allowlist count drift (found, expected): {drift}"


def test_no_module_level_name_shadowing_in_plans():
    """Source gate for the _Z_BITS incident: a module-level constant or
    function REASSIGNED later in the same plans module silently rebinds
    what earlier plan FUNCTIONS read at call time (f-string oracles built
    at import keep the old value, the Spark side picks up the new one —
    a split-brain between oracle and plan). Every module-level name in
    the plans package must be assigned exactly once. Known pre-existing
    exceptions are pinned: llm.py's _SQL_BIGRAMS pair is load-time-only
    (verified: no function body reads it) and _SQL_SPAN_CTES_TAIL is a
    self-referential reassignment."""
    import ast
    import collections
    import os

    pkg = os.path.join(
        os.path.dirname(__file__), "..", "mobsos_event_log_generator_spark", "plans"
    )
    allowed = {
        ("llm.py", "_SQL_BIGRAMS"),
        ("llm.py", "_SQL_SPAN_CTES_TAIL"),
    }
    offenders = {}
    for fn in sorted(os.listdir(pkg)):
        if not fn.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(pkg, fn)).read())
        names = collections.Counter()
        for node in tree.body:
            if isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        names[t.id] += 1
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                names[node.name] += 1
        for name, cnt in names.items():
            if cnt > 1 and (fn, name) not in allowed:
                offenders[(fn, name)] = cnt
    assert not offenders, f"module-level rebinding in plans (split-brain risk): {offenders}"


def test_fellegi_sunter_candidates_is_equijoin_not_cross(spark, sf_dir):
    """F-S scoring must ride the PPJoin prefix equi-join + id equi-joins;
    the only nested-loop allowed is the 1-row weight-table cross join."""
    plan = plan_of(spark, sf_dir, "er_fellegi_sunter")
    assert "CartesianProduct" not in plan


def test_markov_attribution_no_cross_product(spark, sf_dir):
    """Transition counting is window + union + one 12-cell aggregate; the
    solve is 1-row scalar algebra — nothing may expand quadratically."""
    plan = plan_of(spark, sf_dir, "events_markov_attribution")
    assert "CartesianProduct" not in plan


def test_silhouette_no_pairwise_materialization(spark, sf_dir):
    """The silhouette decomposition must join per-vector rows against the
    bounded (class, dim) stats table — never vectors x vectors."""
    plan = plan_of(spark, sf_dir, "embedding_silhouette_by_label")
    assert "CartesianProduct" not in plan


def test_hq_hybrid_dense_lane_is_bucket_equijoin(spark, sf_dir):
    """The high-recall hybrid's candidate generation (multitable LSH) must
    stay a (tbl, code) hash equi-join — never a cross product; the only
    nested-loop joins in the whole fused plan are 1-row broadcast scalars
    (BM25 corpus stats). Entire plan stays JVM-side."""
    plan = plan_of(spark, sf_dir, "search_hybrid_rrf_ann_hq")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_checkpointed_lanes_executed_stage_counts_bounded(spark, sf_dir):
    """EXECUTED-work gate for the localCheckpoint lanes (r11 verdict #2):
    their `.explain` output truncates at checkpoint boundaries (0-Exchange
    dumps), so this asserts on what actually RUNS — jobs/stages counted via
    the status tracker between snapshots. A reintroduced lineage replay
    (the r10/r11 disease: every reference re-running the full upstream)
    multiplies these counts 5-10x; bounds carry ~1.6x headroom over the
    r12 measured values (55/41/17/129 stages at sf0.001) so AQE jitter
    never trips the gate but the replay class always does."""
    bounds = {
        "embedding_pca_power": 88,
        "er_fellegi_sunter_em": 66,
        "similarity_mmr_diversified": 28,
        "parts_densest_subgraph": 200,
    }
    st = spark.sparkContext.statusTracker()
    for name, max_stages in bounds.items():
        before = set(st.getJobIdsForGroup(None))
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        stages = 0
        for j in set(st.getJobIdsForGroup(None)) - before:
            ji = st.getJobInfo(j)
            if ji is not None:
                stages += len(ji.stageIds)
        assert 0 < stages <= max_stages, (name, stages, max_stages)
