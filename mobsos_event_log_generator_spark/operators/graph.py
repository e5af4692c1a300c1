"""Distributed connected components — dedup clustering.

Near-dup detection yields PAIRS; deduplication needs CLUSTERS (keep one doc
per transitive group: A~B, B~C ⇒ {A,B,C} even if A,C never matched). This is
connected components over the match graph, the step after any fuzzy-dedup
pass in an LLM-data pipeline.

Algorithm: min-label propagation to a fixpoint — each node's label becomes
the minimum label among itself and its neighbors, iterated until no label
changes. Every iteration is one shuffle (join + groupBy on node id);
``localCheckpoint`` truncates the plan lineage between iterations (otherwise
the unresolved plan doubles per round and the convergence-check action
re-executes the whole history — the measured quadratic, see
ENGINEERING_NOTES). Checkpoint blocks are freed by Spark's ContextCleaner
when the final DataFrame is garbage-collected, so the operator stays
caller-cache-free like everything else in ``operators/``.

Two interchangeable algorithms, same (node, component) contract:

* ``connected_components`` — min-label propagation; iterations = graph
  DIAMETER. Cheapest per round; right when clusters are near-cliques.
* ``connected_components_star`` — alternating large-star/small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14): each round attaches nodes to their neighborhood
  minimum, halving component height, so rounds are O(log n) regardless of
  diameter — the scale-safe choice for a 100-TB dedup graph whose shape
  you don't control (a chain of pairwise-similar docs is a long path).
  ``dedup_clusters`` routes through this one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min node id
    reachable through the undirected pair graph (a canonical, deterministic
    cluster id — the survivor in keep-min dedup policies).

    Raises if the fixpoint isn't reached in ``max_iterations`` (diameter
    larger than expected) rather than returning wrong clusters silently."""
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # edges are reused every round — one materialization, lineage-free
    edges = edges.localCheckpoint(eager=True)

    labels = edges.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))
    labels = labels.localCheckpoint(eager=True)

    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))).alias("comp"),
                (F.col("n_comp") < F.col("comp")).alias("__changed"),
            )
        )
        # LAZY: the convergence probe below materializes the checkpoint. As
        # a full-scan aggregate it reads every partition by construction; a
        # ``limit(1).count()`` probe did too, but only because Spark plans
        # it as a per-partition limit and caches a partition whole.
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = new_labels.agg(F.max("__changed")).head()[0]
        labels = new_labels.drop("__changed")
        if not changed:
            return labels.select(F.col("node"), F.col("comp").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations; "
        "graph diameter exceeds expectation — raise max_iterations or use "
        "connected_components_star (O(log n) rounds)"
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    # callers maintain the a > b normal form, so the union is duplicate-free
    # by construction — no distinct shuffle needed
    return edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One star contraction over the symmetric closure of ``edges``.

    For each node u with neighborhood minimum m = min(N(u) ∪ {u}):
    large-star attaches every STRICTLY GREATER neighbor to m; small-star
    attaches every smaller-or-equal member of N(u) ∪ {u} to m. Both are a
    groupBy(min) + equi-join — the same shuffle shape as one min-label
    round — and both preserve connectivity (Kiveris et al., Lemmas 1-2)."""
    nb = _symmetric(edges)
    mins = nb.groupBy("a").agg(F.min("b").alias("mn")).select("a", F.least("mn", "a").alias("m"))
    j = nb.join(mins, "a")
    if large:
        out = j.filter(F.col("b") > F.col("a")).select(F.col("b").alias("a"), F.col("m").alias("b"))
    else:
        out = j.filter(F.col("b") < F.col("a")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        ).union(mins.select(F.col("a"), F.col("m").alias("b")))
    return out.filter(F.col("a") != F.col("b")).distinct()


def connected_components_star(
    pairs: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star contraction —
    O(log n) rounds in the component size, independent of graph diameter
    (min-label propagation needs diameter rounds: 10^4 sequential shuffles
    on a 10^4-long chain; this needs ~14).

    Same contract as ``connected_components``: component = min reachable
    node id; raises rather than returning wrong clusters if the round
    budget is exhausted. Per round: two star steps (groupBy + join each)
    plus a one-job fixpoint probe, all lineage-truncated via
    localCheckpoint. Edges stay in the a > b (child > parent) normal form
    so the symmetric closure never needs a dedup shuffle."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        # LAZY checkpoint + single-reference probe (r12, verdict #5): the
        # convergence probe below is what materializes this round's edges,
        # so each round is ONE job instead of two (eager checkpoint, then
        # probe). The probe references edges exactly once — an explode of
        # both endpoints with child/parent flags, aggregated per node —
        # because a two-reference probe (the old semi-join of edges against
        # its own parent set) would race both branches into computing the
        # not-yet-persisted star pipeline twice inside the one job.
        edges = _star_round(_star_round(edges, large=True), large=False)
        edges = edges.localCheckpoint(eager=False)
        # Small-star output is a union of child→parent stars with parent =
        # neighborhood min. Fixpoint ⇔ no parent is still someone's child
        # (⇔ no node carries both flags) — then every component is a single
        # depth-1 star whose center is the component min (star steps
        # preserve components); detected the same round the stars form (an
        # edge-set compare needs one extra no-op round).
        both = (
            edges.select(
                F.explode(
                    F.array(
                        F.struct(F.col("a").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")),
                        F.struct(F.col("b").alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p")),
                    )
                ).alias("x")
            )
            .groupBy("x.n")
            .agg(F.max("x.c").alias("c"), F.max("x.p").alias("p"))
            .filter((F.col("c") == 1) & (F.col("p") == 1))
            .limit(1)
            .count()
        )
        if both == 0:
            members = edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
            centers = edges.select(F.col("b").alias("node"), F.col("b").alias("component"))
            return members.union(centers).distinct()
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iterations} rounds; "
        "this bounds O(log n) — raise max_iterations for astronomically large components"
    )


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list, in FIXED-POINT integer arithmetic
    so every iteration is bit-identical on any engine (no float-summation
    association noise compounding across rounds — pitfall 8 in
    ENGINEERING_NOTES would otherwise amplify per iteration):

        r0(v)  = scale div N
        r_t+1(v) = (d_pct*scale) div (100*N) * ... teleport
                 + (damping_pct * Σ_{u→v} (r_t(u) div outdeg(u))) div 100

    with d_pct = 100 - damping_pct and all divisions INTEGER (``div``/``//``
    — exact on BIGINT, identical in Spark and DuckDB; integer sums are
    associative, so shuffle order can never change a result bit). Dangling
    nodes keep only their teleport mass (no redistribution) — documented
    fixed-iteration semantics, not the normalized limit.

    Per iteration: one equi-join of the (broadcastable-or-not) rank table
    against the edge list on src plus one groupBy(dst) sum — the canonical
    distributed PageRank shuffle shape, map-side combined. Edge list and
    ranks are lineage-truncated between rounds via localCheckpoint, same as
    the connected-components loop. Returns (node, pagerank_fp) with rank in
    units of 1/scale.

    Accumulator growth order (r8 audit): O(1) — the iteration is
    mass-conserving, so every per-node sum is bounded by the constant
    damping_pct·scale ≈ 8.5e13 regardless of graph size; no renormalization
    needed (the div-by-outdeg IS the normalization).
    """
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).distinct()
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # bounded driver scalar: one long
    if n == 0:
        return nodes.withColumn("pagerank_fp", F.lit(0).cast("long"))
    outdeg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("out_deg"))
    teleport = (100 - damping_pct) * scale // (100 * n)
    ranks = nodes.withColumn("pagerank_fp", F.lit(scale // n).cast("long"))
    for _ in range(iterations):
        contrib = (
            e.join(outdeg, "e_src")
            .join(ranks, F.col("e_src") == F.col("node"))
            .select(
                F.col("e_dst").alias("node"),
                F.expr("pagerank_fp div out_deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        # No per-round checkpoint: ranks is referenced ONCE per round (the
        # contrib join), so the unrolled plan grows LINEARLY in the fixed
        # iteration count — 3 chained join+agg stages off the checkpointed
        # edge list, executed as ONE job at the caller's action instead of
        # one blocking driver job per round (measured ~2.4 s -> see bench;
        # at cluster scale the same shuffles happen either way, minus the
        # per-round result materializations).
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(teleport).cast("long")
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).alias("pagerank_fp"),
        )
    return ranks


def markov_stationary_fixed_point(
    trans: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
    weight: str = "n",
) -> DataFrame:
    """Stationary distribution of a WEIGHTED Markov chain (power iteration
    pi' = pi.P over the row-stochastic transition matrix), in FIXED-POINT
    integer arithmetic so every iteration is bit-identical on any engine —
    the weighted sibling of ``pagerank_fixed_point``:

        pi_0(v)   = scale div N
        pi_t+1(v) = Σ_{u→v} (pi_t(u) * n_uv) div rowtot(u)
                  + dangling_mass_t div N

    with every division INTEGER (``div``/``//``), integer sums associative
    (shuffle order can never change a bit), and mass from DANGLING states
    (no outgoing transitions) redistributed uniformly so total probability
    cannot leak across iterations. Fixed-iteration semantics, not the
    normalized limit.

    Per iteration: one equi-join of the pi table on src + one groupBy(dst)
    sum — the same canonical shuffle shape as distributed PageRank — plus a
    1-row dangling aggregate (broadcast). Lineage is truncated per round via
    localCheckpoint. int64 headroom: the per-edge product pi*n needs
    scale * max_row_count < 2^63, i.e. counts up to ~9·10^6 at the default
    scale 10^12 — for 100 TB transition counts drop scale to 10^9 or widen
    the product to decimal(38,0). Returns (state, pi_fp) in units of
    1/scale."""
    t = trans.select(
        F.col(src).alias("t_src"), F.col(dst).alias("t_dst"), F.col(weight).alias("t_n")
    ).localCheckpoint(eager=True)
    nodes = (
        t.select(F.col("t_src").alias("state"))
        .union(t.select(F.col("t_dst").alias("state")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # bounded driver scalar: one long
    if n == 0:
        return nodes.withColumn("pi_fp", F.lit(0).cast("long"))
    rowtot = t.groupBy("t_src").agg(F.sum("t_n").alias("tot"))
    pi = nodes.withColumn("pi_fp", F.lit(scale // n).cast("long"))
    for _ in range(iterations):
        contrib = (
            t.join(rowtot, "t_src")
            .join(pi, F.col("t_src") == F.col("state"))
            .select(
                F.col("t_dst").alias("c_state"),
                F.expr("(pi_fp * t_n) div tot").alias("c"),
            )
            .groupBy("c_state")
            .agg(F.sum("c").alias("s"))
        )
        dang = (
            pi.join(rowtot, pi["state"] == rowtot["t_src"], "left_anti")
            .agg(F.coalesce(F.sum("pi_fp"), F.lit(0)).cast("long").alias("d"))
        )
        pi = (
            nodes.join(contrib, nodes["state"] == contrib["c_state"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "state",
                (F.coalesce(F.col("s"), F.lit(0)) + F.expr(f"d div {n}L"))
                .cast("long")
                .alias("pi_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return pi


def resolve_hierarchy(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Resolve every node's ROOT and DEPTH in a parent-pointer forest
    (org charts, BOM explosions, category trees — the SQL:1999 recursive-CTE
    workload) via POINTER DOUBLING: each round every node's parent pointer
    jumps to its grandparent, so resolved depth doubles per round —
    O(log height) shuffles instead of the height-many self-joins of naive
    iteration (a 10^4-deep chain needs 14 rounds, not 10^4).

    Input rows are (id, parent) with parent NULL for roots. Returns
    (id, root, depth). Cycles never terminate pointer doubling, so the
    round budget raises instead of looping forever — a cycle is data
    corruption in a forest, not a valid input.
    """
    cur = nodes.select(
        F.col(id_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc"),
        # distance covered by the current ancestor pointer
        F.when(F.col(parent_col).isNull(), F.lit(0)).otherwise(F.lit(1)).cast("long").alias("depth"),
    ).localCheckpoint(eager=True)
    parent_of = nodes.select(
        F.col(id_col).alias("anc"),
        F.coalesce(F.col(parent_col), F.col(id_col)).alias("anc_parent"),
        F.when(F.col(parent_col).isNull(), F.lit(0)).otherwise(F.lit(1)).cast("long").alias("anc_step"),
    ).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        # a node is settled when its ancestor pointer reached a root
        jumped = (
            cur.join(cur.select(F.col("node").alias("anc"), F.col("anc").alias("anc2"),
                                F.col("depth").alias("d2")), "anc")
            .select("node", F.col("anc2").alias("anc"), (F.col("depth") + F.col("d2")).alias("depth"))
        )
        jumped = jumped.localCheckpoint(eager=True)
        if jumped.join(parent_of, jumped.anc == parent_of.anc).filter(
            F.col("anc_step") > 0
        ).limit(1).count() == 0:
            return jumped.select("node", F.col("anc").alias("root"), "depth")
        cur = jumped
    raise RuntimeError(
        f"resolve_hierarchy did not settle in {max_rounds} rounds; either the "
        "forest is astronomically deep (raise max_rounds: depth resolved "
        "doubles per round) or the parent pointers contain a cycle"
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_closing: bool = False,
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation (the
    classic MapReduce triangle algorithm — Suri & Vassilvitskii, WWW'11).

    Input: one row per UNDIRECTED edge (src < dst, no duplicates, no
    self-loops). Output: (node, n_triangles) for every node on ≥ 1 triangle.

    Scale shape: the naive wedge join fans out quadratically in the MAX
    degree (a 10⁶-degree hub yields 10¹² wedges). Orienting every edge from
    its lower-(degree, id) endpoint to the higher one caps the oriented
    out-degree at O(√m) — a hub's edges point INTO it, so the hub generates
    no wedges — bounding total wedges at O(m^{3/2}), the output-optimal
    worst case. Each triangle {x,y,z} is generated exactly once, from its
    minimum-(degree, id) corner. Three shuffles total (degree agg, wedge
    self-join, closing-edge semi-join); the degree dim joins broadcast-free
    on the edge key so skew lands on the AQE path, not a single reducer.

    ``broadcast_closing``: the wedge set is O(m^1.5) — up to 30× the edge
    count on dense graphs — while the closing-edge list is exactly m rows.
    When the edge list fits executor memory, broadcasting it makes the
    closure check a map-side semi-join and the WEDGES NEVER SHUFFLE
    (measured 64.4 s → 19.5 s on a 1.2M-edge / 35M-wedge basket graph —
    BASELINE.md). Leave False when edges are cluster-scale; AQE cannot make
    this call itself because the post-aggregation edge stats are unknown at
    plan time.
    """
    # One explode instead of a 2-way self-union: the (possibly expensive)
    # edge-derivation subtree appears ONCE in the plan — a union of N
    # selects over the same lineage replicates the whole upstream pipeline
    # N times (nothing reuses the exchanges), which at sf0.1 showed up as
    # hundreds of duplicate Exchange nodes in this operator's consumers.
    deg = (
        edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        edges.join(deg.select(F.col("node").alias(src), F.col("deg").alias("deg_s")), src)
        .join(deg.select(F.col("node").alias(dst), F.col("deg").alias("deg_d")), dst)
    )
    # Orient u -> v where (deg(u), u) < (deg(v), v); carry v's rank key so the
    # wedge join can canonically order its two outer endpoints.
    fwd = F.col("deg_s") < F.col("deg_d")
    tie = (F.col("deg_s") == F.col("deg_d")) & (F.col(src) < F.col(dst))
    oriented = with_deg.select(
        F.when(fwd | tie, F.col(src)).otherwise(F.col(dst)).alias("u"),
        F.when(fwd | tie, F.col(dst)).otherwise(F.col(src)).alias("v"),
        F.when(fwd | tie, F.col("deg_d")).otherwise(F.col("deg_s")).alias("deg_v"),
    )
    lo = oriented.select(F.col("u"), F.col("v").alias("a"), F.col("deg_v").alias("deg_a"))
    hi = oriented.select(F.col("u"), F.col("v").alias("b"), F.col("deg_v").alias("deg_b"))
    wedges = lo.join(hi, "u").filter(
        (F.col("deg_a") < F.col("deg_b"))
        | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b")))
    )
    closing = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    if broadcast_closing:
        closing = F.broadcast(closing)
    tris = wedges.join(closing, ["a", "b"], "left_semi").select("u", "a", "b")
    # Same explode-over-union rewrite: each triangle row contributes one
    # count to each of its three corners; the 3-way self-union evaluated
    # the whole wedge+closing pipeline three times.
    corner = tris.select(
        F.explode(F.array(F.col("u"), F.col("a"), F.col("b"))).alias("node")
    )
    return corner.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def ancestor_closure(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Full transitive (node, ancestor, dist) closure of a parent-pointer
    forest — the relation behind SUBTREE aggregates (every node's total over
    all descendants), permission inheritance, and BOM cost rollups, where
    ``resolve_hierarchy`` (root+depth only) is not enough.

    Doubling construction: A₁ = parent edges (dist 1); each round composes
    A with itself (pairs (n→a, a→b) ⇒ n→b, dist summed), doubling the
    reachable distance — O(log height) shuffle rounds, and in a forest each
    (node, ancestor) pair is produced by exactly ONE composition split
    (midpoint at the pointer chain's power-of-two cut is unique), so the
    union needs one distinct per round, no blow-up beyond the closure's own
    O(n·height) size. Convergence = a round adds no rows. Cycles would
    never converge; the round budget raises instead (forest corruption).

    Output excludes self-pairs (dist ≥ 1); callers wanting reflexive
    closure union the identity themselves.
    """
    edges = (
        nodes.filter(F.col(parent_col).isNotNull())
        .select(
            F.col(id_col).alias("node"),
            F.col(parent_col).alias("anc"),
            F.lit(1).cast("long").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    closure = edges
    for _ in range(max_rounds):
        hop = closure.select(
            F.col("node").alias("anc"), F.col("anc").alias("anc2"), F.col("dist").alias("d2")
        )
        new = (
            closure.join(hop, "anc")
            .select("node", F.col("anc2").alias("anc"), (F.col("dist") + F.col("d2")).alias("dist"))
        )
        grown = closure.unionByName(new).distinct().localCheckpoint(eager=True)
        if grown.count() == closure.count():
            return closure.select("node", "anc", "dist")
        closure = grown
    raise RuntimeError(
        f"ancestor_closure did not converge in {max_rounds} rounds; either the "
        "forest is astronomically deep or the parent pointers contain a cycle"
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node has degree ≥ k —
    the standard noise filter before community/centrality analysis (peels
    leaves and tendrils; what survives is the dense backbone).

    Input: undirected unique edges (src < dst). Output: (node, core_degree)
    for every k-core member, with its degree INSIDE the core.

    Algorithm: iterative peeling — drop nodes with current degree < k,
    restrict edges to survivors, repeat to the fixpoint. Each round is one
    degree aggregate + one semi-join pair (shuffles on the edge key);
    lineage is truncated per round (localCheckpoint) so the plan stays
    flat. Rounds needed = peeling depth, which is tiny on real graphs
    (each round removes a whole "onion layer", not one node); the budget
    raises rather than returning a non-fixpoint."""
    cur = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        deg = (
            cur.select(F.col("a").alias("node"))
            .unionAll(cur.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        nxt = (
            cur.join(keep.select(F.col("node").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("node").alias("b")), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == cur.count():
            final_deg = (
                nxt.select(F.col("a").alias("node"))
                .unionAll(nxt.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
            )
            return final_deg.filter(F.col("core_degree") >= k)
        cur = nxt
    raise RuntimeError(
        f"k_core did not reach a fixpoint in {max_rounds} rounds — "
        "pathological peeling depth; raise max_rounds"
    )


def k_truss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """The k-truss: the maximal subgraph where every edge closes ≥ k-2
    triangles — a strictly denser backbone than the k-core (every k-truss
    is inside the (k-1)-core), the standard cohesive-subgraph extractor
    for community cores.

    Input: undirected unique edges (src < dst). Output: (src, dst,
    support) for every surviving edge, with its triangle support INSIDE
    the truss.

    Algorithm: iterative support peeling — count per-edge triangle
    support via the two-hop join (edge (a,b) matched with wedges a-w,
    b-w), drop edges with support < k-2, repeat to the fixpoint. Each
    round costs O(Σ deg²) join rows (the wedge fan-out; degree-cap hub
    middles at extreme skew); lineage is truncated per round
    (localCheckpoint) so the plan stays flat. Rounds = peeling depth
    (2 at the fixtures); the budget raises rather than returning a
    non-fixpoint."""
    cur = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    # Round fusion (r12, verdict #5 class): each round was 4 jobs (eager nxt
    # checkpoint, nxt.count, a RE-count of the previous round's cur, and an
    # eager re-checkpoint of nxt's projection). Now the fixpoint count is
    # carried in Python (peeling only removes edges, so count equality ⇔
    # set equality), nxt is a LAZY checkpoint materialized by its own count,
    # and the next round reads cur as a plain projection over nxt's blocks —
    # one job per round.
    prev_count = cur.count()
    for _ in range(max_rounds):
        sym = cur.select(F.col("a").alias("s1"), F.col("b").alias("w")).unionAll(
            cur.select(F.col("b").alias("s1"), F.col("a").alias("w"))
        )
        sup = (
            cur.join(sym.select(F.col("s1").alias("a"), "w"), "a")
            .join(sym.select(F.col("s1").alias("b"), "w"), ["b", "w"])
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        nxt = (
            sup.filter(F.col("support") >= k - 2)
            .select("a", "b", "support")
            .localCheckpoint(eager=False)
        )
        n = nxt.count()  # materializes the checkpoint in the same job
        if n == prev_count:
            return nxt.select(
                F.col("a").alias(src),
                F.col("b").alias(dst),
                F.col("support").cast("long").alias("support"),
            )
        prev_count = n
        cur = nxt.select("a", "b")
    raise RuntimeError(
        f"k_truss did not reach a fixpoint in {max_rounds} rounds — "
        "pathological peeling depth; raise max_rounds"
    )


def hits_fixed_point(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = 10**6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, public algorithm) in
    FIXED-POINT integer arithmetic, max-normalized per half-step so every
    intermediate score is bit-identical across engines (the
    pagerank/markov/PCA renormalization rule — truncating div to the
    ``scale`` grid, identical in Spark ``div`` and DuckDB ``//``):

        h_0(u)  = scale
        a_t(v)  = maxnorm( Σ_{u→v} h_t-1(u) )
        h_t(u)  = maxnorm( Σ_{u→v} a_t(v) )

    Per half-step: one equi-join of the score table against the edge list
    + one groupBy — the same canonical shuffle shape as distributed
    PageRank — plus a 1-row max aggregate (broadcast). Sums stay under
    deg_max * scale, far from int64. Fixed-iteration semantics, not the
    eigenvector limit. Returns (node, hub_fp, auth_fp) over src ∪ dst
    nodes, 0 for the side a node never plays."""
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).distinct()
    e = e.localCheckpoint(eager=True)
    hubs = e.select(F.col("e_src").alias("node")).distinct().withColumn(
        "h", F.lit(scale).cast("long")
    )
    # Checkpoint the HALF-STEP AGGREGATES and collect each max as a bounded
    # 1-row driver scalar (the parts_densest_subgraph pattern) instead of
    # crossJoining every score row against its own max aggregate: the
    # crossJoin form references the raw table twice per half-step, so the
    # per-round eager checkpoint recomputed the e-join-agg subtree 4x (and
    # the final action re-ran a whole half-step). Now every join+agg runs
    # exactly once, the max probe is a free 1-row read off the checkpoint,
    # and normalization is a literal-div projection — same integer math,
    # bit-identical scores.
    # LAZY checkpoints (r12, verdict #5 round-latency class): the max-probe
    # action is what materializes each half-step aggregate, so one job per
    # half-step does both the materialization and the 1-row max read —
    # the eager form paid a separate checkpoint job first (4 jobs/iteration
    # → 2). The max aggregate scans every partition, so the checkpoint is
    # complete when the probe returns; downstream references read blocks.
    auth = None
    for _ in range(iterations):
        a_raw = (
            e.join(hubs, F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("a_node"))
            .agg(F.sum("h").alias("a_raw"))
            .localCheckpoint(eager=False)
        )
        m_a = a_raw.agg(F.max("a_raw")).first()[0] or 1  # bounded: one long
        auth = a_raw.select(
            F.col("a_node").alias("node"),
            F.expr(f"(a_raw * {scale}L) div {m_a}L").alias("a"),
        )
        h_raw = (
            e.join(auth, F.col("e_dst") == F.col("node"))
            .groupBy(F.col("e_src").alias("h_node"))
            .agg(F.sum("a").alias("h_raw"))
            .localCheckpoint(eager=False)
        )
        m_h = h_raw.agg(F.max("h_raw")).first()[0] or 1  # bounded: one long
        hubs = h_raw.select(
            F.col("h_node").alias("node"),
            F.expr(f"(h_raw * {scale}L) div {m_h}L").alias("h"),
        )
    # explode-not-union: one pass over the checkpointed edge list instead of
    # two scans unioned (see triangle_counts — same plan-dedup rationale).
    nodes = e.select(
        F.explode(F.array(F.col("e_src"), F.col("e_dst"))).alias("node")
    ).distinct()
    return (
        nodes.join(hubs, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_fp"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth_fp"),
        )
    )


def bellman_ford_rounds(
    edges: DataFrame,
    source,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    inf: int = 10**15,
) -> DataFrame:
    """Single-source shortest paths by ROUNDS of distributed Bellman-Ford
    relaxation — the MIN-PLUS semiring sibling of the sum-based fixed-point
    family (pagerank/markov/HITS): per round every node's distance becomes
    min(own, min over in-edges of dist(u) + w). All-integer arithmetic, so
    each round is bit-identical on any engine; after k rounds distances
    equal the true shortest paths using <= k hops (the textbook invariant
    — fixed-round semantics, not the converged limit; run diameter rounds
    for that). Unreachable-in-k nodes keep the ``inf`` sentinel and are
    dropped from the result. Per round: one equi-join of the distance
    table on src + one groupBy(dst) min + a coalescing left join — the
    canonical shuffle shape; lineage truncated per round."""
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), F.col(weight).alias("e_w")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = nodes.withColumn(
        "d",
        F.when(F.col("node") == F.lit(source), F.lit(0)).otherwise(F.lit(inf)).cast("long"),
    )
    for _ in range(rounds):
        relaxed = (
            e.join(dist, F.col("e_src") == F.col("node"))
            .filter(F.col("d") < inf)
            .select(F.col("e_dst").alias("r_node"), (F.col("d") + F.col("e_w")).alias("rd"))
            .groupBy("r_node")
            .agg(F.min("rd").alias("rd"))
        )
        dist = (
            dist.join(relaxed, dist["node"] == relaxed["r_node"], "left")
            .select(
                "node",
                F.least(F.col("d"), F.coalesce(F.col("rd"), F.col("d"))).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    return dist.filter(F.col("d") < inf).select("node", F.col("d").alias("dist"))


def bfs_all_pairs_counts(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """All-pairs hop distances AND shortest-path counts by simultaneous
    BFS rounds from every node — the sigma table Brandes-style betweenness
    needs, computed without per-source loops: state is one (s, v, d, sig)
    DataFrame seeded with (s, s, 0, 1); round k extends the d = k-1
    frontier across out-edges, sums path counts per (s, v) (a shortest
    path's count is the sum over predecessors — exact integers), and
    anti-joins out already-reached pairs so only FIRST discoveries (hop-
    minimal paths) land. After ``rounds`` rounds the table is exact for
    all pairs within that many hops (fixed-round semantics; run diameter
    rounds for the full closure). Intended for BOUNDED graphs (nation
    grids, category graphs): state is O(n^2) pairs — for billion-node
    graphs use landmark sampling instead. Per round: one equi-join +
    hash agg + left-anti join; lineage truncated per round.

    Accumulator growth order (r8 audit): sig is an EXACT shortest-path
    count, bounded by Δ^rounds (Δ = max out-degree) — exponential in
    rounds, intentionally not renormalizable (exactness is the output).
    At the default 4 rounds int64 holds to Δ ≈ 5.5e4; consistent with the
    bounded-graph intent above, callers on dense graphs must shrink
    rounds or accept landmark sampling."""
    e = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("e_src").alias("node"))
        .union(e.select(F.col("e_dst").alias("node")))
        .distinct()
    )
    ap = nodes.select(
        F.col("node").alias("s"),
        F.col("node").alias("v"),
        F.lit(0).cast("long").alias("d"),
        F.lit(1).cast("long").alias("sig"),
    ).localCheckpoint(eager=True)
    for k in range(1, rounds + 1):
        frontier = ap.filter(F.col("d") == k - 1)
        grown = (
            frontier.join(e, frontier["v"] == e["e_src"])
            .groupBy("s", F.col("e_dst").alias("nv"))
            .agg(F.sum("sig").cast("long").alias("nsig"))
        )
        fresh = grown.join(
            ap.select("s", F.col("v").alias("nv")), ["s", "nv"], "left_anti"
        ).select(
            "s",
            F.col("nv").alias("v"),
            F.lit(k).cast("long").alias("d"),
            F.col("nsig").alias("sig"),
        )
        ap = ap.unionByName(fresh).localCheckpoint(eager=True)
    return ap


def boruvka_msf(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    weight: str = "w",
    rounds: int = 5,
) -> DataFrame:
    """Minimum spanning forest by Borůvka rounds — the shuffle-parallel MST
    algorithm (each round EVERY component picks its minimum incident
    crossing edge simultaneously, so components at least halve per round:
    O(log n) rounds total, vs. Kruskal/Prim's inherently sequential edge
    admission, which cannot be expressed as a bounded number of shuffles).

    ``edges`` must be in canonical undirected form: one row per edge with
    ``src < dst`` and an integer ``weight``. Selection uses the TOTAL order
    (weight, src, dst) — the classic tie-break that makes the per-component
    minimum unique, which is exactly the condition under which Borůvka
    never creates a cycle and the MSF is unique (so the output is
    deterministic under any parallelism, even with duplicate weights).

    Per round (the r11 FUSED form — winner trajectory provably identical to
    the original recompute-labels-from-the-forest form, because winners
    depend only on the node PARTITION, never on label values):

    * labels are maintained INCREMENTALLY: after round k's winners merge
      components, ``connected_components_star`` runs on the COMPONENT
      graph (one node per pre-merge component, one edge per winner — its
      size is the component count, which at least halves per round), and
      the resulting (comp → merged-comp) map is joined back onto the
      (node → comp) label table. The original form re-contracted the FULL
      forest-so-far (Θ(nodes) edges) from scratch every round — O(log n)
      inner star rounds x Θ(n) work, the dominant cost of the 1k-node
      probe (97.6 s; fused: see BASELINE.md round-11 table);
    * crossing edges are found with two hash equi-joins of the edge table
      against the label table; each endpoint component's minimum is ONE
      hash aggregate ``min(struct(w, a, b))`` per comp key (map-side
      partial combine — replaces the original sort-window per comp);
    * winners are de-duplicated (two components may elect the same edge)
      and unioned into the forest. The loop early-stops on an empty winner
      round (one ≤1-row count action per round, the fixed-point family's
      convergence-check shape).

    Lineage is truncated per round via ``localCheckpoint`` (the
    ``connected_components`` pitfall — see module docstring). If the round
    budget is exhausted while edges were still being admitted, a final
    crossing-edge probe RAISES rather than returning a partial forest
    labeled as the MSF (same contract as connected_components_star).

    Returns the forest: (a, b, w, round_added). Output size is nodes−#components
    rows — bounded by the node count, never the edge count.
    """
    e = edges.select(
        F.col(src).cast("long").alias("a"),
        F.col(dst).cast("long").alias("b"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint(eager=True)

    forest: DataFrame | None = None
    labels: DataFrame | None = None  # (node, comp); None ⇔ comp == node
    schema_cols = ["a", "b", "w", "round_added"]

    def _crossing(lbls: DataFrame) -> DataFrame:
        la = lbls.select(F.col("node").alias("a"), F.col("comp").alias("comp_a"))
        lb = lbls.select(F.col("node").alias("b"), F.col("comp").alias("comp_b"))
        return e.join(la, "a").join(lb, "b").filter(F.col("comp_a") != F.col("comp_b"))

    for k in range(1, rounds + 1):
        if labels is None:
            # round 1: every node is its own component
            tagged = e.select(F.col("a").alias("comp_a"), F.col("b").alias("comp_b"), "a", "b", "w")
        else:
            tagged = _crossing(labels)
        cand = tagged.select(F.col("comp_a").alias("comp"), "a", "b", "w").unionByName(
            tagged.select(F.col("comp_b").alias("comp"), "a", "b", "w")
        )
        winners = (
            cand.groupBy("comp")
            .agg(F.min(F.struct("w", "a", "b")).alias("e"))
            .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"), F.col("e.w").alias("w"))
            .distinct()
            .withColumn("round_added", F.lit(k).cast("long"))
            .localCheckpoint(eager=True)
        )
        grew = winners.limit(1).count() > 0
        forest = winners if forest is None else forest.unionByName(winners.select(*schema_cols))
        if not grew:
            break
        # Fused label maintenance: contract the COMPONENT graph (one edge
        # per winner, node count halves per round), then remap node labels
        # through the (comp -> merged-comp) table. Label VALUES may differ
        # from the full-forest recontraction, but the induced partition is
        # identical — and winners depend only on the partition.
        if labels is None:
            comp_edges = winners.select(F.col("a").alias("ca"), F.col("b").alias("cb"))
            labels = (
                e.select(F.col("a").alias("node"))
                .unionByName(e.select(F.col("b").alias("node")))
                .distinct()
                .withColumn("comp", F.col("node"))
            )
        else:
            wl = winners.join(
                labels.select(F.col("node").alias("a"), F.col("comp").alias("ca")), "a"
            ).join(labels.select(F.col("node").alias("b"), F.col("comp").alias("cb")), "b")
            comp_edges = wl.select("ca", "cb")
        merged = connected_components_star(comp_edges, src="ca", dst="cb").select(
            F.col("node").alias("comp"), F.col("component").alias("new_comp")
        )
        labels = (
            labels.join(merged, "comp", "left")
            .select("node", F.coalesce("new_comp", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
    assert forest is not None
    forest = forest.localCheckpoint(eager=True)
    if grew:
        # Budget exhausted while the final round was still admitting edges:
        # convergence is unproven, so probe once for remaining crossing edges
        # and refuse to return a partial forest labeled as the MSF.
        assert labels is not None
        if _crossing(labels).limit(1).count() > 0:
            raise RuntimeError(
                f"boruvka_msf did not converge within rounds={rounds}: crossing "
                "edges remain (components at least halve per round, so rounds "
                "must be >= log2(initial component count))"
            )
    return forest.select(*schema_cols)
