"""Graph signals over document-similarity graphs.

North-star: quality propagation over near-dup / citation / host graphs
(the CommonCrawl-style centrality prior a corpus-quality pipeline feeds
into sampling weights). The reference has no graph surface.

Determinism contract: ranks are integer MICRO-units end to end —
``rank' = (1e6 - d_ppm) ... + (d_ppm * Σ(rank div deg)) div 1e6`` with
integral division everywhere — so every iteration is an order-free
integer aggregate, bit-portable across engines and partitionings (the
float power iteration would accumulate in shuffle order). The price is
a deterministic rounding-down bias of < 1 micro-unit per term per
iteration — irrelevant for ranking, essential for the oracle gate.

Scale shape: one iteration = one join of the edge list with the rank
table (both shuffled by source id, co-partitioned across iterations)
plus one map-side-combined aggregate by destination. State is one row
per node; lineage is cut every other iteration (localCheckpoint) so
the plan never deepens — the same discipline as distributed CC's
star-contraction rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _symmetrize(edges: DataFrame, id1_col: str, id2_col: str) -> DataFrame:
    sym = edges.select(
        F.col(id1_col).cast("string").alias("s"),
        F.col(id2_col).cast("string").alias("d"),
    )
    sym = sym.unionByName(sym.select(F.col("d").alias("s"), F.col("s").alias("d")))
    return sym.localCheckpoint(eager=False)  # reused every iteration


def _pagerank_core(
    sym: DataFrame,
    node_base: DataFrame,
    n_iter: int,
    damping_ppm: int,
    checkpoint_every: int,
    weighted: bool = False,
) -> DataFrame:
    """Shared power-iteration core over a symmetrized edge list.
    ``node_base`` = [id, init_micro, base_micro]: the starting rank and
    the per-node teleport term — uniform for PageRank, concentrated on
    the seed set for personalized PageRank. Every iteration is the same
    order-free integer aggregate (rank' = base + d*Σ(rank div deg)
    div 1e6). With ``weighted``, ``sym`` carries an integer weight
    column ``w`` and each neighbour receives the weight-proportional
    floor share ``(rank*w) div Σw`` instead of the uniform
    ``rank div deg`` (product in decimal(38,0) — the int64 rule)."""
    if weighted:
        sw = sym.groupBy("s").agg(F.sum("w").alias("sw"))
        src = sym.join(sw, "s")  # (s, d, w, sw)
        contrib_expr = (
            "CAST(CAST(rank_micro AS DECIMAL(38,0)) * w div sw AS BIGINT)"
        )
    else:
        deg = sym.groupBy("s").agg(F.count("*").alias("deg"))
        src = sym.join(deg, "s")  # (s, d, deg) — the static input
        contrib_expr = "rank_micro div deg"
    src = src.localCheckpoint(eager=False)
    nodes = node_base.localCheckpoint(eager=False)

    ranks = nodes.select(
        "id", F.col("init_micro").cast("bigint").alias("rank_micro")
    )
    for i in range(int(n_iter)):
        contrib = (
            src.join(ranks.withColumnRenamed("id", "s"), "s")
            .select(
                F.col("d").alias("id"),
                F.expr(contrib_expr).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("S"))
        )
        ranks = nodes.join(contrib, "id", "left").select(
            "id",
            (
                F.col("base_micro")
                + F.expr(
                    f"CAST({int(damping_ppm)} AS BIGINT)"
                    f" * coalesce(S, CAST(0 AS BIGINT)) div {MICRO}"
                )
            ).cast("bigint").alias("rank_micro"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def pagerank_micro(
    edges: DataFrame,
    n_iter: int = 5,
    damping_ppm: int = 850_000,
    id1_col: str = "id1",
    id2_col: str = "id2",
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, rank_micro] — PageRank over the UNDIRECTED graph given as a
    pair list (edges are symmetrized; nodes = every id appearing in an
    edge). rank_micro starts at 1,000,000 per node; after each
    iteration Σ rank stays ≈ n×1e6 (minus the documented floor bias).
    """
    sym = _symmetrize(edges, id1_col, id2_col)
    base = int(MICRO - damping_ppm)
    node_base = sym.select(F.col("s").alias("id")).distinct().select(
        "id",
        F.lit(MICRO).cast("bigint").alias("init_micro"),
        F.lit(base).cast("bigint").alias("base_micro"),
    )
    return _pagerank_core(sym, node_base, n_iter, damping_ppm, checkpoint_every)


def weighted_pagerank_micro(
    edges: DataFrame,
    weight_col: str = "weight",
    n_iter: int = 5,
    damping_ppm: int = 850_000,
    id1_col: str = "id1",
    id2_col: str = "id2",
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, rank_micro] — edge-WEIGHTED PageRank over the undirected
    graph: each node splits its rank across neighbours in proportion
    to the connecting edge's integer weight (similarity score, link
    count) instead of uniformly — the centrality prior for similarity
    graphs where edge strength matters. Multi-edges collapse by
    SUMMING weights (a pair listed twice is twice the strength, once
    per direction after symmetrization).

    Integer contract (shared _pagerank_core): the neighbour share is
    ``(rank * w) div Σw`` with the product in decimal(38,0) — exact,
    order-free, engine-portable. Weights must be POSITIVE integers:
    NULL or <= 0 weights RAISE (a zero-weight edge silently behaving
    as a missing edge, or a negative one siphoning mass, is the
    silent-wrongness class k_core refuses).

    Scale shape: identical to pagerank_micro plus one weight-sum
    aggregate at setup; the validation is one count on the already-
    checkpointed edge frame.

    No reference counterpart — north-star addition.
    """
    sym = edges.select(
        F.col(id1_col).cast("string").alias("s"),
        F.col(id2_col).cast("string").alias("d"),
        F.col(weight_col).cast("bigint").alias("w"),
    )
    sym = sym.unionByName(
        sym.select(F.col("d").alias("s"), F.col("s").alias("d"), "w")
    )
    # the validity columns ride the SAME collapse aggregate, so a bad
    # per-edge weight cannot hide behind a healthy duplicate of the
    # same pair (sum() skips NULLs; a negative weight could net out):
    # validation sees every raw edge, in one pass
    sym = (
        sym.groupBy("s", "d").agg(
            F.sum("w").alias("w"),
            F.sum(F.col("w").isNull().cast("long")).alias("__n_null"),
            F.min("w").alias("__min_w"),
        )
        .localCheckpoint(eager=False)
    )
    n_bad = sym.where(
        (F.col("__n_null") > 0)
        | F.col("__min_w").isNull()
        | (F.col("__min_w") <= 0)
    ).count()
    if n_bad:
        raise ValueError(
            f"weighted_pagerank_micro: {n_bad} node pairs carry NULL or "
            f"non-positive edge weights — weights must be positive "
            f"integers on EVERY edge (a bad weight masked by a healthy "
            f"duplicate of the same pair is still rejected)"
        )
    sym = sym.drop("__n_null", "__min_w")
    base = int(MICRO - damping_ppm)
    node_base = sym.select(F.col("s").alias("id")).distinct().select(
        "id",
        F.lit(MICRO).cast("bigint").alias("init_micro"),
        F.lit(base).cast("bigint").alias("base_micro"),
    )
    return _pagerank_core(
        sym, node_base, n_iter, damping_ppm, checkpoint_every,
        weighted=True,
    )


def personalized_pagerank_micro(
    edges: DataFrame,
    seeds: DataFrame,
    n_iter: int = 5,
    damping_ppm: int = 850_000,
    id1_col: str = "id1",
    id2_col: str = "id2",
    seed_col: str | None = None,
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, rank_micro] — PERSONALIZED PageRank: the random walk
    restarts into the SEED set instead of uniformly, so rank measures
    proximity to the seeds — the standard corpus-expansion signal
    ("find documents like these curated ones") and the graph dual of
    DSIR's distribution matching.

    Integer contract (shared _pagerank_core): total walk mass stays
    ≈ n×1e6 like the uniform variant, but the teleport term
    concentrates on seeds — init = base-equivalent mass
    ``(n*1e6) div s`` per seed, teleport ``(n*(1e6-d)) div s`` per
    seed, 0 elsewhere (s = seeds actually present in the graph; raises
    if none are — a silent empty seed set would return the zero
    vector). Non-seed ranks are pure accumulated proximity.

    Scale shape: identical to pagerank_micro (one join + one
    map-side-combined aggregate per iteration) plus ONE seed semi-join
    at setup; the two scalar counts (n, s) are O(1) driver values.

    No reference counterpart — north-star addition.
    """
    sym = _symmetrize(edges, id1_col, id2_col)
    nodes = sym.select(F.col("s").alias("id")).distinct()
    scol = seed_col or seeds.columns[0]
    seed_ids = seeds.select(F.col(scol).cast("string").alias("id")).distinct()
    flagged = nodes.join(
        seed_ids.withColumn("__is_seed", F.lit(1)), "id", "left"
    ).select("id", F.coalesce("__is_seed", F.lit(0)).alias("__is_seed"))
    flagged = flagged.localCheckpoint(eager=False)
    n = flagged.count()
    s = flagged.where(F.col("__is_seed") == 1).count()
    if s == 0:
        raise ValueError(
            "personalized_pagerank_micro: no seed id appears in the "
            "graph — the walk would have nowhere to restart"
        )
    init_seed = (n * MICRO) // s
    base_seed = (n * (MICRO - int(damping_ppm))) // s
    node_base = flagged.select(
        "id",
        F.when(F.col("__is_seed") == 1, F.lit(init_seed))
        .otherwise(F.lit(0)).cast("bigint").alias("init_micro"),
        F.when(F.col("__is_seed") == 1, F.lit(base_seed))
        .otherwise(F.lit(0)).cast("bigint").alias("base_micro"),
    )
    return _pagerank_core(sym, node_base, n_iter, damping_ppm, checkpoint_every)


def triangle_count(
    edges: DataFrame, id1: str = "id1", id2: str = "id2"
) -> DataFrame:
    """[n_triangles] — EXACT global triangle count of the undirected
    graph (self-loops dropped, duplicate/reversed edges collapsed).

    Scale design (the canonical degree-ordered orientation): orient
    every edge from its lower endpoint to its higher under the
    (degree, id) TOTAL order. Each triangle then has exactly ONE wedge
    u->v, u->w with a closing oriented edge v->w, so a single
    wedge-join + edge semi-join counts it once — no 3-way symmetric
    join, no /6 correction. The orientation bounds every node's
    out-degree by O(sqrt(m)) on any graph (arboricity bound), so wedge
    volume is O(m^1.5) worst case and far less on real degree-skewed
    graphs — hot hubs become wedge SINKS, not sources. Two shuffles:
    wedge build (by source) + closure semi-join (by wedge endpoints).

    No reference counterpart (PyDI has no graph analytics) — the
    community/cohesion diagnostic next to pagerank_micro.
    """
    # r12: the oriented edge list feeds THREE consumers (both wedge
    # sides + the closing semi-join); without a checkpoint each re-runs
    # the canonical-dedup + degree + orientation chain — the
    # graph_triangles plan re-read its input 60 times. The wedge join
    # re-widens through its own src exchange.
    oriented = _oriented(_canonical_edges(edges, id1, id2)).localCheckpoint(
        eager=False
    )
    l = oriented.select(F.col("src"), F.col("dst").alias("v"))
    r = oriented.select(F.col("src"), F.col("dst").alias("w"))
    wedges = l.join(r, "src").where(F.col("v") < F.col("w"))
    # a closing oriented edge may run v->w or w->v depending on degrees
    closing = oriented.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    return tri.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def _canonical_edges(edges: DataFrame, id1: str, id2: str) -> DataFrame:
    """Undirected edge set: self-loops dropped, duplicates/reversals
    collapsed to (a < b)."""
    return (
        edges.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .dropDuplicates(["a", "b"])
    )


def _degrees(e: DataFrame) -> DataFrame:
    """[v, d] over a canonical edge set."""
    return (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _oriented(e: DataFrame) -> DataFrame:
    """Degree-ordered orientation of a canonical edge set: every edge
    runs from its lower endpoint to its higher under the (degree, id)
    TOTAL order, bounding out-degree by O(sqrt(m)) (arboricity) — the
    shared core of triangle_count and clustering_coefficient."""
    deg = _degrees(e)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    low_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return e.join(da, "a").join(db, "b").select(
        F.when(low_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(low_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )


def clustering_coefficient(
    edges: DataFrame, id1: str = "id1", id2: str = "id2"
) -> DataFrame:
    """[id, degree, n_triangles, coef_ppm] — EXACT local clustering
    coefficient per node: the fraction of a node's neighbour pairs that
    are themselves connected, in integer parts-per-million
    (``2T * 1e6 div (d*(d-1))``; degree < 2 -> 0). The community-
    cohesion diagnostic next to triangle_count — same inputs, per-node
    resolution.

    Scale design: reuses triangle_count's degree-ordered orientation
    (out-degree O(sqrt(m)), wedge volume O(m^1.5) worst case), but the
    closure join is an INNER join keeping the wedge source, so every
    triangle surfaces exactly once as its (src, v, w) triple; exploding
    the triple attributes it to all three corners with one narrow pass.
    d*(d-1) runs in decimal(19,0) products (the r6 int64 rule — a
    3e9-degree hub would overflow long) and the ppm emerges via
    try_cast (NULL = coefficient denominator over int64, do not trust).

    No reference counterpart (PyDI has no graph analytics) —
    north-star addition.
    """
    e = _canonical_edges(edges, id1, id2).localCheckpoint(eager=False)
    deg = _degrees(e)
    # r13: the r12 oriented-edge checkpoint REVERTED on a paired A/B
    # (2.13 s with vs 1.47/1.18 s without, same window; VERDICT r12 #2
    # flagged the r12 pairing as a borderline wash). Unlike
    # triangle_count, the expensive lineage here is already truncated
    # by the `e` checkpoint above — re-deriving the orientation per
    # consumer is two cheap RDD-scan projections, cheaper than
    # materializing a third frame.
    oriented = _oriented(e)
    l = oriented.select(F.col("src"), F.col("dst").alias("v"))
    r = oriented.select(F.col("src"), F.col("dst").alias("w"))
    wedges = l.join(r, "src").where(F.col("v") < F.col("w"))
    closing = oriented.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w")
    ).dropDuplicates(["v", "w"])
    triangles = wedges.join(closing, ["v", "w"])  # one row per triangle
    per_node = (
        triangles.select(
            F.explode(F.array("src", "v", "w")).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.withColumnRenamed("v", "id")
        .join(per_node, "id", "left")
        .select(
            "id",
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "CASE WHEN d < 2 THEN CAST(0 AS BIGINT) ELSE try_cast("
                "CAST(2 AS DECIMAL(19,0)) * coalesce(n_triangles, 0)"
                " * 1000000 div (CAST(d AS DECIMAL(19,0)) * (d - 1))"
                " AS BIGINT) END"
            ).alias("coef_ppm"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int,
    id1: str = "id1",
    id2: str = "id2",
    max_iterations: int = 50,
) -> DataFrame:
    """[id] — the nodes of the k-core: the maximal induced subgraph in
    which every node has degree >= k, found by iterated peeling (drop
    sub-k nodes, recompute degrees on the induced subgraph, repeat to
    fixpoint). The standard corpus-graph densifier: everything outside
    the core is tree-ish fringe.

    Scale shape: each round is one degree aggregate + two semi-joins
    over the surviving edge set, lineage cut per round
    (localCheckpoint) — the distributed-CC discipline. Rounds are
    bounded by the peeling depth of the graph (degeneracy ordering
    length), NOT by diameter; convergence is detected by the surviving-
    node count reaching a fixpoint (monotone decreasing, so equality is
    the exact test — no checksum needed).

    Peeling depth is NOT bounded by ``max_iterations`` on adversarial
    shapes (a path of n nodes at k=2 peels 2 endpoints per round and
    needs ~n/2 rounds), so exhausting the cap without reaching the
    count fixpoint RAISES rather than silently returning the residual
    superset — the engine's refuse-loudly convention (see
    ``estimate_pairs`` / ``bcubed_metrics``). Raise ``max_iterations``
    for deep-peel graphs.

    No reference counterpart — north-star addition.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    e = _canonical_edges(edges, id1, id2).localCheckpoint(eager=False)
    prev = None
    converged = False
    for _ in range(int(max_iterations)):
        deg = (
            e.select(F.col("a").alias("v"))
            .unionAll(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= F.lit(int(k))).select("v")
        keep = keep.localCheckpoint(eager=True)
        n = keep.count()
        if prev is not None and n == prev:
            converged = True
            break
        prev = n
        if n == 0:
            converged = True
            break
        e = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    if not converged:
        raise RuntimeError(
            f"k_core did not reach the peel fixpoint within "
            f"max_iterations={int(max_iterations)} rounds (surviving "
            f"nodes still shrinking: {prev}); the residual node set "
            f"would be a SUPERSET of the {k}-core. Raise max_iterations "
            f"(peeling depth can be O(n) on chain-like graphs)."
        )
    return (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .distinct()
        .where(F.lit(prev if prev is not None else 0) > 0)
    )


def link_prediction_scores(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """[id1, id2, common_neighbors, jaccard_ppm, ra_micro, pref_attach]
    — structural link-prediction scores for every NON-edge node pair
    that shares at least ``min_common`` neighbours: common-neighbour
    count, neighbourhood Jaccard (integer ppm), the Resource-Allocation
    index ``Σ_z 1/deg(z)`` in integer micro-units (``1e6 div deg``
    summed over the shared neighbours — the integer-exact stand-in for
    Adamic-Adar's ``1/log deg``, same ordering intuition, no
    cross-engine float risk), and preferential attachment
    ``deg(u)*deg(v)``. The candidate-generation signal for entity-graph
    densification and citation/near-dup link repair.

    Scale design: the pair space is generated by wedge enumeration
    through each shared neighbour ``z`` — volume ``Σ_z C(deg(z), 2)``,
    which a single celebrity hub turns quadratic. ``max_degree`` caps
    the wedge CENTERS (hubs stop generating candidate pairs but still
    count toward endpoint degrees) — the TokenBlocker hot-token rule;
    a hub's RA contribution is ``1e6 div d ~ 0`` anyway, so the scores
    it loses are the least informative ones. The center degree is
    attached BEFORE the wedge join (one narrow join) so the per-pair
    aggregate is a single map-side-combined groupBy; existing edges
    leave via one left-anti join on the canonical pair key; endpoint
    degrees arrive as two narrow id joins. Products run in
    decimal(19,0) with try_cast (the r6 int64 rule: NULL = overflow,
    do not trust).

    No reference counterpart (PyDI has no graph analytics) —
    north-star addition.
    """
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1: {min_common}")
    e = _canonical_edges(edges, id1, id2).localCheckpoint(eager=False)
    deg = _degrees(e)
    adj = e.select(F.col("a").alias("z"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("z"), F.col("a").alias("v"))
    )
    centers = adj.join(
        deg.select(F.col("v").alias("z"), F.col("d").alias("dz")), "z"
    )
    if max_degree is not None:
        centers = centers.where(F.col("dz") <= F.lit(int(max_degree)))
    left = centers.select("z", F.col("v"), "dz")
    right = adj.select("z", F.col("v").alias("w"))
    pairs = (
        left.join(right, "z")
        .where(F.col("v") < F.col("w"))
        .groupBy("v", "w")
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) div dz")).alias("ra_micro"),
        )
        .where(F.col("cn") >= F.lit(int(min_common)))
    )
    non_edges = pairs.join(
        e.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"],
        "left_anti",
    )
    dv = deg.select(F.col("v"), F.col("d").alias("dv"))
    dw = deg.select(F.col("v").alias("w"), F.col("d").alias("dw"))
    return (
        non_edges.join(dv, "v")
        .join(dw, "w")
        .select(
            F.col("v").alias("id1"),
            F.col("w").alias("id2"),
            F.col("cn").cast("long").alias("common_neighbors"),
            F.expr(
                "try_cast(CAST(cn AS DECIMAL(19,0)) * 1000000"
                " div (dv + dw - cn) AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.col("ra_micro").cast("long").alias("ra_micro"),
            F.expr(
                "try_cast(CAST(dv AS DECIMAL(19,0)) * dw AS BIGINT)"
            ).alias("pref_attach"),
        )
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 4,
    id1: str = "id1",
    id2: str = "id2",
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, label] — SYNCHRONOUS label propagation community detection
    over the undirected graph: every node starts labelled with its own
    id; each round ALL nodes simultaneously adopt the most frequent
    label among their neighbours, ties broken by the SMALLEST label.
    The finer-than-connected-components community signal for near-dup /
    host graphs (CC merges everything reachable; LPA respects density
    boundaries — a weak bridge between two tight cliques does not fuse
    them).

    Determinism contract: the synchronous schedule + (count DESC, label
    ASC) tie-break make every round a pure function of the previous
    labelling — no shuffle-order or visit-order dependence (the
    classic asynchronous LPA is neither reproducible nor
    SQL-replayable). Runs EXACTLY ``n_iter`` rounds: synchronous LPA
    can 2-cycle on bipartite structures, so a fixpoint test could
    never terminate; a fixed bound is both the standard remedy and
    what lets an oracle replay the rounds verbatim (the k_core
    bound-alignment lesson).

    Scale shape: one round = one edge-with-labels join (shuffled by
    source; the symmetrized edge list is checkpointed once and reused)
    + one (node, label) count with map-side combine + one min-struct
    argmax by node. State is one row per node; lineage cut every
    ``checkpoint_every`` rounds — the pagerank_micro discipline.

    No reference counterpart (PyDI has no graph analytics) —
    north-star addition.
    """
    e = _canonical_edges(edges, id1, id2)
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    ).localCheckpoint(eager=False)
    labels = sym.select(F.col("s").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for i in range(int(n_iter)):
        counted = (
            sym.join(labels.withColumnRenamed("id", "s"), "s")
            .groupBy(F.col("d").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # (count DESC, label ASC) argmax as ONE order-free aggregate:
        # min of struct(-count, label) is lexicographic, so the largest
        # count wins and the smallest label breaks ties
        labels = counted.groupBy("id").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("lbl")))
            .getField("lbl")
            .alias("label")
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
            labels = labels.localCheckpoint(eager=True)
    return labels


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    id1: str = "id1",
    id2: str = "id2",
    seed_col: str | None = None,
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, hops] — bounded-radius multi-source BFS: the exact shortest
    hop count from the nearest seed, for every node within ``max_hops``
    of the seed set (seeds themselves at 0; farther nodes are ABSENT —
    this is the bounded neighbourhood expansion, not all-pairs
    distances). The crawl-frontier / corpus-expansion primitive next to
    personalized PageRank: PPR weights proximity, BFS certifies it.

    Determinism: level-synchronous — round i labels exactly the
    unvisited neighbours of round i-1's frontier with hop i, so the
    output is the pure min-distance function of (graph, seeds),
    independent of partitioning or visit order. Runs ``max_hops``
    rounds with an early exit when a frontier empties (the exit is a
    count on the new frontier — monotone, so equality-with-zero is
    exact); a fixed bound keeps the round count oracle-replayable
    (the k_core / label_propagation bound-alignment rule).

    Scale shape: one round = one edge join against the CURRENT
    frontier (not the visited set) + one distinct + one left-anti
    against visited — frontier-sized work, never |V|x|E|; visited
    lineage is cut every ``checkpoint_every`` rounds. Seeds absent
    from the graph still surface at hops 0 (totality); an EMPTY seed
    frame raises (a silent {} would look like an isolated seed set).

    No reference counterpart — north-star addition.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0: {max_hops}")
    e = _canonical_edges(edges, id1, id2)
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    ).localCheckpoint(eager=False)
    scol = seed_col or seeds.columns[0]
    frontier = seeds.select(F.col(scol).alias("id")).where(
        F.col("id").isNotNull()
    ).distinct().localCheckpoint(eager=False)
    if frontier.count() == 0:
        raise ValueError("bfs_hops: empty seed set")
    visited = frontier.select("id", F.lit(0).cast("long").alias("hops"))
    for i in range(1, int(max_hops) + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("id", "s"), "s")
            .select(F.col("d").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(
            nxt.select("id", F.lit(i).cast("long").alias("hops"))
        )
        if i % checkpoint_every == 0 and i < max_hops:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt
    return visited


def hits_micro(
    edges: DataFrame,
    n_iter: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, hub_micro, auth_micro] — HITS hubs and authorities over a
    DIRECTED edge list (the first directed-graph operator next to the
    symmetrized PageRank family): authorities accumulate hub mass over
    in-edges, hubs accumulate authority mass over out-edges, each half
    renormalized to total mass n*1e6 every round. On a bipartite
    user -> item graph this is the classic "strong curators vs
    endorsed items" decomposition.

    Integer contract: updates are order-free SUMs; renormalization is
    ``score * (n*1e6) div total`` with the product in decimal(38,0) —
    one non-negative division, engine-portable (the changepoint rule);
    totals arrive as one-row broadcasts. A zero total (no in-edges
    anywhere for the auth half) leaves that half all-zero rather than
    dividing by zero. Runs EXACTLY ``n_iter`` rounds — fixed bound =
    oracle-replayable (the label_propagation rule); multi-edges
    collapse (dropDuplicates) so an edge repeated twice does not vote
    twice.

    Scale shape: each half-round is one edge join with the current
    score frame (shuffled by the join side's node id) + one
    map-side-combined aggregate + a one-row total broadcast; state is
    one row per node, lineage cut every ``checkpoint_every`` rounds.

    No reference counterpart — north-star addition.
    """
    e = (
        edges.select(
            F.col(src_col).alias("s"), F.col(dst_col).alias("d")
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .dropDuplicates(["s", "d"])
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("s").alias("id"))
        .unionByName(e.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    scores = nodes.select(
        "id",
        F.lit(MICRO).cast("bigint").alias("hub_micro"),
        F.lit(MICRO).cast("bigint").alias("auth_micro"),
    )

    def half(frame, join_key, sum_col, out_col):
        """One HITS half-round: aggregate ``sum_col`` over the edges
        incident via ``join_key``, renormalize to n*1e6 total.

        r12: the fully-sparse variant (zero-fill deferred to the end)
        measured SLOWER (6.5-7.7 s vs 4.4-5.0 s at sf0.1) — the
        node-anchored left join keeps the state frame's size estimate
        exact so every edge⋈state join stays broadcast; keep the
        zero-fill. The redundant joins removed below stand."""
        agg = (
            e.join(
                frame.select(F.col("id").alias(join_key), sum_col),
                join_key,
            )
            .groupBy(F.col("d" if join_key == "s" else "s").alias("id"))
            .agg(F.sum(sum_col).alias("__raw"))
        )
        scored = nodes.join(agg, "id", "left").select(
            "id", F.coalesce("__raw", F.lit(0)).cast("bigint").alias("__raw")
        )
        total = scored.agg(F.sum("__raw").alias("__tot"))
        return scored.crossJoin(F.broadcast(total)).select(
            "id",
            F.expr(
                f"CASE WHEN __tot <= 0 THEN CAST(0 AS BIGINT) "
                f"ELSE CAST(CAST(__raw AS DECIMAL(38,0)) * {n} * {MICRO}"
                f" div __tot AS BIGINT) END"
            ).alias(out_col),
        )

    # r12: hub's half consumes ``auth`` DIRECTLY (it only reads
    # auth_micro — the old scores.drop(...).join(auth) carried hub
    # columns it never used), and the round's scores frame is
    # hub ⋈ auth (both already node-complete from the zero-fill) —
    # the extra nodes join in the rebuild was a no-op. 2 joins fewer
    # per round, output byte-identical (oracle re-verified).
    for i in range(int(n_iter)):
        auth = half(scores, "s", "hub_micro", "auth_micro")
        hub = half(auth, "d", "auth_micro", "hub_micro")
        scores = hub.join(auth, "id")
        if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
            scores = scores.localCheckpoint(eager=True)
    return scores.select("id", "hub_micro", "auth_micro")


def modularity_score(
    edges: DataFrame,
    communities: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    node_col: str = "id",
    community_col: str = "community",
) -> DataFrame:
    """ONE row [n_nodes, n_communities, m_edges, q_num, q_den, q] — the
    Newman-Girvan modularity of a community assignment over the
    undirected simple graph (self-loops dropped, multi-edges
    collapsed): Q = sum_c ( e_c/m - (d_c/2m)^2 ) where e_c counts
    intra-community edges and d_c sums member degrees. The community-
    QUALITY audit next to label_propagation (which finds communities
    but says nothing about how good the cut is): Q near 0 means the
    split is no better than random wiring, Q >= ~0.3 means real
    structure. Use it to gate whether LPA communities are worth
    sharding a corpus by.

    Exact-arithmetic contract: with D = 2m (the total degree),
    Q = sum_c (2*e_c*D - d_c^2) / D^2 — both sides are EXACT integers
    (decimal(38,0) products, no per-community rationals), emitted as
    ``q_num``/``q_den`` BIGINTs plus the one final double division
    ``q`` (the bcubed F1 policy: floats only at the very end, never
    inside an aggregate). No integer division anywhere, so the
    truncate-vs-floor negative-numerator trap (changepoint rule)
    cannot occur even though q_num CAN be negative.

    Preconditions (refused loudly — silent fixes would be
    shuffle-order dependent, the bcubed lesson): the assignment must
    COVER every graph node and be a PARTITION (one community per
    node). Both checks ride one O(V) node-sized frame — the degree
    table joined to the assignment — with a single validation action.

    Scale shape: one degree aggregate, one node-sized join + eager
    validation pass, one edge⋈assignment⋈assignment equi-join chain
    for e_c (shuffled by node id twice — linear in |E|), two
    map-side-combinable aggregates. Nothing quadratic; the output is
    one row.

    No reference counterpart (PyDI has no graph analytics) —
    north-star addition.
    """
    from pyspark.sql import Window

    e = _canonical_edges(edges, id1, id2).localCheckpoint(eager=False)
    comm = communities.select(
        F.col(node_col).cast("string").alias("v"),
        F.col(community_col).cast("string").alias("c"),
    ).distinct()
    w = Window.partitionBy("v")
    comm = comm.withColumn("nm", F.count(F.lit(1)).over(w))
    deg = _degrees(e).select(F.col("v").cast("string").alias("v"), "d")
    dj = deg.join(comm, "v", "left").localCheckpoint(eager=False)
    viol = dj.where(F.col("c").isNull() | (F.col("nm") > 1)).limit(1).collect()
    if viol:
        r = viol[0]
        if r["c"] is None:
            raise ValueError(
                f"modularity_score: graph node {r['v']!r} has no community "
                "assignment — the assignment must cover every node"
            )
        raise ValueError(
            f"modularity_score: node {r['v']!r} belongs to {r['nm']} "
            "communities — modularity is defined over partitions"
        )
    c_by_node = dj.select("v", "c")
    intra = (
        e.select(F.col("a").cast("string").alias("v"), "b")
        .join(c_by_node.withColumnRenamed("c", "ca"), "v")
        .select(F.col("b").cast("string").alias("v"), "ca")
        .join(c_by_node.withColumnRenamed("c", "cb"), "v")
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    per_c = (
        dj.groupBy("c")
        .agg(F.sum("d").alias("dc"), F.count(F.lit(1)).alias("nv"))
        .join(intra, "c", "left")
        .select(
            "c", "dc", "nv", F.coalesce("ec", F.lit(0)).alias("ec"),
        )
    )
    # sum_c (2*e_c*D - d_c^2) = 2*D*sum(e_c) - sum(d_c^2): one pass of
    # map-side-combinable sums, the D-dependent term applied after
    # coalesce: SUM over the empty graph is NULL — the audit row must
    # read all-zeros, not all-NULLs (empty-input totality sweep)
    tot = per_c.agg(
        F.coalesce(F.sum("nv"), F.lit(0)).cast("long").alias("n_nodes"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.coalesce(F.sum("dc"), F.lit(0)).cast("long").alias("__D"),
        F.coalesce(F.sum("ec"), F.lit(0)).cast("long").alias("__Ein"),
        F.expr(
            "CAST(coalesce(sum(CAST(dc AS DECIMAL(38,0)) * dc), 0) "
            "AS DECIMAL(38,0))"
        ).alias("__sd2"),
    )
    # the exact q_num/q_den pair is BIGINT: past ~1.5e9 edges D^2
    # overflows int64, and Spark's decimal->bigint cast would return a
    # silent NULL (the audit's own never-NULL totality contract) while
    # the SQL replica's bigint multiply errors loudly — align both
    # engines on LOUD (raise_error) and keep `q` valid at any scale by
    # dividing the decimals directly, never the bigint casts
    big = "9223372036854775807"
    qn = "2 * CAST(__Ein AS DECIMAL(38,0)) * __D - __sd2"
    qd = "CAST(__D AS DECIMAL(38,0)) * __D"
    return tot.select(
        "n_nodes", "n_communities",
        F.expr("CAST(__D div 2 AS BIGINT)").alias("m_edges"),
        F.expr(
            f"CASE WHEN abs({qn}) > {big} OR {qd} > {big} THEN "
            f"CAST(raise_error('modularity_score: exact q_num/q_den "
            f"overflow int64 (graph beyond ~1.5e9 edges); read q') "
            f"AS BIGINT) ELSE CAST({qn} AS BIGINT) END"
        ).alias("q_num"),
        F.expr(
            f"CASE WHEN abs({qn}) > {big} OR {qd} > {big} THEN "
            f"CAST(raise_error('modularity_score: exact q_num/q_den "
            f"overflow int64 (graph beyond ~1.5e9 edges); read q') "
            f"AS BIGINT) ELSE CAST({qd} AS BIGINT) END"
        ).alias("q_den"),
        F.expr(
            f"CAST(CASE WHEN __D = 0 THEN 0.0 ELSE "
            f"CAST({qn} AS DOUBLE) / CAST({qd} AS DOUBLE) END AS DOUBLE)"
        ).alias("q"),
    )


def feature_propagation(
    edges: DataFrame,
    features: DataFrame,
    n_iter: int = 2,
    id1: str = "id1",
    id2: str = "id2",
    id_col: str = "id",
    value_col: str = "value_micro",
    checkpoint_every: int = 2,
) -> DataFrame:
    """[id, value_micro] — ``n_iter`` synchronous rounds of
    self-inclusive neighbour-mean smoothing over the undirected graph:
    x_i' = (x_i + sum_{j in N(i) with a feature} x_j)
           div (1 + |N(i) with a feature|).
    The GNN-style feature-smoothing primitive for link graphs: pull a
    node's quality / spam / trust score toward its neighbourhood
    (label spreading for numeric features, where label_propagation
    spreads categorical ones). Self-inclusion means isolated nodes and
    nodes whose neighbours carry no feature keep their value —
    totality without special cases.

    Exact-arithmetic contract: values are NON-NEGATIVE integral micros
    (enforced — fractional dtypes raise like global_running_sum, and
    one setup aggregate refuses negatives: ``div`` truncates toward
    zero on Spark but floors in DuckDB, so a negative running value
    would be oracle-divergent). Each round is a pure integer function
    of the previous state, so a fixed round count replays in SQL
    verbatim (the label_propagation bound-alignment rule).

    Scale shape: one round = one co-partitioned edge⋈state join +
    one map-side-combinable (sum, count) aggregate by neighbour + one
    node-sized left join — the pagerank_micro discipline; state is one
    row per featured node, lineage cut every ``checkpoint_every``
    rounds. Neighbour sums aggregate in DECIMAL(38,0) with a loud
    raise_error past int64 (the modularity/assortativity overflow
    discipline — a plain long SUM would wrap silently under non-ANSI
    sessions while the SQL replica errors). Neighbours WITHOUT a feature row are excluded from both
    the sum and the divisor (never imputed zero, which would drag
    scores toward 0 at corpus boundaries).

    No reference counterpart — north-star addition.
    """
    dtype = features.schema[value_col].dataType.typeName()
    if dtype not in ("byte", "short", "integer", "long"):
        raise TypeError(
            f"feature_propagation carries values in exact long arithmetic; "
            f"value_col {value_col!r} is {dtype}, not integral. Quantize to "
            "micros (floor(v * 1e6) as bigint) first."
        )
    e = _canonical_edges(edges, id1, id2)
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    ).localCheckpoint(eager=False)
    # checkpoint BEFORE the validation collect, which stores every
    # partition it reads: a nondeterministic upstream recomputed
    # between the guard and the first round could smuggle a negative
    # past the refusal (the rank-core recompute hazard)
    state = features.select(
        F.col(id_col).alias("id"), F.col(value_col).cast("long").alias("x")
    ).where(
        F.col("id").isNotNull() & F.col("x").isNotNull()
    ).localCheckpoint(eager=False)
    neg = state.where(F.col("x") < 0).limit(1).collect()
    if neg:
        raise ValueError(
            f"feature_propagation: negative value {neg[0]['x']} for id "
            f"{neg[0]['id']!r} — integer division of negatives truncates "
            "on Spark but floors in SQL replicas; shift or clip to >= 0"
        )
    # neighbour sums ride DECIMAL(38,0) with a loud raise_error past
    # int64 — the modularity/assortativity overflow discipline (a plain
    # long SUM wraps silently under Spark's non-ANSI arithmetic while
    # the SQL replica's HUGEINT->BIGINT cast errors; keep both engines
    # loud together). The div result itself always fits: a mean of
    # non-negative longs is bounded by their max.
    big = "9223372036854775807"
    for i in range(int(n_iter)):
        agg = (
            sym.join(
                state.select(F.col("id").alias("s"), F.col("x").alias("xs")),
                "s",
            )
            .groupBy(F.col("d").alias("id"))
            .agg(
                F.sum(F.col("xs").cast("decimal(38,0)")).alias("nsum_dec"),
                F.count(F.lit(1)).alias("ncnt"),
            )
            .select(
                "id",
                F.expr(
                    f"CASE WHEN nsum_dec > {big} THEN "
                    f"CAST(raise_error('feature_propagation: neighbour sum "
                    f"overflows int64; rescale value_micro') AS BIGINT) "
                    f"ELSE CAST(nsum_dec AS BIGINT) END"
                ).alias("nsum"),
                "ncnt",
            )
        )
        # the addition rides decimal too (x + nsum can exceed int64 even
        # when each fits); the div RESULT is a mean of non-negative
        # longs, so the final bigint cast can never overflow
        state = state.join(agg, "id", "left").select(
            "id",
            F.expr(
                "CAST((CAST(x AS DECIMAL(38,0)) + coalesce(nsum, 0)) "
                "div (1 + coalesce(ncnt, 0)) AS BIGINT)"
            ).alias("x"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < n_iter:
            state = state.localCheckpoint(eager=True)
    return state.select("id", F.col("x").alias("value_micro"))


def degree_assortativity(
    edges: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """ONE row [n_nodes, m_edges, r_num, r_den, r] — the degree
    assortativity coefficient of the undirected simple graph (Newman's
    degree-degree Pearson correlation over edge endpoints): r > 0
    means hubs link to hubs (social-network shape), r < 0 means hubs
    link to leaves (web/crawl shape). The structural prior that tells
    a corpus pipeline whether link-based quality propagation
    (feature_propagation / pagerank) will concentrate or diffuse.

    Exact-arithmetic contract: over the SYMMETRIZED edge list (each
    undirected edge counted in both directions, M = 2m rows) the two
    endpoint-degree marginals are identical, so the usual
    sqrt(var_x)*sqrt(var_y) denominator collapses to a plain variance
    and NO square root is needed:
        r = (M*Σxy - S1²) / (M*Σx² - S1²),  S1 = Σx = Σy.
    Both sides are EXACT integers (decimal(38,0) sums/products),
    emitted as ``r_num``/``r_den`` BIGINTs plus the one final double
    division ``r`` (0.0 for the degenerate regular graph, where every
    degree is equal and r_den = 0). No integer division anywhere, so
    sign does not matter (the changepoint rule is moot).

    Scale shape: one degree aggregate + two edge⋈degree joins
    (shuffled by node id) + one map-side-combinable aggregate —
    linear in |E|, one output row.

    No reference counterpart — north-star addition.
    """
    # r12: e is consumed ~8x through sym (2x) and the three deg
    # references (each a 2-way union) — uncheckpointed, the
    # graph_assortativity plan re-read its input 64 times. Checkpoint
    # both (e edge-sized, deg node-sized).
    e = _canonical_edges(edges, id1, id2).localCheckpoint(eager=False)
    sym = e.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        e.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )
    deg = _degrees(e).localCheckpoint(eager=False)
    j = (
        sym.join(deg.select(F.col("v").alias("s"), F.col("d").alias("ds")), "s")
        .join(deg.select(F.col("v").alias("d"), F.col("d").alias("dd")), "d")
    )
    # coalesce: SUM over the empty graph is NULL — the audit row must
    # read all-zeros, not all-NULLs (empty-input totality sweep)
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("__M"),
        F.expr(
            "CAST(coalesce(sum(CAST(ds AS DECIMAL(38,0))), 0) "
            "AS DECIMAL(38,0))"
        ).alias("__s1"),
        F.expr(
            "CAST(coalesce(sum(CAST(ds AS DECIMAL(38,0)) * ds), 0) "
            "AS DECIMAL(38,0))"
        ).alias("__s2"),
        F.expr(
            "CAST(coalesce(sum(CAST(ds AS DECIMAL(38,0)) * dd), 0) "
            "AS DECIMAL(38,0))"
        ).alias("__p"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    # same int64-overflow discipline as modularity_score: loud
    # raise_error on the exact pair (Spark's decimal->bigint cast
    # would silently NULL), `r` divides the decimals directly
    big = "9223372036854775807"
    rn = "__M * __p - __s1 * __s1"
    rd = "__M * __s2 - __s1 * __s1"
    return agg.crossJoin(F.broadcast(n_nodes)).select(
        "n_nodes",
        F.expr("CAST(__M div 2 AS BIGINT)").alias("m_edges"),
        F.expr(
            f"CASE WHEN abs({rn}) > {big} OR abs({rd}) > {big} THEN "
            f"CAST(raise_error('degree_assortativity: exact r_num/r_den "
            f"overflow int64; read r') AS BIGINT) "
            f"ELSE CAST({rn} AS BIGINT) END"
        ).alias("r_num"),
        F.expr(
            f"CASE WHEN abs({rn}) > {big} OR abs({rd}) > {big} THEN "
            f"CAST(raise_error('degree_assortativity: exact r_num/r_den "
            f"overflow int64; read r') AS BIGINT) "
            f"ELSE CAST({rd} AS BIGINT) END"
        ).alias("r_den"),
        F.expr(
            f"CAST(CASE WHEN {rd} = 0 THEN 0.0 ELSE "
            f"CAST({rn} AS DOUBLE) / CAST({rd} AS DOUBLE) END AS DOUBLE)"
        ).alias("r"),
    )
