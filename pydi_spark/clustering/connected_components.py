"""Connected components: large-star / small-star edge contraction.

Reference: ConnectedComponentClusterer (PyDI/entitymatching/
post_clustering/connected_components.py:19-245) and fusion's recursive
DFS (PyDI/fusion/engine.py:132-164) — both single-process, the DFS with
stack-overflow risk at scale (SURVEY §3.2).

Spark shape: the alternating large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond") — each round is two
groupBy+join passes over the edge set and provably converges in
O(log^2 n) rounds (O(log n) in practice). Plain min-label propagation
needs O(diameter) rounds, which on chain-shaped correspondence graphs
(e.g. consecutive-record links) is orders of magnitude more shuffles.

- large-star: every node connects its larger neighbours to its local
  minimum — long tails fold onto small nodes.
- small-star: every node connects its smaller neighbours (and itself) to
  their minimum — stars consolidate onto the component minimum.

At convergence each component is a star centred at its minimum id, which
IS the deterministic cluster id. Convergence is detected with a cheap
one-row checksum aggregate (count + sum of hashes), not an expensive
set-difference join; ``localCheckpoint`` cuts lineage each round.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.clustering.base import apply_threshold, filter_min_cluster_size

# 'auto' strategy fast path: when the Catalyst size estimate of the edge
# input is comfortably under this, the node set is certainly driver-safe
# and hybrid runs directly with NO extra gating job. 64 MiB of edge rows
# (~3M edges) keeps the collected node set well inside the default
# spark.driver.maxResultSize. Estimates inflate through joins/explodes
# (the unsafe direction fails toward the gated path, never toward an
# unsafe collect).
DRIVER_SAFE_EDGE_BYTES = 64 << 20
# Hard row ceiling on any driver collect behind the size-ESTIMATE gate
# (r13, VERDICT r12 #4/#8): fits_estimate trusts Catalyst; a
# pathological under-estimate must degrade to the distributed path,
# not melt the driver. 50M (a, b) string rows is ~2-4 GiB as pandas —
# the practical ceiling for a driver that also holds the union-find
# dict. spark.driver.maxResultSize remains the transfer-level backstop.
DRIVER_COLLECT_ROW_CAP = 50_000_000


def _collect_capped(df):
    """Arrow-collect ``df``; None (caller falls back to the distributed
    path) when the result exceeds the row cap or the driver refuses the
    transfer (maxResultSize / task-result eviction). Any other failure
    re-raises — a data error must not be silently retried distributed."""
    from pydi_spark.core.arrowio import collect_pandas

    try:
        pdf = collect_pandas(df)
    except Exception as exc:  # noqa: BLE001 — filtered by signature below
        msg = str(exc)
        if "maxResultSize" in msg or "TaskResultLost" in msg:
            return None
        raise
    if len(pdf) > DRIVER_COLLECT_ROW_CAP:
        return None
    return pdf


def _canonical(e: DataFrame) -> DataFrame:
    return (
        e.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _local_forest(batches):
    """Per-partition union-find -> spanning forest edges (node, root).
    Contracts each partition's edges to <= #local_nodes rows."""
    import pandas as pd

    for pdf in batches:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["a"], pdf["b"]):
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        yield pd.DataFrame(
            {"a": list(parent.keys()), "b": [find(k) for k in parent.keys()]}
        )


def _build_forest(edges: DataFrame) -> DataFrame:
    """Partition-local contraction: each partition's edges collapse to a
    spanning mapping (<= #local_nodes rows); the union over partitions
    is node-count sized and has the same components as the input."""
    e = edges.select(
        F.col("id1").cast("string").alias("a"), F.col("id2").cast("string").alias("b")
    )
    return e.mapInPandas(_local_forest, "a string, b string")


def _driver_union_find(spark, forest_pdf) -> DataFrame:
    """Driver union-find over the collected forest -> assignments.

    Union-by-min keeps each tree's root at the tree minimum, so the
    final roots are the component minima regardless of edge order.
    Arrow-batched transfers both ways (core.arrowio) — py4j row pickling
    dominated hybrid CC's runtime before."""
    import pandas as pd

    from pydi_spark.core.arrowio import pandas_to_df

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(forest_pdf["a"].tolist(), forest_pdf["b"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    out = pd.DataFrame({"record_id": nodes, "cluster_id": [find(n) for n in nodes]})
    return pandas_to_df(spark, out, "record_id string, cluster_id string")


def _edge_union_find(edges: DataFrame) -> DataFrame | None:
    """Driver union-find straight over the raw edges; None when the
    capped collect refuses them."""
    pdf = _collect_capped(
        edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    )
    return None if pdf is None else _driver_union_find(edges.sparkSession, pdf)


def _hybrid_components(edges: DataFrame) -> DataFrame:
    """Driver union-find — directly over the edges when the EDGE set
    itself is driver-safe, else over the partition-local contraction
    forest.

    One or two Spark jobs total instead of O(log n) shuffle rounds —
    the right trade whenever the *node* set fits driver memory (cluster
    graphs usually contract well below the raw edge count). The
    contraction pass exists only to shrink what is collected; when the
    edge frame's size estimate is already inside the driver gate,
    running it is pure overhead (r12 measured: the mapInPandas forest
    build + collect was ~73% of hybrid CC time at sf0.1 — Python
    workers and an Arrow round trip to save a collect that was small
    either way). Union-find over raw edges and over the forest produce
    identical components with identical min-roots (union-by-min is
    order-free), so the output is bit-identical either way."""
    from pydi_spark.core.plansize import fits_estimate

    if fits_estimate(edges, DRIVER_SAFE_EDGE_BYTES):
        comps = _edge_union_find(edges)
        if comps is not None:
            return comps
        # the size estimate lied — contract first, then try again
    forest_pdf = _collect_capped(_build_forest(edges))
    if forest_pdf is None:
        raise RuntimeError(
            "hybrid connected components: even the contracted forest "
            f"exceeds the driver collect cap ({DRIVER_COLLECT_ROW_CAP} "
            "rows) — use strategy='distributed'"
        )
    return _driver_union_find(edges.sparkSession, forest_pdf)


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpoint_every: int = 1,
    min_rounds_before_check: int = 2,
    strategy: str = "auto",
    driver_node_limit: int = 5_000_000,
) -> DataFrame:
    """edges[id1, id2] -> assignments[record_id, cluster_id].

    cluster_id = min record id (string order) in the component —
    deterministic and oracle-checkable. Every node that appears in the
    input edge set gets a row (isolated records are the caller's
    singleton case).

    strategy:
    - 'hybrid': partition-local contraction + driver union-find — two
      jobs; requires the NODE set (not edges) to fit the driver.
    - 'distributed': partition-local forest contraction, then
      large-star/small-star rounds — unbounded scale.
    - 'auto' (default): edges whose Catalyst size estimate is inside
      the driver gate are collected straight away. Otherwise the edges
      are checkpointed (JVM only) and counted exactly there; at most
      ``driver_node_limit`` of them go to the driver union-find as they
      are. Only a larger edge set (or a refused collect) pays for the
      partition-local mapInPandas forest, built once from the
      checkpoint and counted: node-sized, it either finishes on the
      driver or hands the CONTRACTED forest (<= #nodes rows, same
      components) to the distributed rounds. Every branch yields the
      same min-roots (see ``_hybrid_components``).

    Ids are cast to string up front so the 'min record id (string
    order)' contract and the output schema are identical regardless of
    which strategy runs (numeric min and string min disagree, e.g.
    '10' < '9' lexicographically).
    """
    edges = edges.select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    if strategy == "hybrid":
        return _hybrid_components(edges)
    if strategy == "distributed":
        # Partition-local contraction first: the forest (<= #nodes rows,
        # same components) starts the star rounds from depth-1 local
        # stars instead of raw chains. Fully distributed (mapInPandas,
        # no driver state), so it costs one narrow pass at any scale —
        # and on chain-shaped correspondence graphs it halves the round
        # count (measured at sf0.1: 6 -> 3 rounds, 6.5 -> 5.3 s warm).
        forest = _build_forest(edges).localCheckpoint(eager=True)
        edges = forest.select(
            F.col("a").alias("id1"), F.col("b").alias("id2")
        )
    if strategy == "auto":
        from pydi_spark.core.plansize import fits_estimate

        small = fits_estimate(edges, DRIVER_SAFE_EDGE_BYTES)
        if not small:
            # Join-derived edge frames always fail the estimate. An exact
            # count in the JVM lets a driver-sized edge set skip the
            # forest, whose mapInPandas pass is a Python-worker stage
            # (~1.2 s of executor time per call on a 4-core host, NOTES.md)
            edges = edges.localCheckpoint(eager=True)
            small = edges.count() <= driver_node_limit
        if small:
            comps = _edge_union_find(edges)
            if comps is not None:
                return comps
            # the collect was refused: contract first
        forest = _build_forest(edges).localCheckpoint(eager=True)
        if forest.count() <= driver_node_limit:
            from pydi_spark.core.arrowio import collect_pandas

            return _driver_union_find(edges.sparkSession, collect_pandas(forest))
        # forest rows are (node, local_root): same components, <= #nodes
        # rows — the distributed rounds start from the contracted graph
        edges = forest.select(
            F.col("a").alias("id1"), F.col("b").alias("id2")
        )
    nodes = (
        edges.select(F.col("id1").alias("node"))
        .unionByName(edges.select(F.col("id2").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = _canonical(
        edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    ).localCheckpoint(eager=True)

    from pyspark.sql import Window

    prev = _checksum(e)
    for i in range(max_iterations):
        # Each star phase computes a per-node neighbourhood minimum. A
        # partition-window min does that in ONE exchange and no join
        # (the groupBy-min + equi-join formulation costs two exchanges
        # per phase — measurably slower when rounds dominate).
        # ---- large-star ------------------------------------------------
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).toDF("u", "v")
        wu = Window.partitionBy("u")
        large = (
            sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .where(F.col("v") > F.col("u"))
            # orientation only — no distinct: small-star's window min
            # tolerates duplicate edges and the end-of-round _canonical
            # dedups; a mid-round distinct is an avoidable shuffle
            .select(
                F.least(F.col("v"), F.col("m")).alias("a"),
                F.greatest(F.col("v"), F.col("m")).alias("b"),
            )
            .where(F.col("a") != F.col("b"))
        )
        # ---- small-star ------------------------------------------------
        sym2 = large.unionByName(
            large.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).toDF("u", "v")
        smm = sym2.where(F.col("v") < F.col("u")).withColumn(
            "m", F.min("v").over(wu)
        )
        pairs1 = smm.where(F.col("v") != F.col("m")).select(
            F.col("m").alias("a"), F.col("v").alias("b")
        )
        # one (m, u) edge per node u — duplicates collapse in _canonical
        pairs2 = smm.select(F.col("m").alias("a"), F.col("u").alias("b"))
        new_e = _canonical(pairs1.unionByName(pairs2))
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            new_e = new_e.localCheckpoint(eager=True)
        e = new_e
        # convergence can't happen in the first couple of rounds on any
        # non-star graph — skip the checksum job there
        if i + 1 >= min_rounds_before_check:
            cur = _checksum(new_e)
            if cur == prev:
                break
            prev = cur

    mapping = (
        e.select(F.col("b").alias("node"), F.col("a").alias("comp"))
        .unionByName(e.select(F.col("a").alias("node"), F.col("a").alias("comp")))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )
    return (
        nodes.join(mapping, "node", "left")
        .select(
            F.col("node").alias("record_id"),
            F.coalesce(F.col("comp"), F.col("node")).alias("cluster_id"),
        )
    )


@dataclass
class ConnectedComponentClusterer:
    """Transitive closure of the correspondence graph.

    ``cluster`` returns closure *edges* within components (the reference's
    output shape: every intra-component pair, connected_components.py:19-245);
    ``assign`` returns [record_id, cluster_id].
    """

    threshold: float | None = None
    min_cluster_size: int | None = None
    preserve_scores: bool = True
    max_iterations: int = 50

    def assign(self, correspondences: DataFrame) -> DataFrame:
        corr = apply_threshold(correspondences, self.threshold)
        comps = connected_components(corr.select("id1", "id2"), self.max_iterations)
        return filter_min_cluster_size(comps, self.min_cluster_size)

    def cluster(self, correspondences: DataFrame) -> DataFrame:
        """Closure edges: self-join assignments on cluster_id."""
        comps = self.assign(correspondences)
        a = comps.select(F.col("record_id").alias("id1"), "cluster_id")
        b = comps.select(F.col("record_id").alias("id2"), "cluster_id")
        closure = (
            a.join(b, "cluster_id")
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2", "cluster_id")
        )
        if self.preserve_scores:
            corr = apply_threshold(correspondences, self.threshold)
            scores = corr.select(
                F.least("id1", "id2").alias("id1"),
                F.greatest("id1", "id2").alias("id2"),
                "score",
            ).groupBy("id1", "id2").agg(F.max("score").alias("score"))
            closure = closure.join(scores, ["id1", "id2"], "left")
        return closure
