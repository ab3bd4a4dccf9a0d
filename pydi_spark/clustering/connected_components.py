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

Driver-sized graphs skip the rounds: ``strategy='auto'`` offers the
edges, then their partition-local contraction forest, to the driver
gate (``core/plansize.py::driver_table``) and solves the first one it
accepts with the driver union-find.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.clustering.base import (
    apply_threshold,
    filter_min_cluster_size,
    union_find,
)
from pydi_spark.core import plansize

# convergence can't happen in the first couple of rounds on any
# non-star graph — the checksum job is skipped there
MIN_ROUNDS_BEFORE_CHECK = 2


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
        roots = union_find(zip(pdf["id1"], pdf["id2"]))
        yield pd.DataFrame({"id1": list(roots), "id2": list(roots.values())})


def _build_forest(edges: DataFrame) -> DataFrame:
    """Partition-local contraction: each partition's edges collapse to a
    spanning mapping (<= #local_nodes rows); the union over partitions
    is node-count sized and has the same components as the input."""
    return edges.mapInPandas(_local_forest, "id1 string, id2 string")


def _driver_components(spark, table) -> DataFrame:
    """Driver union-find over a collected Arrow edge table ->
    assignments. The roots are the component minima whatever the edge
    order, so raw edges and their forest give identical output."""
    import pandas as pd

    from pydi_spark.core.arrowio import pandas_to_df

    roots = union_find(
        zip(table.column("id1").to_pylist(), table.column("id2").to_pylist())
    )
    out = pd.DataFrame(
        {"record_id": list(roots), "cluster_id": list(roots.values())}
    )
    return pandas_to_df(spark, out, "record_id string, cluster_id string")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    strategy: str = "auto",
) -> DataFrame:
    """edges[id1, id2] -> assignments[record_id, cluster_id].

    cluster_id = min record id (string order) in the component —
    deterministic and oracle-checkable. Every node that appears in the
    input edge set gets a row (isolated records are the caller's
    singleton case).

    strategy:
    - 'auto' (default): the edges go through the driver gate
      (``plansize.driver_table``: checkpoint, exact JVM count, Arrow
      collect) to the driver union-find. A larger edge set or a
      refused collect builds the partition-local mapInPandas forest (a
      Python-worker stage; <= #nodes rows, same components) and offers
      it to the same gate; past that the forest starts the distributed
      rounds.
    - 'distributed': the forest, then large-star/small-star rounds —
      unbounded scale.

    Ids are cast to string up front so the 'min record id (string
    order)' contract and the output schema are identical regardless of
    which path runs (numeric min and string min disagree, e.g.
    '10' < '9' lexicographically).
    """
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown strategy: {strategy}")
    spark = edges.sparkSession
    edges = edges.select(
        F.col("id1").cast("string").alias("id1"),
        F.col("id2").cast("string").alias("id2"),
    )
    if strategy == "distributed":
        # Partition-local contraction first: the forest (<= #nodes rows,
        # same components) starts the star rounds from depth-1 local
        # stars instead of raw chains. Fully distributed (mapInPandas,
        # no driver state), so it costs one narrow pass at any scale —
        # and on chain-shaped correspondence graphs it halves the round
        # count (measured at sf0.1: 6 -> 3 rounds, 6.5 -> 5.3 s warm).
        edges = _build_forest(edges).localCheckpoint(eager=False)
    else:
        for contract in (False, True):
            if contract:
                edges = _build_forest(edges)
            edges, table = plansize.driver_table(edges, plansize.DRIVER_EDGE_LIMIT)
            if table is not None:
                return _driver_components(spark, table)
    nodes = (
        edges.select(F.col("id1").alias("node"))
        .unionByName(edges.select(F.col("id2").alias("node")))
        .distinct()
    )
    e = _canonical(
        edges.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    ).localCheckpoint(eager=False)

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
        e = _canonical(pairs1.unionByName(pairs2)).localCheckpoint(eager=True)
        if i + 1 >= MIN_ROUNDS_BEFORE_CHECK:
            cur = _checksum(e)
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
