"""Agglomerative (hierarchical) clustering over correspondences.

Reference: HierarchicalClusterer(linkage in {MIN, MAX, AVG}, num_clusters,
min_similarity) (PyDI/entitymatching/post_clustering/
hierarchical_clusterer.py:21-323). Sequential merging -> driver-side on
the collected (output-sized) edge set via a pure-Python agglomerative
loop (merge order matters for MAX/AVG and under ``num_clusters``, so
those stay exact-sequential). Single linkage run to exhaustion is
order-free — provably the connected components of the >= floor pair
graph — and takes the distributed CC fast path instead (r12).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.core.plansize import collect_solver_rows


@dataclass
class HierarchicalClusterer:
    linkage: str = "MIN"  # MIN | MAX | AVG  (single/complete/average)
    num_clusters: int | None = None
    min_similarity: float | None = None

    def assign(self, correspondences: DataFrame) -> DataFrame:
        if self._cc_equivalent(correspondences):
            return self._assign_via_components(correspondences)
        _, table = collect_solver_rows(
            correspondences.select("id1", "id2", "score"),
            f"HierarchicalClusterer({self.linkage})",
        )
        rows = table.to_pylist()
        nodes = sorted({r["id1"] for r in rows} | {r["id2"] for r in rows})
        sims: dict[frozenset, float] = {}
        for r in rows:
            k = frozenset((r["id1"], r["id2"]))
            sims[k] = max(sims.get(k, 0.0), float(r["score"]))
        clusters: list[set] = [{n} for n in nodes]

        def cluster_sim(ca: set, cb: set) -> float | None:
            vals = [
                sims[frozenset((a, b))]
                for a in ca
                for b in cb
                if frozenset((a, b)) in sims
            ]
            if not vals:
                return None
            if self.linkage == "MIN":  # single linkage: max similarity
                return max(vals)
            if self.linkage == "MAX":  # complete linkage: min similarity
                return min(vals)
            return sum(vals) / len(vals)

        while len(clusters) > 1:
            if self.num_clusters and len(clusters) <= self.num_clusters:
                break
            best = None
            for i in range(len(clusters)):
                for j in range(i + 1, len(clusters)):
                    s = cluster_sim(clusters[i], clusters[j])
                    if s is None:
                        continue
                    if self.min_similarity is not None and s < self.min_similarity:
                        continue
                    key = (s, -i, -j)
                    if best is None or key > best[0]:
                        best = (key, i, j)
            if best is None:
                break
            _, i, j = best
            clusters[i] |= clusters[j]
            del clusters[j]

        pairs = []
        for c in clusters:
            cid = min(c)
            for n in sorted(c):
                pairs.append((n, cid))
        spark = correspondences.sparkSession
        return rows_to_df(spark, pairs, "record_id string, cluster_id string")

    def _cc_equivalent(self, correspondences: DataFrame) -> bool:
        """True when the sequential merge provably reduces to connected
        components, so ``assign`` may skip the collected O(n^3) loop.

        Single linkage run to EXHAUSTION (no ``num_clusters`` stop)
        merges two clusters iff some cross pair reaches the floor, so
        the final partition is the transitive closure of the
        ``max(score) >= min_similarity`` pair graph — merge order never
        matters (the r12 query docstring's own oracle characterization).
        Three guards keep the equivalence exact, each falling back to
        the sequential loop rather than approximating:

        - MAX/AVG linkage: merge-order dependent, not a closure.
        - ``num_clusters``: stops mid-sequence; the stopping point
          depends on merge order.
        - non-string ids or a non-positive floor: the loop computes
          ``min(cluster)`` in the ids' NATIVE order and seeds the
          pair-sim fold with 0.0 (so a floor <= 0 admits every pair
          regardless of score); both diverge from the string-keyed
          CC contract.
        """
        from pyspark.sql.types import StringType

        if self.linkage != "MIN" or self.num_clusters is not None:
            return False
        if self.min_similarity is not None and self.min_similarity <= 0:
            return False
        schema = correspondences.schema
        return isinstance(schema["id1"].dataType, StringType) and isinstance(
            schema["id2"].dataType, StringType
        )

    def _assign_via_components(self, correspondences: DataFrame) -> DataFrame:
        """MIN-linkage fast path: components of the >= floor subgraph
        over the full vertex set (sub-floor rows still contribute their
        endpoints as singletons, exactly like the loop's node set).
        Replaces a driver collect + O(n^3) Python merge loop with the
        audited CC operator (driver union-find when the edge frame is
        small, large-star/small-star rounds at scale) — measured 45.1
        -> 2.6 s at sf0.1 on cluster_hierarchical, and the operator
        stops being driver-bound at corpus scale."""
        from pyspark.sql import functions as F

        from pydi_spark.clustering.connected_components import (
            connected_components,
        )

        # the correspondence subtree feeds the edge filter, the CC
        # passes AND the vertex union
        corr = correspondences.select("id1", "id2", "score").localCheckpoint(
            eager=False
        )
        edges = corr
        if self.min_similarity is not None:
            edges = corr.where(
                F.col("score") >= F.lit(float(self.min_similarity))
            )
        comps = connected_components(edges.select("id1", "id2"))
        nodes = (
            corr.select(F.col("id1").alias("record_id"))
            .unionByName(corr.select(F.col("id2").alias("record_id")))
            .distinct()
        )
        return nodes.join(comps, "record_id", "left").select(
            "record_id",
            F.coalesce("cluster_id", F.col("record_id")).alias("cluster_id"),
        )

    def cluster(self, correspondences: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        comps = self.assign(correspondences)
        a = comps.select(F.col("record_id").alias("id1"), "cluster_id")
        b = comps.select(F.col("record_id").alias("id2"), "cluster_id")
        return (
            a.join(b, "cluster_id")
            .where(F.col("id1") < F.col("id2"))
            .select("id1", "id2", "cluster_id")
        )
