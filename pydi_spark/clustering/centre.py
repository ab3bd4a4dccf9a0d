"""CENTER clustering.

Reference: CentreClusterer (PyDI/entitymatching/post_clustering/
centre_clusterer.py:19-250): scan edges desc by score; the first
unassigned endpoint becomes a star center, the other endpoint joins its
cluster; diameter <= 2. Sequential greedy -> driver-side sweep on the
collected (output-sized) correspondence set, deterministic tie-breaks.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from pydi_spark.clustering.base import apply_threshold
from pydi_spark.core.arrowio import rows_to_df


@dataclass
class CentreClusterer:
    threshold: float | None = None
    min_cluster_size: int | None = None

    def assign(self, correspondences: DataFrame) -> DataFrame:
        corr = apply_threshold(correspondences, self.threshold)
        rows = (
            corr.select("id1", "id2", "score")
            .orderBy(["score", "id1", "id2"], ascending=[False, True, True])
            .collect()
        )
        assignment: dict[str, str] = {}
        is_center: set[str] = set()
        for r in rows:
            a, b = r["id1"], r["id2"]
            if a not in assignment and b not in assignment:
                assignment[a] = a
                is_center.add(a)
                assignment[b] = a
            elif a in assignment and b not in assignment:
                if a in is_center:
                    assignment[b] = a
            elif b in assignment and a not in assignment:
                if b in is_center:
                    assignment[a] = b
        spark = correspondences.sparkSession
        out = rows_to_df(
            spark,
            list(assignment.items()), "record_id string, cluster_id string"
        )
        if self.min_cluster_size and self.min_cluster_size > 1:
            from pydi_spark.clustering.base import filter_min_cluster_size

            out = filter_min_cluster_size(out, self.min_cluster_size)
        return out

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
