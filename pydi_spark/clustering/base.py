"""Post-clustering base: refine a CorrespondenceSet.

Reference: BasePostClusterer(threshold, min_cluster_size,
preserve_scores).cluster(correspondences) (PyDI/entitymatching/
post_clustering/base.py:17-101; threshold pre-filter :106-132).

Two execution regimes, as in the survey's scale analysis (§2.5):
- *Distributed*: connected components (iterative join-loop), stable
  matching (two rank-1 windows + join) — correspondence sets can be huge.
- *Driver-side*: greedy 1:1, hungarian/bipartite, hierarchical, centre —
  inherently sequential global-state algorithms; correspondences are
  output-sized (much smaller than the record corpus), so collecting them
  matches the reference's semantics honestly.

Which regime runs is decided in ``core/plansize.py``: the operators
with both paths (connected components, greedy 1:1) offer their frame
to ``plansize.driver_table`` and run the distributed path when it is
refused; the driver-only solvers (hierarchical, bipartite, centre)
collect through ``plansize.collect_solver_rows``, which refuses loudly
past its row cap. This module keeps the threshold pre-filter, the
minimum-cluster-size filter and ``union_find``, the one union-by-min
used by every driver-side and partition-local component computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_threshold(corr: DataFrame, threshold: float | None) -> DataFrame:
    if threshold is None:
        return corr
    return corr.where(F.col("score") >= F.lit(float(threshold)))


def filter_min_cluster_size(
    assignments: DataFrame, min_cluster_size: int | None
) -> DataFrame:
    """assignments[record_id, cluster_id] -> drop small clusters."""
    if not min_cluster_size or min_cluster_size <= 1:
        return assignments
    sizes = assignments.groupBy("cluster_id").agg(F.count("*").alias("__n"))
    return (
        assignments.join(sizes, "cluster_id")
        .where(F.col("__n") >= min_cluster_size)
        .drop("__n")
    )


def union_find(pairs) -> dict:
    """(a, b) pairs -> {node: component minimum}, nodes in first-seen
    order. Union-by-min keeps each root at its tree's minimum whatever
    the pair order; path halving keeps the finds short."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}
