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

This module is the only place that picks between them and the only
place that collects for a driver solver:
- ``driver_sized`` + ``collect_capped``: the gate for the operators that
  have both paths (connected components, greedy 1:1). A frame passes on
  its free Catalyst size estimate or, failing that, on an exact JVM
  count; a collect past the row cap or refused by the driver returns
  None and the caller runs its distributed path, which gives the same
  output.
- ``collect_solver_rows``: the bounded collect (``core.plansize.
  collect_bounded``) for the driver-only solvers (hierarchical,
  bipartite, centre), which refuse loudly past its row cap before the
  rows reach the driver.
- ``union_find``: the one union-by-min used by every driver-side and
  partition-local component computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core import plansize

# A frame whose Catalyst size estimate is under this goes to the driver
# with no gating job. 64 MiB of edge rows (~3M edges) stays well inside
# the default spark.driver.maxResultSize. Estimates inflate through
# joins/explodes, so a wrong estimate fails toward the counted gate,
# never toward an unsafe collect.
DRIVER_SAFE_BYTES = 64 << 20
# Rows an exactly counted frame may have and still go to the driver.
DRIVER_EDGE_LIMIT = 5_000_000
# Hard row ceiling on any driver collect behind the gate: the estimate
# trusts Catalyst, and a pathological under-estimate must degrade to the
# distributed path, not melt the driver. 50M (a, b) string rows is
# ~2-4 GiB as pandas — the practical ceiling for a driver that also
# holds the union-find dict. spark.driver.maxResultSize remains the
# transfer-level backstop.
DRIVER_COLLECT_ROW_CAP = 50_000_000


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


def driver_sized(df: DataFrame) -> tuple[DataFrame, bool]:
    """(frame to use from here on, whether it may go to the driver).

    The free Catalyst size estimate decides first. Derived frames
    (joins, LogicalRDD, mapInPandas) estimate as huge; those are
    checkpointed — so the collect or the distributed path that follows
    does not recompute their lineage — and counted exactly in the JVM
    (``plansize.counted``: the count is the one job that materializes
    the lazy checkpoint)."""
    if plansize.fits_estimate(df, DRIVER_SAFE_BYTES):
        return df, True
    df, n_rows = plansize.counted(df)
    return df, n_rows <= DRIVER_EDGE_LIMIT


def collect_capped(df: DataFrame):
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


def collect_solver_rows(df: DataFrame, solver: str) -> list:
    """Rows of ``df`` (in its order) for a driver-only solver; more than
    ``plansize.DRIVER_SOLVE_ROW_CAP`` raises ValueError."""
    rows = plansize.collect_bounded(df)
    if rows is None:
        raise ValueError(
            f"{solver}: more than {plansize.DRIVER_SOLVE_ROW_CAP} correspondence "
            "rows exceed the driver-side solver limit — pre-threshold the "
            "correspondences to shrink the graph"
        )
    return rows


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
