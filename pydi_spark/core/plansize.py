"""Catalyst plan-size estimation for size-aware physical decisions.

Several operators key broadcast/driver-collect decisions on the INPUT
relation's optimized-plan size estimate: file-size based for parquet
scans (reliable), "unknown"=huge for derived frames like
createDataFrame/LogicalRDD/mapInPandas output — which correctly fails
toward the distributed/shuffling path, never toward an unsafe broadcast
or collect. Centralized here so the dedup verify joins and the
embedding blocker's vector re-attach share one broadcast ceiling, and
the clustering layer's driver gate (``clustering/base.py``) applies the
same policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Ceiling for pinning a join side as a broadcast (the dedup verify joins'
# token/shingle side tables, the embedding blocker's vector re-attach),
# keyed on the INPUT relation's estimate: the pinned side is at most
# input sized, while a derived table's own estimate is wildly off after
# explode/groupBy.
BROADCAST_MAX_BYTES = 1 << 30  # 1 GiB


def estimated_plan_bytes(df: DataFrame) -> int:
    """Optimizer size estimate in bytes. Triggers NO job. May raise on
    exotic plans — callers treat failure as 'unknown = huge'."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = stats.sizeInBytes()
    return size if isinstance(size, int) else int(size.toString())


def fits_estimate(df: DataFrame, max_bytes: int) -> bool:
    """True iff the size estimate is known and within ``max_bytes``;
    False (the safe, distributed direction) when estimation fails."""
    try:
        return estimated_plan_bytes(df) <= max_bytes
    except Exception:
        return False
