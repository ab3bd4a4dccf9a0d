"""Partition widths and broadcast pins: the two physical choices the
join and aggregate operators share. Every explicit width is
:func:`core_width` (spread work over the cores; :func:`widen`) or, for
the pair kernel's probe side, :func:`probe_width`; no other module
reads ``defaultParallelism`` or a partition count.

Broadcast gates key on the INPUT relation's optimized-plan size
estimate: file-size based for parquet scans (reliable), "unknown"=huge
for derived frames like createDataFrame/mapInPandas output — which
correctly fails toward the distributed/shuffling path, never toward an
unsafe broadcast or collect. A ``localCheckpoint`` keeps its origin
plan's estimate, so a checkpointed frame gates like the frame it came
from. The dedup verify joins and the embedding blocker's vector
re-attach share one broadcast ceiling, and the clustering layer's
driver gate (``clustering/base.py``) applies the same policy.

Where a driver-or-distributed choice needs an exact row count,
:func:`counted` gives it together with a checkpoint that either branch
reads; :func:`collect_bounded` is the collect that stops one row past
the solver cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Ceiling for pinning a join side as a broadcast (the dedup verify joins'
# token/shingle side tables, the embedding blocker's vector re-attach),
# keyed on the INPUT relation's estimate: the pinned side is at most
# input sized, while a derived table's own estimate is wildly off after
# explode/groupBy.
BROADCAST_MAX_BYTES = 1 << 30  # 1 GiB
# Rows the clustering layer's driver-only solvers accept from
# :func:`collect_bounded` (the hierarchical merge loop is O(n^3) Python
# by reference contract — far beyond this it would never finish anyway).
DRIVER_SOLVE_ROW_CAP = 1_000_000
# Rows of both cluster assignments together that bcubed_metrics takes
# to the driver: where its driver branch and its distributed cell plan
# take the same wall time (tools/bcubed_crossover.py, local[4] on a
# 4-core host: 3.1 s each at 500k rows per side; the driver branch is
# ~2x faster at 100k and ~1.4x slower at 1M per side), at about +0.28
# KB of Python driver RSS per row.
BCUBED_DRIVER_ROW_CAP = 1_000_000


def core_width(spark: SparkSession) -> int:
    """Partition count that spreads a stage over the session's cores:
    ``defaultParallelism``. The width for every explicit repartition
    except the pair kernel's probe side. Not ``shuffle.partitions``:
    in an unconfigured session that is 200, and 200 tasks over small
    inputs made the queries behind these widths ~3x slower (sf0.01,
    local[8] on a 4-core host; mapInPandas matchers 13-17x,
    discover_fds 9x)."""
    return spark.sparkContext.defaultParallelism


def probe_width(spark: SparkSession) -> int:
    """Partition count for the probe side of a quadratic pair join:
    ``max(core_width, shuffle.partitions)``.

    The join output is quadratic per key and inherits the probe side's
    partitioning, so an unpinned probe side (AQE-coalesced to a handful
    of partitions, or a single-file scan) serializes candidate
    generation. The ``shuffle.partitions`` floor matters when the pair
    join is the last stage of the plan: its partition count also sizes
    the task results a caller collects, and at ``defaultParallelism``
    alone a low-core session collecting a large pair set builds result
    blocks big enough to be evicted (measured: an unconfigured local[8]
    collect of the 46.8M-pair sf0.1 TokenBlocker output died with
    TaskResultLost at width 8 and passed at 200). Configured sessions
    set ``shuffle.partitions`` to the core count, so there the width is
    just the core count."""
    cores = core_width(spark)
    try:
        return max(cores, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):
        return cores


def widen(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to :func:`core_width` partitions when it arrives
    in fewer; otherwise return it untouched.

    A dimension-sized parquet file is ONE input split, so whatever runs
    map-side over it next runs in a single task (measured at sf0.1:
    discover_fds' multi-distinct Expand was single-threaded, and
    incremental_minhash_dedup's store verify took 30 s single-threaded
    vs 2 s wide). Wide inputs (any real corpus) get no shuffle;
    round-robin adds no key skew and changes no aggregate or map-side
    join result."""
    width = core_width(df.sparkSession)
    if df.rdd.getNumPartitions() < width:
        return df.repartition(width)
    return df


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


def counted(df: DataFrame) -> tuple[DataFrame, int]:
    """(``df`` checkpointed lazily, its exact row count). The count is
    one job over the checkpoint's internal rows (no aggregate, so no
    extra AQE exchange job) and it materializes the checkpoint: whatever
    reads the returned frame next, a collect or a distributed plan,
    does not run ``df``'s lineage again."""
    df = df.localCheckpoint(eager=False)
    return df, df._jdf.queryExecution().toRdd().count()


def collect_bounded(df: DataFrame) -> list | None:
    """Rows of ``df`` (in its order), or None when it has more than
    ``DRIVER_SOLVE_ROW_CAP`` rows. At most one row past the cap reaches
    the driver, so a frame of any size is safe to offer."""
    rows = df.limit(DRIVER_SOLVE_ROW_CAP + 1).collect()
    return rows if len(rows) <= DRIVER_SOLVE_ROW_CAP else None
