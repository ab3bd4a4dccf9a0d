"""Partition widths, broadcast pins and driver collects: the physical
choices the operators share. Every explicit width is
:func:`core_width` (spread work over the cores; :func:`widen`) or, for
the pair kernel's probe side, :func:`probe_width`; no other module
reads ``defaultParallelism`` or a partition count.

One policy picks between the driver and the cluster: size estimates
decide broadcast pins, exact counts decide driver collects.

Broadcast gates key on the INPUT relation's optimized-plan size
estimate: file-size based for parquet scans (reliable), "unknown"=huge
for derived frames like createDataFrame/mapInPandas output — which
correctly fails toward the shuffling path, never toward an unsafe
broadcast. A ``localCheckpoint`` keeps its origin plan's estimate, so a
checkpointed frame gates like the frame it came from. The dedup verify
joins and the embedding blocker's vector re-attach share one broadcast
ceiling.

Every driver-or-distributed choice, and every driver-only solver's
collect, goes through :func:`driver_table`: the frame is checkpointed
and counted exactly in one job (:func:`counted`), and only a frame
within the caller's row cap is Arrow-collected from that checkpoint. A
caller with a distributed path (connected components, greedy 1:1,
BCubed, the embedding blocker's ``auto``) runs it over the same
checkpoint when the table is refused; the driver-only solvers
(hierarchical, bipartite, centre) refuse loudly through
:func:`collect_solver_rows`. No size estimate sends a frame to the
driver: on the derived frames these gates see it is unknown or huge
(about 1e19 bytes for a matcher's correspondence set), and a wrong
estimate must not decide a collect.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

if TYPE_CHECKING:
    import pyarrow

# Ceiling for pinning a join side as a broadcast (the dedup verify joins'
# token/shingle side tables, the embedding blocker's vector re-attach),
# keyed on the INPUT relation's estimate: the pinned side is at most
# input sized, while a derived table's own estimate is wildly off after
# explode/groupBy.
BROADCAST_MAX_BYTES = 1 << 30  # 1 GiB
# Rows an edge or correspondence set may have and still go to the
# driver union-find (connected components) or the exact greedy sweep;
# a larger set runs the distributed path, which gives the same output.
DRIVER_EDGE_LIMIT = 5_000_000
# Rows the driver-only solvers accept (the hierarchical merge loop is
# O(n^3) Python by reference contract — far beyond this it would never
# finish anyway); past it :func:`collect_solver_rows` refuses.
DRIVER_SOLVE_ROW_CAP = 1_000_000
# Rows of both cluster assignments together that bcubed_metrics takes
# to the driver: where its driver branch and its distributed cell plan
# take the same wall time (tools/bcubed_crossover.py, local[4] on a
# 4-core host: 3.1 s each at 500k rows per side; the driver branch is
# ~2x faster at 100k and ~1.4x slower at 1M per side), at about +0.28
# KB of Python driver RSS per row.
BCUBED_DRIVER_ROW_CAP = 1_000_000
# Most right-side rows EmbeddingBlocker's brute path collects to the
# driver: 'auto' routes anything larger to LSH, a forced 'brute'
# refuses it.
BRUTE_MAX_ROWS = 100_000


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


def driver_table(
    df: DataFrame, max_rows: int
) -> tuple[DataFrame, pyarrow.Table | None]:
    """(``df`` checkpointed, its rows as a ``pyarrow.Table``), or the
    checkpoint and None when it has more than ``max_rows`` rows or the
    driver refuses the transfer (maxResultSize / task-result eviction).

    The gate is :func:`counted`'s one job; the collect reads the
    checkpoint it materialized, and so does whatever distributed path
    the caller runs on None — ``df``'s lineage runs once either way.
    Any other transfer failure re-raises: a data error must not be
    silently retried on the distributed path."""
    df, n_rows = counted(df)
    if n_rows > max_rows:
        return df, None
    try:
        return df, df.toArrow()
    except Exception as exc:  # noqa: BLE001 — filtered by signature below
        msg = str(exc)
        if "maxResultSize" in msg or "TaskResultLost" in msg:
            return df, None
        raise


def collect_solver_rows(
    df: DataFrame, solver: str
) -> tuple[DataFrame, pyarrow.Table]:
    """:func:`driver_table` for a driver-only solver: past ``DRIVER_SOLVE_ROW_CAP`` rows, or when the driver
    refuses the transfer, raises ValueError naming the solver."""
    df, table = driver_table(df, DRIVER_SOLVE_ROW_CAP)
    if table is None:
        raise ValueError(
            f"{solver}: the correspondences exceed the driver-side solver "
            f"limit ({DRIVER_SOLVE_ROW_CAP} rows, or a transfer the driver "
            "refuses) — pre-threshold them to shrink the graph"
        )
    return df, table
