"""Distributed global ranking.

``Window.orderBy`` with no partition key funnels the whole dataset
through ONE partition — the canonical Spark scale trap (plan_audit
flags it). The distributed equivalent: range-partition on the ordering,
per-partition row_number, then add broadcast cumulative partition
offsets — two narrow passes. Shared by sorted-neighbourhood blocking
and deterministic ID injection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core import plansize
from pydi_spark.core.arrowio import rows_to_df

_INTEGRAL_TYPES = ("byte", "short", "integer", "long")


def _prefix_with_offsets(
    df: DataFrame,
    order_cols: list,
    local_expr,
    total_expr,
    out_col: str,
    num_partitions: int | None,
):
    """The shared range-partition + broadcast-offsets core behind
    ``global_row_number`` and ``global_running_sum`` (r9 self-review
    dedup): range-partition on the ordering, compute a per-partition
    prefix column (``local_expr(window)``), collect the per-partition
    totals (``total_expr``), and join the broadcast cumulative offsets
    back — two narrow passes, no single-partition window anywhere.

    Returns ``(frame, grand_total)`` where ``frame`` has ``out_col`` =
    local prefix + partition offset, cast to long (callers pass
    integral inputs — enforced by global_running_sum)."""
    parts = num_partitions or plansize.core_width(df.sparkSession)
    ordered = df.repartitionByRange(parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    from pyspark.sql import Window

    w = Window.partitionBy("__pid").orderBy(*order_cols)
    # checkpoint the prefixed frame: the totals collect stores every
    # partition, and the final join reads those blocks. Recomputed
    # between the two actions, the range partitioning (nondeterministic
    # upstream, AQE replan) could shift rows across partition
    # boundaries, corrupting the global values
    local = with_pid.withColumn("__local", local_expr(w)).localCheckpoint(
        eager=False
    )
    totals = (
        local.groupBy("__pid").agg(total_expr.alias("__t"))
        .orderBy("__pid").collect()
    )
    offsets, acc = {}, 0
    for row in totals:
        offsets[row["__pid"]] = acc
        acc += row["__t"] or 0
    spark = df.sparkSession
    off_df = F.broadcast(
        rows_to_df(
            spark,
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __off long",
        )
    )
    out = (
        local.join(off_df, "__pid")
        .withColumn(out_col, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local", "__off")
    )
    return out, acc


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rn",
    num_partitions: int | None = None,
    return_count: bool = False,
) -> DataFrame:
    """Distributed global row_number: range-partition on the ordering,
    per-partition row_number, plus broadcast cumulative offsets.

    With ``return_count=True`` returns ``(df, total_rows)`` — the total
    falls out of the offset collect for free (no extra job)."""
    out, acc = _prefix_with_offsets(
        df, order_cols,
        lambda w: F.row_number().over(w),
        F.count(F.lit(1)),
        out_col, num_partitions,
    )
    return (out, acc) if return_count else out


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global cumulative sum in ``order_cols`` order
    (inclusive of the current row): range-partition on the ordering,
    per-partition prefix sums, plus broadcast cumulative partition
    totals — the sibling of ``global_row_number`` for running totals
    (a bare ``Window.orderBy`` cumsum funnels everything through one
    task). Ties in ``order_cols`` are summed in (order, arbitrary)
    within-partition order, so pass a TOTAL order when per-row values
    under ties must be reproducible; sums of full tie groups are
    order-free either way.

    ``value_col`` must be an integral type (byte/short/int/long): the
    running sum is carried exactly in long arithmetic, and a fractional
    input would be silently truncated (ADVICE r9). Quantize floats to
    micros first (the engine-wide exact-integer policy).
    """
    from pyspark.sql import Window

    dtype = df.schema[value_col].dataType.typeName()
    if dtype not in _INTEGRAL_TYPES:
        raise TypeError(
            f"global_running_sum carries the running total in exact long "
            f"arithmetic; value_col {value_col!r} is {dtype}, not integral. "
            f"Quantize to micros (floor(v * 1e6) as bigint) first."
        )
    out, _ = _prefix_with_offsets(
        df, order_cols,
        lambda w: F.sum(value_col).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
        F.sum(value_col),
        out_col, num_partitions,
    )
    return out


def rank_normalize(
    df: DataFrame,
    col: str,
    out_col: str = "pct_ppm",
) -> DataFrame:
    """Adds ``out_col``: the percent-rank of ``col`` in integer ppm —
    ``(#rows strictly below) * 1e6 div (n-1)`` (the SQL percent_rank
    numerator = min-rank of the tie group, so EQUAL VALUES GET EQUAL
    RANKS — a raw row_number would split ties arbitrarily). The
    rank-transform feature scaler: maps any numeric column to [0, 1e6]
    uniformly regardless of its distribution. NULLs pass through with
    a NULL rank; a single-row / all-equal frame maps to 0.

    Scale: the heavy lifting runs on the DISTINCT-VALUE table
    (cardinality-bounded, the exact_quantiles discipline): one count
    aggregate, one distributed running sum over the value order
    (``global_running_sum`` — never a single-partition window), one
    value-keyed join back onto the rows.
    """
    vals = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cum = global_running_sum(vals, ["__v"], "__c", "__cum")
    n_row = cum.agg(F.max("__cum").alias("__n"))
    ranked = cum.select(
        "__v",
        (F.col("__cum") - F.col("__c")).alias("__below"),
    ).crossJoin(F.broadcast(n_row))
    pct = ranked.select(
        "__v",
        F.expr(
            "CASE WHEN __n <= 1 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(__below * 1000000 div (__n - 1) AS BIGINT) END"
        ).alias(out_col),
    )
    return df.join(
        pct.withColumnRenamed("__v", col), col, "left"
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    k: int,
    out_col: str = "rank_in_group",
) -> DataFrame:
    """The first ``k`` rows of every group under ``order_cols``
    (ascending; wrap columns with F.desc(...) for largest-first), with
    their 1-based rank. ``order_cols`` must totally order each group's
    rows (append a unique id as the last column) — otherwise which
    tied row survives the cut is arbitrary, the engine's total-order
    rule.

    Scale: one hash exchange by group + per-group sort — the grouped
    TakeOrdered; groups are assumed partition-sized. For a GLOBAL
    top-k use orderBy().limit() (TakeOrderedAndProject), not a
    single-group call here.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(out_col, F.row_number().over(w))
        .where(F.col(out_col) <= F.lit(int(k)))
    )


def global_running_max(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_max",
    num_partitions: int | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """Distributed global running max of ``value_col`` in ``order_cols``
    order: range-partition on the ordering, per-partition window max,
    plus broadcast per-partition maxima combined with ``greatest`` —
    the max sibling of ``global_running_sum`` (a bare
    ``Window.orderBy`` cummax funnels everything through one task).

    ``exclusive=True`` returns the max over STRICTLY prior rows (null
    for the global first row) — the shape dominance checks need
    (``pareto_front``). With ``exclusive=True`` the ``order_cols``
    must TOTALLY order the rows (e.g. a distinct-key table): tied rows
    are ordered arbitrarily within a partition, so an exclusive frame
    over ties would leak an arbitrary subset of the tie group into the
    prefix.
    """
    from pyspark.sql import Window

    parts = num_partitions or plansize.core_width(df.sparkSession)
    ordered = df.repartitionByRange(parts, *order_cols).sortWithinPartitions(
        *order_cols
    )
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    # checkpoint for the totals action and the join (see
    # _prefix_with_offsets: a recomputed range partitioning between the
    # two actions could shift rows across partition boundaries)
    local = with_pid.withColumn(
        "__local", F.max(value_col).over(w)
    ).localCheckpoint(eager=False)
    totals = (
        local.groupBy("__pid").agg(F.max(value_col).alias("__t"))
        .orderBy("__pid").collect()
    )
    offsets, acc = {}, None
    for row in totals:
        offsets[row["__pid"]] = acc  # max over PRIOR partitions: exclusive
        t = row["__t"]
        if t is not None and (acc is None or t > acc):
            acc = t
    spark = df.sparkSession
    vtype = dict(df.dtypes)[value_col]
    off_df = F.broadcast(
        rows_to_df(
            spark,
            [(int(p), o) for p, o in offsets.items()],
            f"__pid int, __off {vtype}",
        )
    )
    return (
        local.join(off_df, "__pid")
        # greatest skips nulls; null only when BOTH sides are null
        # (global first rows under exclusive=True)
        .withColumn(out_col, F.greatest(F.col("__local"), F.col("__off")))
        .drop("__pid", "__local", "__off")
    )
