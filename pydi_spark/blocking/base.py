"""Blocking base: candidate-pair generation as lazy joins.

Reference: BaseBlocker(df_left, df_right, id_column, batch_size)
(PyDI/entitymatching/blocking/base.py:29-84) — an *eager* index builder
exposing a generator of pair batches. Here a blocker is a factory of one
lazy DataFrame ``[id1, id2, block_key]``; Spark's partitions replace the
batch iterator (a DataFrame *is* a stream of batches), and the pair set
feeds straight into the matcher join without materialization.

Contract:
- ``block(left, right)`` -> DataFrame[id1: string, id2: string, block_key]
- pairs are unique on (id1, id2); id1 from left, id2 from right
- self-blocking (left is right) keeps only id1 < id2.

Every band/token/gram pair join goes through one kernel here
(``pair_join`` / ``first_shared_key`` / ``distinct_pairs``), which pins
the probe side at ``core.plansize.probe_width`` and owns the
orientation and the pair-dedup rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.dataset import Dataset, as_dataframe
from pydi_spark.core.plansize import probe_width

PAIR_COLUMNS = ["id1", "id2", "block_key"]


def resolve_side(
    data: Dataset | DataFrame, id_column: str | None
) -> tuple[DataFrame, str]:
    df = as_dataframe(data)
    idc = id_column or (data.id_column if isinstance(data, Dataset) else None)
    if idc is None:
        raise ValueError("id_column required (or pass a Dataset with one)")
    return df, idc


def first_shared_key(key: str, s1: str, s2: str) -> Column:
    """True on the one emission of a pair whose join key is the minimum
    of the two records' shared keys: ``key == array_min(s1 ∩ s2)``.

    A key join emits a pair once per shared key; keeping only this
    emission leaves exactly one row per pair with no pair-keyed
    exchange. Exact only when each carried array is duplicate-free and
    equals the set of keys the record was exploded on (pruning that
    drops emissions but not array members would select a never-emitted
    key and lose the pair), and when ids are unique per side."""
    return F.col(key) == F.array_min(F.array_intersect(s1, s2))


def pair_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    self_join: bool,
    key_sets: tuple[str, str] | None = None,
) -> DataFrame:
    """Candidate pairs from an equi-join of two exploded key tables —
    the one way every band/token/gram blocker emits pairs.

    ``left`` carries ``id1`` and ``key``, ``right`` carries ``id2`` and
    ``key``; any other columns pass through. The ``id1`` side is
    repartitioned on ``(key, id1)`` at
    :func:`~pydi_spark.core.plansize.probe_width` (the probe
    side of the quadratic join), self-joins keep ``id1 < id2``.

    ``key_sets=(s1, s2)`` names per-record key arrays carried on each
    side; the join then keeps only :func:`first_shared_key` emissions,
    so the output is distinct on ``(id1, id2)`` by construction and
    ``key`` is the pair's minimum shared key. Preconditions: each
    record's key array has no duplicates and is exactly the keys the
    record was exploded on, and ids are unique per side. Without
    ``key_sets`` a pair sharing k keys is emitted k times; dedup with
    :func:`distinct_pairs`."""
    spark = left.sparkSession
    pairs = left.repartition(probe_width(spark), key, "id1").join(right, key)
    if self_join:
        pairs = pairs.where(F.col("id1") < F.col("id2"))
    if key_sets is not None:
        pairs = pairs.where(first_shared_key(key, *key_sets))
    return pairs


def distinct_pairs(pairs: DataFrame) -> DataFrame:
    """One row per ``(id1, id2)``; every other column reduces by ``min``.

    For columns constant per pair this equals ``dropDuplicates`` (and
    for a block key it is the pair's minimum emitted key). The explicit
    ``(id1, id2)`` repartition satisfies the aggregate's distribution,
    so the dedup runs without a map-side partial aggregate (pure
    overhead on near-unique pair keys: edit_distance_join measured
    15.7-21 s with it vs 9.6 s without at sf0.1). The width is left to
    ``shuffle.partitions`` rather than pinned: AQE may then merge
    partitions below its minimum size, which a small pair set feeding
    further joins needs (a pinned width cost the capped TokenBlocker
    pipeline ~10% CPU and ~12% peak RSS), while a large pair set keeps
    full width."""
    wide = pairs.repartition("id1", "id2")
    rest = [c for c in pairs.columns if c not in ("id1", "id2")]
    if not rest:
        return wide.distinct()
    return wide.groupBy("id1", "id2").agg(*[F.min(c).alias(c) for c in rest])


def orient_self_pairs(pairs: DataFrame) -> DataFrame:
    """For self-joins keep one orientation and no self-pairs."""
    return pairs.where(F.col("id1") < F.col("id2"))


def block_stats(pairs: DataFrame) -> DataFrame:
    """Block-size distribution (reference logs it per blocker,
    blocking/standard.py:132-154): ``groupBy(block_key).count()``."""
    return pairs.groupBy("block_key").agg(F.count("*").alias("pair_count"))


def estimate_pairs(
    left: Dataset | DataFrame,
    right: Dataset | DataFrame,
    key_expr,
) -> int:
    """Pair-count estimate sum(|L_k| * |R_k|) without generating pairs
    (reference: standard.py:73-77). Count products run in
    decimal(38,0): two long counts multiplied in long overflow at
    ~3e9-row operands (the r6 int64-overflow rule — silent garbage
    under legacy arithmetic, a crash under ANSI)."""
    dl = as_dataframe(left).select(key_expr.alias("bk")).groupBy("bk").count()
    dr = as_dataframe(right).select(key_expr.alias("bk")).groupBy("bk").count()
    prod = F.col("l.count").cast("decimal(19,0)") * F.col(
        "r.count"
    ).cast("decimal(19,0)")
    row = (
        dl.alias("l")
        .join(dr.alias("r"), "bk")
        .agg(
            F.sum(prod).cast("decimal(38,0)").alias("n"),
            F.count(F.lit(1)).alias("n_blocks"),
        )
        .collect()[0]
    )
    # NULL sum over a non-empty join means decimal(38,0) overflow under
    # non-ANSI arithmetic — never report 0 pairs for it (ADVICE r7;
    # mirrors blocking_key_report's try_cast-NULL contract).
    if row["n"] is None and row["n_blocks"] > 0:
        raise OverflowError(
            "estimate_pairs: pair count exceeds decimal(38,0) — "
            "the key under test is unusable as a blocking key"
        )
    return int(row["n"] or 0)


def blocking_key_report(
    df: Dataset | DataFrame,
    candidate_keys: list[str],
    max_pairs_budget: int | None = None,
) -> DataFrame:
    """[key, n_rows, n_null, n_blocks, max_block, self_pairs,
    within_budget?] — the blocking-key PREFLIGHT: for each candidate
    key column, the self-join blocking cost/shape WITHOUT generating a
    single pair (the join_cardinality_report analogue for blockers;
    the reference only logs block sizes after the fact,
    PyDI blocking/standard.py:132-154).

    self_pairs = sum over blocks of n*(n-1)/2, computed in
    decimal(38,0) via n*(n-1) (always even) div 2 — the r6
    int64-overflow rule: never multiply two row-counts in long. It
    emerges as try_cast BIGINT: NULL means "more pairs than int64 can
    hold — do not run this key". NULL key values form no block (SQL
    group semantics would lump them; a null key is a missing key).

    Scale: one cardinality-bounded groupBy per candidate key; the
    report is |candidate_keys| rows. Use it before StandardBlocker to
    pick keys and size max_block_size.
    """
    frame = as_dataframe(df)
    if not candidate_keys:
        raise ValueError("candidate_keys must be non-empty")
    # all per-key null counts in ONE corpus pass
    null_row = frame.agg(
        *[
            F.count(F.when(F.col(k).isNull(), 1)).alias(k)
            for k in candidate_keys
        ]
    ).collect()[0]
    out = None
    for key in candidate_keys:
        counts = (
            frame.where(F.col(key).isNotNull())
            .groupBy(key)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        row = counts.agg(
            F.coalesce(F.sum("__n"), F.lit(0)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_blocks"),
            F.coalesce(F.max("__n"), F.lit(0)).cast("long").alias("max_block"),
            F.expr(
                "try_cast(CAST(sum(CAST(__n AS DECIMAL(19,0)) "
                "* (CAST(__n AS DECIMAL(19,0)) - 1)) AS DECIMAL(38,0)) "
                "/ 2 AS BIGINT)"
            ).alias("self_pairs"),
        ).withColumn("key", F.lit(key))
        row = row.withColumn(
            "n_null", F.lit(int(null_row[key])).cast("long")
        )
        out = row if out is None else out.unionByName(row)
    cols = ["key", "n_rows", "n_null", "n_blocks", "max_block", "self_pairs"]
    out = out.select(*cols)
    if max_pairs_budget is not None:
        out = out.withColumn(
            "within_budget",
            (
                F.col("self_pairs").isNotNull()
                & (F.col("self_pairs") <= F.lit(int(max_pairs_budget)))
            ).cast("int"),
        )
    return out
