"""Dependency discovery: functional and inclusion dependencies.

Schema-discovery profiling in the Metanome family (TANE / SPIDER): the
reference's profiler reports per-column stats
(PyDI/profiling/profiler.py); dependency discovery is the
cross-column complement a data-integration pipeline needs before schema
matching — FDs expose candidate keys and denormalization, INDs expose
joinable / foreign-key column pairs across sources.

Scale shapes:

- :func:`discover_fds` checks ``A -> B`` for every ordered pair of the
  given columns via the textbook characterization
  ``count(distinct A) == count(distinct (A, B))``. All counts compute
  in ONE aggregate pass (map-side partial aggregation; no joins, no
  per-pair jobs). Exact distinct over k columns costs k + k(k-1)
  distinct aggregates in one shuffle — keep ``cols`` to the candidate
  set (typical profiling practice), not the whole wide table.
- :func:`discover_inds` checks ``A ⊆ B`` per candidate pair with a
  distinct-project + left-anti count per side pair. Distinct projection
  first means the anti-join runs on the value DOMAINS (bounded by
  cardinality, not row count).

Nulls are ignored on both sides (SQL semantics: a NULL determinant
row can't violate an FD; NULL values don't participate in INDs) —
mirrored in the oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df


def _spread_for_agg(sel: DataFrame) -> DataFrame:
    """Round-robin the (column-pruned) input across the default
    parallelism when it arrives in FEWER partitions — a dimension-sized
    parquet file is ONE input split, so the k-way Expand of a
    multi-distinct aggregate otherwise runs its whole partial phase in
    a single task (measured: the profile_fds aggregate was
    single-threaded at sf0.1). Inputs already wider than the default
    parallelism (any real corpus) pass through untouched — no shuffle
    is added at scale. Aggregate results are partition-independent, so
    output is unchanged."""
    parallelism = sel.sparkSession.sparkContext.defaultParallelism
    if sel.rdd.getNumPartitions() < parallelism:
        sel = sel.repartition(parallelism)
    return sel


def discover_fds(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact single-determinant FD check over every ordered column pair.

    Output: ``[determinant, dependent, n_det, n_pair, holds]`` — the FD
    ``determinant -> dependent`` holds iff each determinant value maps
    to exactly one dependent value, i.e. ``n_det == n_pair`` where
    ``n_det = count(distinct det)`` and ``n_pair = count(distinct
    (det, dep))`` over rows where both are non-null. ``holds`` is int
    (hash-safe). One aggregation pass for ALL pairs.
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    # r12: no per-column count_distinct here — the output only reads
    # the __p_/__dn_ pair statistics, and every distinct aggregate adds
    # an Expand group (k dead groups = k extra copies of every input
    # row through the aggregate; measured 2.84 -> 2.40 s at sf0.1).
    #
    # r12 batch 2 — halve the Expand again via two exact identities:
    # (1) count_distinct(a, b) is SYMMETRIC (the distinct both-non-null
    #     pair set is one set), so k(k-1) pair aggregates collapse to
    #     k(k-1)/2;
    # (2) when column b holds NO nulls, the null-guarded determinant
    #     count count_distinct(when(b notnull, a)) IS count_distinct(a)
    #     — one shared per-column aggregate replaces k-1 guarded ones.
    # A first near-free pass (plain count aggregates, no Expand) reads
    # the per-column null counts that decide identity (2); for 4
    # null-free columns the distinct pass drops from 24 Expand groups
    # to 10 (6 unordered pairs + 4 per-column).
    df = _spread_for_agg(df.select(*cols))
    null_counts = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(F.col(c)).alias(f"__nn_{c}") for c in cols],
    ).collect()[0]
    n_rows = int(null_counts["__n"])
    no_nulls = {c for c in cols if int(null_counts[f"__nn_{c}"]) == n_rows}
    aggs = []
    seen_pairs = set()
    shared_det = set()
    for a in cols:
        for b in cols:
            if a != b:
                key = tuple(sorted((a, b)))
                if key not in seen_pairs:
                    seen_pairs.add(key)
                    # pairwise distinct over rows where BOTH are
                    # non-null: count_distinct(a, b) ignores rows with
                    # any null — matching count(DISTINCT (a, b))
                    # FILTER (both NOT NULL); symmetric in (a, b)
                    aggs.append(
                        F.count_distinct(
                            F.col(key[0]), F.col(key[1])
                        ).alias(f"__p_{key[0]}_{key[1]}")
                    )
                if b in no_nulls:
                    if a not in shared_det:
                        shared_det.add(a)
                        aggs.append(
                            F.count_distinct(F.col(a)).alias(f"__d_{a}")
                        )
                else:
                    aggs.append(
                        F.count_distinct(
                            F.when(F.col(b).isNotNull(), F.col(a))
                        ).alias(f"__dn_{a}_{b}")
                    )
    stats = df.agg(*aggs).collect()[0]
    rows = []
    for a in cols:
        for b in cols:
            if a != b:
                key = tuple(sorted((a, b)))
                n_det = int(
                    stats[f"__d_{a}"] if b in no_nulls
                    else stats[f"__dn_{a}_{b}"]
                )
                n_pair = int(stats[f"__p_{key[0]}_{key[1]}"])
                rows.append((a, b, n_det, n_pair, int(n_det == n_pair)))
    return rows_to_df(
        df.sparkSession,
        rows, "determinant string, dependent string, n_det bigint, "
              "n_pair bigint, holds int",
    )


def discover_inds(
    pairs: list[tuple[DataFrame, str, DataFrame, str]],
    names: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Inclusion-dependency check per candidate ``(left_df, left_col,
    right_df, right_col)``: does every non-null left value occur in the
    right column?

    Output: ``[lhs, rhs, n_lhs_values, n_missing, holds]`` —
    ``n_missing`` = distinct left values absent from the right column;
    the IND holds iff 0. Values compare as strings (cross-type INDs are
    the common schema-matching case). ``names`` labels each pair
    (defaults to the column names).
    """
    if not pairs:
        raise ValueError("no candidate pairs")
    spark = pairs[0][0].sparkSession
    # r12: ONE job over a pair-tagged union instead of 2 sequential
    # jobs (distinct-count + anti-join count) per candidate pair —
    # 2k jobs of driver latency collapse into a single
    # groupBy(pair, value) -> groupBy(pair) cascade, and each side's
    # standalone `.distinct()` exchange folds into the shared
    # map-side-aggregated groupBy (guide §2.4). Membership flags per
    # distinct value reproduce the anti-join exactly:
    # n_missing = #values with in_l and not in_r.
    tagged = []
    for i, (ldf, lcol, rdf, rcol) in enumerate(pairs):
        lv = ldf.select(
            F.lit(i).alias("__pair"),
            F.col(lcol).cast("string").alias("__v"),
            F.lit(1).alias("__l"),
            F.lit(0).alias("__r"),
        )
        rv = rdf.select(
            F.lit(i).alias("__pair"),
            F.col(rcol).cast("string").alias("__v"),
            F.lit(0).alias("__l"),
            F.lit(1).alias("__r"),
        )
        tagged.append(lv.where(F.col("__v").isNotNull()))
        tagged.append(rv.where(F.col("__v").isNotNull()))
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    per_pair = (
        u.groupBy("__pair", "__v")
        .agg(F.max("__l").alias("__l"), F.max("__r").alias("__r"))
        .groupBy("__pair")
        .agg(
            F.sum("__l").alias("__n_lhs"),
            F.sum(
                ((F.col("__l") == 1) & (F.col("__r") == 0)).cast("int")
            ).alias("__n_missing"),
        )
        .collect()
    )
    stats = {int(r["__pair"]): r for r in per_pair}
    out_rows = []
    for i, (ldf, lcol, rdf, rcol) in enumerate(pairs):
        lhs, rhs = (
            names[i] if names is not None else (lcol, rcol)
        )
        r = stats.get(i)
        n_lhs = int(r["__n_lhs"]) if r is not None else 0
        n_missing = int(r["__n_missing"]) if r is not None else 0
        out_rows.append((lhs, rhs, n_lhs, n_missing, int(n_missing == 0)))
    return rows_to_df(
        spark,
        out_rows, "lhs string, rhs string, n_lhs_values bigint, "
                  "n_missing bigint, holds int",
    )


def discover_keys(
    df: DataFrame, cols: list[str], max_size: int = 2
) -> DataFrame:
    """Unique-column-combination (candidate key) discovery over all
    combinations of ``cols`` up to ``max_size`` columns.

    Output: ``[columns, n_distinct, n_rows, is_key]`` — ``columns`` is
    the comma-joined combination; it is a key iff every row carries a
    distinct combination. Nulls compare EQUAL here (the UCC convention:
    two rows that are both null in every combo column are duplicates) —
    implemented by counting distinct structs (struct equality treats
    null fields as equal), which mirrors SQL ``SELECT DISTINCT``.

    Like :func:`discover_fds`: ONE aggregation pass computes every
    combination's distinct count (map-side partial aggregation); the
    number of combinations C(k, <=max_size) bounds the aggregate list,
    so keep ``cols`` to the candidate set.
    """
    from itertools import combinations

    if not cols:
        raise ValueError("cols must be non-empty")
    if max_size < 1:
        raise ValueError("max_size must be >= 1")
    combos = [
        c for size in range(1, min(max_size, len(cols)) + 1)
        for c in combinations(cols, size)
    ]
    aggs = [F.count(F.lit(1)).alias("__total")]
    for i, combo in enumerate(combos):
        aggs.append(
            F.count_distinct(
                F.struct(*[F.col(c) for c in combo])
            ).alias(f"__u_{i}")
        )
    stats = _spread_for_agg(df.select(*cols)).agg(*aggs).collect()[0]
    total = int(stats["__total"])
    rows = [
        (",".join(combo), int(stats[f"__u_{i}"]), total,
         int(stats[f"__u_{i}"] == total))
        for i, combo in enumerate(combos)
    ]
    return rows_to_df(
        df.sparkSession,
        rows, "columns string, n_distinct bigint, n_rows bigint, is_key int"
    )
