"""Sketch-based profiling: mergeable summaries for 100 TB-scale stats.

Exact distinct counts and quantiles need full shuffles; sketches give
bounded-error answers in one pass AND are mergeable — per-partition /
per-day sketches union into corpus totals without touching raw data
again (the only viable shape for incremental profiling at 100 TB).

Built on Spark 4's native Apache DataSketches functions (hll_*, kll_*):
JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df


def hll_distinct(df: DataFrame, columns: list[str] | None = None,
                 lg_k: int = 12) -> DataFrame:
    """[column_name, approx_distinct, sketch]: HLL estimate + the binary
    sketch itself (keep the sketch; tomorrow's increment unions into it
    via ``merge_hll_sketches`` with no rescan of today's data)."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        aggs.append(F.hll_sketch_agg(F.col(c).cast("string"), lg_k).alias(f"__sk_{c}"))
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    out = [
        (c, row[f"__sk_{c}"]) for c in cols
    ]
    sk_df = rows_to_df(spark, out, "column_name string, sketch binary")
    return sk_df.select(
        "column_name",
        F.hll_sketch_estimate("sketch").alias("approx_distinct"),
        "sketch",
    )


def merge_hll_sketches(*sketch_frames: DataFrame) -> DataFrame:
    """Union per-batch sketch tables -> combined estimates per column."""
    merged = sketch_frames[0]
    for other in sketch_frames[1:]:
        merged = merged.unionByName(other)
    return (
        merged.groupBy("column_name")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .select(
            "column_name",
            F.hll_sketch_estimate("sketch").alias("approx_distinct"),
            "sketch",
        )
    )


def kll_quantiles(
    df: DataFrame,
    column: str,
    quantiles: list[float] = (0.25, 0.5, 0.75, 0.95),
    k: int = 200,
) -> DataFrame:
    """[quantile, value] via a KLL sketch — one pass, mergeable, bounded
    rank error (vs percentile_approx's Greenwald-Khanna, not mergeable
    across frames)."""
    sk = df.agg(
        F.kll_sketch_agg_double(F.col(column).cast("double"), F.lit(k)).alias("sk")
    )
    rows = []
    for q in quantiles:
        rows.append(
            sk.select(
                F.lit(float(q)).alias("quantile"),
                F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(float(q))).alias("value"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def heavy_hitters_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 100,
    top_n: int = 20,
) -> DataFrame:
    """[key, est_count, max_undercount, rank] — approximate heavy
    hitters via batched Misra-Gries: each partition keeps at most ``k``
    counters (state held across Arrow batches inside mapInPandas),
    then ONE tiny groupBy merges the per-partition summaries. This is
    the 100 TB scale path behind ``key_skew_report``: the exact report
    shuffles every distinct key once, which is fine for join keys but
    not for open-vocabulary keys (tokens, URLs); the sketch's shuffle
    is at most ``k x partitions`` rows regardless of cardinality.

    Guarantees (standard MG): ``est_count <= true_count <=
    est_count + max_undercount``, and every key with true frequency
    > N/k survives. The batched update is the exact MG semantics:
    merge a batch's value counts into the counters, then subtract the
    (k+1)-th largest counter value from all and drop non-positives.
    ``max_undercount`` is the TOTAL shed across all partitions — within
    a partition a key's true count is bounded by est + shed whether or
    not it survived there, so the global sum bounds every key (a
    per-key tightening would need per-partition presence bookkeeping;
    the global bound is the one the docstring promises and the one a
    threshold decision can rely on).

    Python loops never touch rows — each Arrow batch is folded via
    pandas value_counts/nlargest (vectorized); per-batch work is
    O(batch + k log k)."""
    import pandas as pd

    def mg(batches):
        counters = pd.Series(dtype="int64")
        shed = 0  # total decrement applied in this partition
        for pdf in batches:
            vc = pdf["__k"].value_counts()
            counters = counters.add(vc, fill_value=0).astype("int64")
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                shed += int(cut)
                counters = (counters - cut)[lambda s: s > 0]
        out = pd.DataFrame(
            {"key": counters.index.astype(str), "cnt": counters.values}
        )
        # one sentinel row per partition carries that partition's shed,
        # so the merge can bound keys that were fully shed somewhere
        out["err"] = 0
        sentinel = pd.DataFrame({"key": [None], "cnt": [0], "err": [shed]})
        yield pd.concat([out, sentinel], ignore_index=True)

    per_part = (
        df.select(F.col(key_col).cast("string").alias("__k"))
        .mapInPandas(mg, "key string, cnt long, err long")
    ).localCheckpoint(eager=True)  # feeds the key merge AND the shed total
    total_shed = per_part.where(F.col("key").isNull()).agg(
        F.sum("err").alias("max_undercount")
    )
    merged = (
        per_part.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("cnt").alias("est_count"))
    )
    top = merged.orderBy(F.desc("est_count"), F.asc("key")).limit(int(top_n))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("est_count"), F.asc("key"))
    return (
        top.crossJoin(F.broadcast(total_shed))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("key", "est_count", "max_undercount", "rank")
    )


def _cms_bucket(key: Column, row: int, width: int) -> Column:
    """Row ``row``'s bucket for ``key``: 60-bit md5 prefix of
    '<row>:<key>' mod width — engine-portable (the oracle replays the
    identical arithmetic via the hex2int idiom)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{row}:"), key.cast("string"))), 1, 15),
        16, 10,
    ).cast("long")
    return h % width


def count_min_sketch(
    df: DataFrame, key_col: str, width: int = 1024, depth: int = 4
) -> DataFrame:
    """[d, w, cnt] — a count-min sketch (Cormode & Muthukrishnan 2005)
    over ``key_col``: ``depth`` hash rows of ``width`` counters.

    One explode + ONE map-side-combinable groupBy on a key domain
    bounded by depth*width — the corpus never shuffles by its own keys,
    so open-vocabulary columns (tokens, URLs) cost the same as narrow
    ones. Mergeable: sum ``cnt`` on (d, w) across sketches (days,
    partitions, sources) — ``merge_cms_sketches``. Guarantee:
    ``true <= estimate <= true + eps*N`` w.h.p. with eps ~ e/width.
    Unlike the HLL/KLL natives this sketch is exactly SQL-replayable
    (md5 bucketing), so it sits under the DuckDB oracle gate."""
    rows = df.select(F.col(key_col).cast("string").alias("__k")).where(
        F.col("__k").isNotNull()
    )
    buckets = rows.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("d"),
                    _cms_bucket(F.col("__k"), i, width).alias("w"),
                )
                for i in range(depth)
            ])
        ).alias("b")
    ).select("b.d", "b.w")
    return buckets.groupBy("d", "w").agg(F.count(F.lit(1)).alias("cnt"))


def merge_cms_sketches(*sketches: DataFrame) -> DataFrame:
    """Union per-slice CMS tables (same width/depth) into one."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """[key, est] — min over the ``depth`` rows' counters (0 for a
    never-seen bucket). The sketch table is <= depth*width rows, so it
    broadcast-joins; the probe side never shuffles."""
    probes = (
        keys.select(F.col(key_col).cast("string").alias("key"))
        .where(F.col("key").isNotNull())
        .distinct()
    )
    pb = probes.select(
        "key",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("d"),
                    _cms_bucket(F.col("key"), i, width).alias("w"),
                )
                for i in range(depth)
            ])
        ).alias("b"),
    ).select("key", "b.d", "b.w")
    joined = pb.join(F.broadcast(sketch), ["d", "w"], "left").select(
        "key", F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("c")
    )
    return joined.groupBy("key").agg(F.min("c").alias("est"))
