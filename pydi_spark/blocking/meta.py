"""Meta-blocking: blocking-graph edge weighting + pruning.

The SparkER / blocking-graph technique (Efthymiou et al., "Parallel
meta-blocking for scaling entity resolution over big heterogeneous
data"; Gagliardelli et al., SparkER, EDBT 2019): token blocking at
corpus scale produces a candidate set dominated by hot blocks, and the
fix is to weight each candidate edge by HOW it co-occurs (not just
whether) and prune per-node. The reference's PyDI blockers stop at
candidate generation; this is the north-star scale stage between
blocking and matching.

Weights are integer-exact: CBS (common-block count) is an integer and
JS is published as ``js_ppm = floor(1e6 * cbs / (|B1| + |B2| - cbs))``
— one division of exact integers, so cross-engine comparisons never
touch a float. WNP's "weight >= node average" test is evaluated as the
integer cross-multiplication ``w_ppm * degree >= sum_w_ppm``, dodging
the order-dependent double mean entirely.

Scale design: block purging drops degenerate blocks BEFORE the
quadratic pair generation (one groupBy + broadcast semi-join); pair
generation is a within-block self-join on the block key with the probe
explicitly repartitioned (the band-join lesson); CBS is the map-side
combinable pair count; node statistics are ONE aggregate over the
edge list exploded to both directions. Nothing driver-side, nothing
quadratic in the corpus — only within surviving blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core import plansize


def meta_blocking(
    assignments: DataFrame,
    id_col: str = "rid",
    block_col: str = "block_key",
    weighting: str = "js",
    pruning: str = "wnp",
    top_k: int = 5,
    max_block_size: int | None = None,
    block_filter_ratio: float | None = None,
) -> DataFrame:
    """[id1, id2, cbs, w_ppm] — the pruned blocking graph.

    ``assignments`` holds one row per (entity, block) membership (e.g.
    the exploded token table of a TokenBlocker). ``weighting``: 'cbs'
    (common blocks) or 'js' (Jaccard of block sets, in ppm).
    ``pruning``: 'wnp' keeps an edge if its weight reaches the mean
    weight of EITHER endpoint (union semantics, the standard WNP);
    'cnp' keeps the top-k edges per node (union); 'none' returns the
    whole weighted graph. ``max_block_size`` purges blocks larger than
    the cap before pair generation (block purging).
    ``block_filter_ratio`` applies block filtering: each entity keeps
    only the ``ceil(ratio * |B_e|)`` SMALLEST of its blocks (size asc,
    key asc — a total order), the standard redundancy trim that drops
    an entity's least-discriminative memberships before the quadratic
    stage."""
    if weighting not in ("cbs", "js"):
        raise ValueError(f"unknown weighting: {weighting}")
    if pruning not in ("wnp", "cnp", "none"):
        raise ValueError(f"unknown pruning: {pruning}")

    spark = assignments.sparkSession
    a = assignments.select(
        F.col(id_col).alias("eid"), F.col(block_col).alias("bk")
    ).dropDuplicates()

    if max_block_size is not None:
        sizes = a.groupBy("bk").agg(F.count("*").alias("__bs"))
        keep = sizes.where(F.col("__bs") <= int(max_block_size)).select("bk")
        a = a.join(F.broadcast(keep), "bk", "left_semi")

    if block_filter_ratio is not None:
        from pyspark.sql import Window

        sizes = a.groupBy("bk").agg(F.count("*").alias("__bs"))
        w_ent = Window.partitionBy("eid").orderBy(F.asc("__bs"), F.asc("bk"))
        a = (
            a.join(F.broadcast(sizes), "bk")
            .withColumn("__rk", F.row_number().over(w_ent))
            .withColumn(
                "__keep_n",
                F.ceil(
                    F.lit(float(block_filter_ratio))
                    * F.count("*").over(Window.partitionBy("eid"))
                ),
            )
            .where(F.col("__rk") <= F.col("__keep_n"))
            .select("eid", "bk")
        )

    # per-entity block-set size |B_e|
    ent_sizes = a.groupBy("eid").agg(F.count("*").alias("nb"))

    # within-block pairs -> CBS (pair orientation: eid string order)
    left = a.repartition(plansize.core_width(spark), "bk")
    right = a.select(F.col("eid").alias("eid2"), "bk")
    cbs = (
        left.join(right, "bk")
        .where(F.col("eid") < F.col("eid2"))
        .groupBy(F.col("eid").alias("id1"), F.col("eid2").alias("id2"))
        .agg(F.count("*").alias("cbs"))
    )
    edges = (
        cbs.join(
            ent_sizes.withColumnRenamed("eid", "id1").withColumnRenamed(
                "nb", "nb1"
            ),
            "id1",
        )
        .join(
            ent_sizes.withColumnRenamed("eid", "id2").withColumnRenamed(
                "nb", "nb2"
            ),
            "id2",
        )
    )
    if weighting == "cbs":
        edges = edges.withColumn("w_ppm", F.col("cbs") * F.lit(1000000))
    else:
        edges = edges.withColumn(
            "w_ppm",
            F.floor(
                F.lit(1000000.0)
                * F.col("cbs").cast("double")
                / (F.col("nb1") + F.col("nb2") - F.col("cbs")).cast("double")
            ).cast("bigint"),
        )
    edges = edges.select("id1", "id2", "cbs", "w_ppm")
    if pruning == "none":
        return edges

    # r12: the pruning stage consumes the weighted graph FOUR times
    # (union of both directions x {node statistics, kept-edge filter}),
    # and without a checkpoint each consumer re-runs the whole
    # quadratic pair generation + weighting chain — the blocking_meta
    # plan re-read the input scan 64 times (190 Exchange nodes). The
    # pruning joins/aggregates re-widen through their own exchanges, so
    # the checkpoint's narrow partitioning is safe.
    edges = edges.localCheckpoint(eager=False)

    both = edges.select(
        F.col("id1").alias("node"), "id1", "id2", "cbs", "w_ppm"
    ).unionByName(
        edges.select(F.col("id2").alias("node"), "id1", "id2", "cbs", "w_ppm")
    )
    if pruning == "wnp":
        stats = both.groupBy("node").agg(
            F.sum("w_ppm").alias("sum_w"), F.count("*").alias("deg")
        )
        kept = (
            both.join(stats, "node")
            # w >= mean  ==  w * deg >= sum  (exact integer arithmetic)
            .where(F.col("w_ppm") * F.col("deg") >= F.col("sum_w"))
            .select("id1", "id2", "cbs", "w_ppm")
            .dropDuplicates(["id1", "id2"])
        )
        return kept
    # cnp: top-k per node, union of directions
    from pyspark.sql import Window

    w = Window.partitionBy("node").orderBy(
        F.desc("w_ppm"), F.asc("id1"), F.asc("id2")
    )
    kept = (
        both.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= int(top_k))
        .select("id1", "id2", "cbs", "w_ppm")
        .dropDuplicates(["id1", "id2"])
    )
    return kept


def progressive_pairs(
    assignments: DataFrame,
    budget: int,
    id_col: str = "rid",
    block_col: str = "block_key",
    weighting: str = "js",
    max_block_size: int | None = None,
) -> DataFrame:
    """Progressive (pay-as-you-go) entity resolution ordering: the
    FULL weighted blocking graph ranked best-first, truncated at
    ``budget`` pairs (Whang et al., "Pay-As-You-Go ER"; the parallel
    progressive-ER line, ICDE 2017 — capabilities the pandas reference
    lacks). A budget-limited matcher consumes candidates in
    (w_ppm desc, id1, id2) order, so match yield per comparison is
    front-loaded; the order is a deterministic total order, so a
    LARGER budget strictly EXTENDS a smaller one (prefix-stable —
    re-running with 2x budget never reorders already-emitted pairs).

    Output: [rank, id1, id2, cbs, w_ppm] with rank 1..budget.

    Scale: the graph build is meta_blocking's (block purge before the
    quadratic stage, integer weights); the global order materializes
    via sort+limit (TakeOrderedAndProject — per-partition top-budget
    then a budget-sized merge on ONE task, never a full-corpus global
    sort) and only the budget-sized survivor set passes through the
    rank window.
    """
    g = meta_blocking(
        assignments,
        id_col=id_col,
        block_col=block_col,
        weighting=weighting,
        pruning="none",
        max_block_size=max_block_size,
    )
    head = g.orderBy(
        F.desc("w_ppm"), F.asc("id1"), F.asc("id2")
    ).limit(int(budget))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("w_ppm"), F.asc("id1"), F.asc("id2"))
    return head.withColumn("rank", F.row_number().over(w)).select(
        "rank", "id1", "id2", "cbs", "w_ppm"
    )
