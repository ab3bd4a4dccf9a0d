"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship entity-matching pipeline at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the north-star LLM-data operators); ``oracle_sql()``
holds the DuckDB-equivalent SQL for each. Column names and float
rounding are aligned on both sides (the driver hashes values after
sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DEFAULT = "/root/testdata/sf0.001"

# word_tokens tokenization, kept textually identical on both engines
_TOK_RE = r"[^\p{L}\p{N}#']+"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events has TIMESTAMP(NANOS) parquet — self-sufficiently enable the
    nanos-as-long read (the driver's session may not set it) and convert."""
    from pydi_spark.io.readers import nanos_to_timestamp

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp_micros produces TIMESTAMP (session-TZ rendered); pin UTC so
    # string casts match the (naive) DuckDB oracle regardless of host TZ
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return nanos_to_timestamp(_t(spark, sf_dir, "events"))


# ======================================================================
# flagship
# ======================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: block -> rule-match -> stable 1:1 on supplier x customer."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.clustering import StableMatcher
    from pydi_spark.functions.comparators import NumericComparator, StringComparator
    from pydi_spark.matching import RuleBasedMatcher

    supp = _t(spark, SF_DEFAULT, "supplier").select(
        F.col("s_suppkey").alias("rid"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_nationkey").alias("k"),
    )
    cust = _t(spark, SF_DEFAULT, "customer").select(
        F.col("c_custkey").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_nationkey").alias("k"),
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    matcher = RuleBasedMatcher(
        comparators=[
            (StringComparator("name", "levenshtein"), 0.5),
            (NumericComparator("bal", max_difference=5000.0), 0.5),
        ]
    )
    corr = matcher.match(supp, cust, pairs, threshold=0.1, id_column="rid")
    return StableMatcher().cluster(corr)


# ======================================================================
# query helpers (shared by several queries)
# ======================================================================

def _rule_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier x customer: nationkey block + levenshtein/acctbal score."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.functions.comparators import NumericComparator, StringComparator
    from pydi_spark.matching import RuleBasedMatcher

    supp = (
        _t(spark, sf_dir, "supplier")
        .select(
            F.col("s_suppkey").alias("rid"),
            F.col("s_name").alias("name"),
            F.col("s_acctbal").alias("bal"),
            F.col("s_nationkey").alias("k"),
        )
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("rid"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("bal"),
            F.col("c_nationkey").alias("k"),
        )
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    matcher = RuleBasedMatcher(
        comparators=[
            (StringComparator("name", "levenshtein"), 0.5),
            (NumericComparator("bal", max_difference=5000.0), 0.5),
        ]
    )
    return matcher.match(supp, cust, pairs, threshold=0.0, id_column="rid")


_RULE_CORR_SQL = """
WITH s AS (SELECT CAST(s_suppkey AS VARCHAR) id1, s_name n1, s_acctbal b1, s_nationkey k FROM supplier),
     c AS (SELECT CAST(c_custkey AS VARCHAR) id2, c_name n2, c_acctbal b2, c_nationkey k FROM customer),
     j AS (SELECT id1, id2,
             0.5 * (1.0 - levenshtein(n1, n2)::DOUBLE / greatest(length(n1), length(n2)))
           + 0.5 * greatest(0.0, 1.0 - abs(b1 - b2) / 5000.0) AS score
           FROM s JOIN c USING (k))
SELECT id1, id2, score FROM j
"""


def _orders_datasets(spark: SparkSession, sf_dir: str, split: bool = False):
    """orders as Dataset(s) with chain-edge correspondences per customer."""
    from pydi_spark.core.dataset import Dataset

    orders = _t(spark, sf_dir, "orders").withColumn(
        "rid", F.col("o_orderkey").cast("string")
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        orders.withColumn("prev", F.lag("o_orderkey").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            F.col("prev").cast("string").alias("id1"),
            F.col("o_orderkey").cast("string").alias("id2"),
            F.lit(1.0).alias("score"),
        )
    )
    if not split:
        return [Dataset.wrap(orders, "orders", id_column="rid")], edges
    a = Dataset.wrap(
        orders.where(F.col("o_orderkey") % 2 == 0), "orders_a",
        id_column="rid", trust_score=0.9,
    )
    b = Dataset.wrap(
        orders.where(F.col("o_orderkey") % 2 == 1), "orders_b",
        id_column="rid", trust_score=0.4,
    )
    return [a, b], edges


# group_id in the engine = min record-id STRING of the customer's orders
_GROUP_SQL = "SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey"


# ======================================================================
# queries
# ======================================================================

def q_blocking_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.blocking import StandardBlocker

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_nationkey").alias("k")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_nationkey").alias("k")
    )
    return StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")


def q_blocking_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.blocking import TokenBlocker

    part = _t(spark, sf_dir, "part")
    return TokenBlocker(column="p_name").block(part, id_column="p_partkey")


def q_blocking_standard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardBlocker's skew cap (max_block_size — the scale knob the
    reference only logs about): keys whose |L|x|R| pair count exceeds
    the cap are dropped deterministically, so the knob itself is
    oracle-checkable. Cap 400 prunes the 4 hottest nations at sf0.01."""
    from pydi_spark.blocking import StandardBlocker

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_nationkey").alias("k")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_nationkey").alias("k")
    )
    return StandardBlocker(on=["k"], max_block_size=400).block(
        supp, cust, id_column="rid"
    )


def q_blocking_token_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TokenBlocker's hot-token pruning (max_token_frequency): tokens
    above the per-side document-frequency cap never generate candidates
    — the one-hot-token-is-the-whole-job guard at corpus scale. The cap
    is a deterministic key drop, so exactly replayable in SQL."""
    from pydi_spark.blocking import TokenBlocker

    part = _t(spark, sf_dir, "part")
    return TokenBlocker(column="p_name", max_token_frequency=250).block(
        part, id_column="p_partkey"
    )


def q_blocking_snb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.blocking import SortedNeighbourhoodBlocker

    cust = _t(spark, sf_dir, "customer")
    return SortedNeighbourhoodBlocker(key="c_name", window=3).block(
        cust, id_column="c_custkey"
    )


def q_blocking_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.blocking import NoBlocker

    region = _t(spark, sf_dir, "region").withColumnRenamed("r_regionkey", "rid")
    nation = _t(spark, sf_dir, "nation").withColumnRenamed("n_nationkey", "rid")
    return NoBlocker().block(region, nation, id_column="rid")


def q_match_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureExtractor (reference feature_extraction.py:20-227): one
    feature column per comparator over the blocked pair table — the
    whole feature matrix is a single select, no per-row loop. Same
    levenshtein/max-difference ingredients as match_rule_based, so the
    oracle replays each column exactly."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.functions.comparators import (
        NumericComparator,
        StringComparator,
    )
    from pydi_spark.matching import FeatureExtractor

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"), F.col("s_nationkey").alias("k"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"), F.col("c_nationkey").alias("k"),
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    feats = FeatureExtractor(
        [
            StringComparator("name", "levenshtein"),
            NumericComparator("bal", max_difference=5000.0),
        ]
    ).create_features(supp, cust, pairs, id_column="rid")
    return feats.select(
        "id1",
        "id2",
        F.round("feat_name_0", 6).alias("feat_name"),
        F.round("feat_bal_1", 6).alias("feat_bal"),
    )


def q_match_text_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextFormatter (reference text_formatting.py): template-rendered
    record text for PLM/LLM matchers, as one native format_string —
    replayed with printf in the oracle. Missing values take the
    placeholder path."""
    from pydi_spark.matching import TextFormatter

    fmt = TextFormatter(
        ["s_name", "s_nationkey"],
        template="{s_name} (nation {s_nationkey})",
        handle_missing="placeholder",
    )
    supp = _t(spark, sf_dir, "supplier").withColumn(
        "s_nationkey",
        F.when(F.col("s_suppkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("s_nationkey")
        ),
    )
    return supp.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        fmt.expr().alias("text"),
    )


def q_match_rule_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    corr = _rule_corr(spark, sf_dir)
    return corr.where(F.col("score") >= 0.3).select(
        "id1", "id2", F.round("score", 6).alias("score")
    )


def q_cluster_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.clustering import connected_components

    _, edges = _orders_datasets(spark, sf_dir)
    return connected_components(edges.select("id1", "id2"))


def q_cluster_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.clustering import StableMatcher

    corr = _rule_corr(spark, sf_dir).select(
        "id1", "id2", F.round("score", 6).alias("score")
    )
    return StableMatcher().cluster(corr)


def q_fusion_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    df = ds.df.select(
        "rid",
        F.col("o_totalprice").alias("tp_avg"),
        F.col("o_totalprice").alias("tp_med"),
        F.col("o_totalprice").alias("tp_max"),
        F.col("o_totalprice").alias("tp_min"),
        F.col("o_totalprice").alias("tp_sum"),
    )
    ds = ds.with_df(df)
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("tp_avg", "average")
        .add_attribute_fuser("tp_med", "median")
        .add_attribute_fuser("tp_max", "maximum")
        .add_attribute_fuser("tp_min", "minimum")
        .add_attribute_fuser("tp_sum", "sum_values")
    )
    fused = DataFusionEngine(strat).run([ds], edges)
    # no rounding: sorted-sum/median/extrema are bit-identical with the
    # oracle; rounding would REINTRODUCE divergence (HALF_UP vs rint on
    # halfway doubles)
    return fused.select(
        F.col("_fusion_group_id").alias("group_id"),
        "tp_avg", "tp_med", "tp_max", "tp_min", "tp_sum",
        F.col("_fusion_group_size").alias("group_size"),
    )


def q_fusion_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    df = ds.df.select(
        "rid",
        F.col("o_orderpriority").alias("pri_vote"),
        F.col("o_orderpriority").alias("pri_long"),
        F.col("o_orderpriority").alias("pri_short"),
        F.col("o_orderstatus").alias("st_first"),
        F.col("o_orderdate").alias("dt_recent"),
        F.col("o_orderdate").alias("dt_early"),
    )
    ds = ds.with_df(df)
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("pri_vote", "voting")
        .add_attribute_fuser("pri_long", "longest_string")
        .add_attribute_fuser("pri_short", "shortest_string")
        .add_attribute_fuser("st_first", "first_non_null")
        .add_attribute_fuser("dt_recent", "most_recent")
        .add_attribute_fuser("dt_early", "earliest")
    )
    fused = DataFusionEngine(strat).run([ds], edges)
    return fused.select(
        F.col("_fusion_group_id").alias("group_id"),
        "pri_vote", "pri_long", "pri_short", "st_first",
        F.col("dt_recent").cast("date").cast("string").alias("dt_recent"),
        F.col("dt_early").cast("date").cast("string").alias("dt_early"),
    )


def q_fusion_custom_resolver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-callable resolver tier (fusion/engine.py:194 GROUPED_AGG
    pandas-UDF path — the reference's pluggable-callable contract,
    PyDI fusion/strategy.py:70-74), previously pytest-only (VERDICT r6
    #5). The callable is ORDER-INSENSITIVE (second-largest DISTINCT
    value, confidence 1/n_distinct — one IEEE division on identical
    operands, bit-portable) so the collected-list order the UDF sees
    cannot leak into the output; defined as a closure so cloudpickle
    ships it by value (workers never import __spark_entry__)."""
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy

    def second_largest(values, sources=None, trust_map=None):
        uniq = sorted(set(values), reverse=True)
        if not uniq:
            return (None, 0.0)
        value = uniq[1] if len(uniq) > 1 else uniq[0]
        return (value, 1.0 / len(uniq))

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    ds = ds.with_df(
        ds.df.select("rid", F.col("o_orderpriority").alias("pri_second"))
    )
    strat = DataFusionStrategy().add_attribute_fuser(
        "pri_second", second_largest
    )
    fused = DataFusionEngine(strat).run([ds], edges, debug=True)
    return fused.select(
        F.col("_fusion_group_id").alias("group_id"),
        "pri_second",
        F.col("_conf_pri_second").alias("conf"),
        F.col("_fusion_group_size").alias("group_size"),
    )


def q_fusion_debug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debug-mode fusion trace (fusion_debug_long — the reference's
    per-group per-attribute JSONL debug log, engine.py:257-354): melt
    of [group_id, attribute, value, confidence, rule]. Voting
    confidence is the integer vote share (portable division);
    longest_string confidence is its 0.7 constant."""
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy
    from pydi_spark.fusion.engine import fusion_debug_long

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    ds = ds.with_df(
        ds.df.select(
            "rid",
            F.col("o_orderpriority").alias("pri_vote"),
            F.col("o_orderpriority").alias("pri_long"),
        )
    )
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("pri_vote", "voting")
        .add_attribute_fuser("pri_long", "longest_string")
    )
    fused = DataFusionEngine(strat).run([ds], edges, debug=True)
    out = fusion_debug_long(fused)
    return out.select(
        "group_id", "attribute", "value",
        F.round("confidence", 6).alias("confidence"), "rule",
    )


def q_fusion_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFusionEvaluator (reference fusion/evaluation.py:253-497):
    per-attribute + __overall__ accuracy of the fused output against a
    derived gold. Gold prices are floored to the next-lower ten-thousand, so
    numeric_tolerance_match(1%) is differential across groups (floor is
    exact in IEEE — no cross-engine rounding hazard); gold dates equal
    the fused minima, so year_only_match contributes all-correct rows.
    Counts are integers; accuracy is ONE division — bit-identical."""
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy
    from pydi_spark.fusion.evaluation import (
        DataFusionEvaluator,
        numeric_tolerance_match,
        year_only_match,
    )

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    ds = ds.with_df(
        ds.df.select(
            "rid",
            F.col("o_totalprice").alias("price_max"),
            F.col("o_orderdate").alias("dt_early"),
        )
    )
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("price_max", "maximum")
        .add_attribute_fuser("dt_early", "earliest")
    )
    fused = DataFusionEngine(strat).run([ds], edges)
    orders = _t(spark, sf_dir, "orders")
    gold = (
        orders.groupBy("o_custkey")
        .agg(
            F.min(F.col("o_orderkey").cast("string")).alias("group_id"),
            (F.floor(F.max("o_totalprice") / 10000) * 10000)
            .cast("double")
            .alias("price_max"),
            F.min("o_orderdate").alias("dt_early"),
        )
        .drop("o_custkey")
    )
    return DataFusionEvaluator().evaluate(
        fused,
        "_fusion_group_id",
        gold,
        "group_id",
        {
            "price_max": numeric_tolerance_match(0.01),
            "dt_early": year_only_match,
        },
    )


def q_fusion_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy

    datasets, edges = _orders_datasets(spark, sf_dir, split=True)
    new = []
    for ds in datasets:
        new.append(
            ds.with_df(
                ds.df.select(
                    "rid",
                    F.col("o_orderpriority").alias("pri_trust"),
                    F.col("o_orderstatus").alias("st_wvote"),
                    F.col("o_orderstatus").alias("st_favour"),
                    F.col("o_orderpriority").alias("pri_rand"),
                )
            )
        )
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("pri_trust", "prefer_higher_trust")
        .add_attribute_fuser("st_wvote", "weighted_voting")
        .add_attribute_fuser("st_favour", "favour_sources",
                             source_preferences=["orders_b", "orders_a"])
        .add_attribute_fuser("pri_rand", "random_value", seed=7)
    )
    fused = DataFusionEngine(strat).run(new, edges)
    return fused.select(
        F.col("_fusion_group_id").alias("group_id"),
        "pri_trust", "st_wvote", "st_favour", "pri_rand",
        F.array_join("_fusion_sources", ",").alias("sources"),
    )


def q_fusion_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    df = ds.df.select(
        "rid",
        F.array(F.col("o_orderstatus")).alias("st_union"),
        F.array(F.col("o_orderstatus")).alias("st_inter"),
        F.array(F.col("o_orderpriority")).alias("pri_k2"),
    )
    ds = ds.with_df(df)
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("st_union", "union")
        .add_attribute_fuser("st_inter", "intersection")
        .add_attribute_fuser("pri_k2", "intersection_k_sources", k=2)
    )
    fused = DataFusionEngine(strat).run([ds], edges)
    return fused.select(
        F.col("_fusion_group_id").alias("group_id"),
        F.array_join("st_union", ",").alias("st_union"),
        F.array_join("st_inter", ",").alias("st_inter"),
        F.array_join("pri_k2", ",").alias("pri_k2"),
    )


def q_eval_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.blocking import TokenBlocker
    from pydi_spark.evaluation import evaluate_blocking

    part = _t(spark, sf_dir, "part")
    cands = TokenBlocker(column="p_name").block(part, id_column="p_partkey")
    # gold oriented like the blocker: NATIVE (numeric) id order
    gold = (
        part.alias("a")
        .join(part.alias("b"), F.col("a.p_name") == F.col("b.p_name"))
        .where(F.col("a.p_partkey") < F.col("b.p_partkey"))
        .select(
            F.col("a.p_partkey").cast("string").alias("id1"),
            F.col("b.p_partkey").cast("string").alias("id2"),
        )
    )
    n = part.count()
    # TokenBlocker.block() emits one row per distinct pair by
    # construction (min-shared-token filter), and the gold self-join
    # emits each same-name pair exactly once (partkey is unique, pairs
    # oriented a < b) — both dedup exchanges provably skippable (r13)
    return evaluate_blocking(
        cands, gold, n, n, candidates_distinct=True, gold_distinct=True
    ).select(
        F.round("pair_completeness", 6).alias("pair_completeness"),
        F.round("pair_quality", 6).alias("pair_quality"),
        "total_candidates",
        "true_positives_found",
        "total_true_pairs",
    )


def q_eval_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.evaluation import evaluate_matching

    corr = _rule_corr(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    gold = (
        supp.join(cust, supp["s_nationkey"] == cust["c_nationkey"])
        .select(
            F.col("s_suppkey").cast("string").alias("id1"),
            F.col("c_custkey").cast("string").alias("id2"),
            (F.abs(F.col("s_acctbal") - F.col("c_acctbal")) < 2000).cast("int").alias("label"),
        )
    )
    return evaluate_matching(corr, gold, threshold=0.75).select(
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
        "tp", "fp", "fn", "tn",
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs).select(
        "id", "content_hash", "canonical_id",
        F.col("is_duplicate").cast("int").alias("is_duplicate"),
    )


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = minhash_near_duplicates(docs, num_hashes=8, bands=4, jaccard_threshold=0.7)
    return out.select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruning off here: on this corpus no shingle is hot enough to
    change the pair set, so the frequency pass would only add cost (the
    knob still exists for head-heavy corpora and is SQL-mirrored via
    _ngram_jaccard_sql(max_freq=...))."""
    from pydi_spark.llmdata import ngram_jaccard_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_duplicates(
        docs, shingle_size=3, jaccard_threshold=0.5, max_shingle_frequency=None
    )
    return out.select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import quality_scores, token_counts

    docs = _t(spark, sf_dir, "documents")
    out = token_counts(docs)
    out = quality_scores(out)
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_tokens_ws",
        "n_tokens_distinct",
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "predicted_lang",
        F.round("lang_score", 6).alias("lang_score"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import document_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return document_fingerprint(docs).select(
        F.col("doc_id").cast("string").alias("doc_id"), "fingerprint"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    out = brute_force_topk(emb, queries, k=10)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decimal aggregation: exact (no float summation-order drift vs the
    # oracle) and still whole-stage-codegen'd
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.sum(qty).cast("double") / F.count(qty), 6).alias("avg_qty"),
            F.round(F.sum(disc).cast("double") / F.count(disc), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
        .select(
            F.col("o_orderkey"),
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): six-table join with the
    nation/region dimension chain broadcast; revenue summed exactly in
    decimal, cast to double only at the end."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    dim = F.broadcast(
        nation.join(region, nation["n_regionkey"] == region["r_regionkey"])
        .select("n_nationkey", "n_name")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(dim, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): semi-join pattern — the
    HAVING aggregate over lineitem produces a small key set that is
    broadcast back against orders; quantity summed exactly in decimal."""
    qty = F.col("l_quantity").cast("decimal(18,2)")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: the testdata has no
    partsupp, so profit is revenue = l_extendedprice*(1-l_discount)
    (no supply-cost term) for parts whose name starts with 'red'.
    part and the supplier->nation dimension chain broadcast; the fact
    scan aggregates by (nation, order year) with exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    sdim = F.broadcast(
        supp.join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(sdim, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    the supplier(s) achieving the global maximum. The per-supplier
    aggregate is map-side-combined; the scalar max is a one-row
    broadcast joined back (no second scan of lineitem). Revenue stays
    DECIMAL through the max-equality so the comparison is exact."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    revenue = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("s_suppkey"),
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): average yearly revenue
    lost if Brand#23 orders below 20% of the part's mean quantity were
    not taken. The per-part mean is ONE aggregate over the brand-filtered
    fact rows, broadcast back — the correlated subquery never rescans
    lineitem. avg is written as sum(decimal)/count on both engines so
    the 0.2*avg threshold is bit-identical."""
    part = F.broadcast(
        _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    brand_li = li.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_qty = F.broadcast(
        brand_li.groupBy(F.col("l_partkey").alias("ak"))
        .agg(
            (F.sum(qty).cast("double") / F.count("l_quantity")).alias("avg_qty")
        )
    )
    return (
        brand_li.join(avg_qty, F.col("l_partkey") == F.col("ak"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


def q_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    rows = []
    aggs = []
    for c in cust.columns:
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"nd_{c}"))
    total = cust.count()
    r = cust.agg(*aggs).collect()[0]
    for c in cust.columns:
        rows.append((c, total, int(r[f"nn_{c}"]), int(r[f"nd_{c}"])))
    return spark.createDataFrame(
        rows, "column_name string, n_rows long, non_null long, n_distinct long"
    )


def q_profile_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataProfiler.compare (reference profiler.py:69-106): two-sided
    schema/stats comparison of supplier vs customer under a shared
    column namespace. Only the EXACT fields (non-null/null counts,
    shared/only-a/only-b membership) face the oracle; approx_distinct
    is a sketch and stays out of the projection."""
    from pydi_spark.profiling import DataProfiler

    a = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nk"),
    )
    b = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
    )
    cmp = DataProfiler().compare(a, b)
    rows = []
    for col in cmp["shared_columns"]:
        rows.append(
            (
                col,
                "shared",
                int(cmp["a"]["columns"][col]["non_null"]),
                int(cmp["a"]["columns"][col]["nulls"]),
                int(cmp["b"]["columns"][col]["non_null"]),
                int(cmp["b"]["columns"][col]["nulls"]),
            )
        )
    for col in cmp["only_a"]:
        c = cmp["a"]["columns"][col]
        rows.append((col, "only_a", int(c["non_null"]), int(c["nulls"]), -1, -1))
    for col in cmp["only_b"]:
        c = cmp["b"]["columns"][col]
        rows.append((col, "only_b", -1, -1, int(c["non_null"]), int(c["nulls"])))
    return spark.createDataFrame(
        rows,
        "column_name string, membership string, a_non_null long, "
        "a_nulls long, b_non_null long, b_nulls long",
    )


def q_match_date_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule matching with DateComparator + relative-difference numeric over
    same-customer order pairs (chain candidates)."""
    from pydi_spark.functions.comparators import DateComparator, NumericComparator
    from pydi_spark.matching import RuleBasedMatcher

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("rid"),
        F.col("o_orderdate").alias("odate"),
        F.col("o_totalprice").alias("price"),
    )
    _, edges = _orders_datasets(spark, sf_dir)
    matcher = RuleBasedMatcher(
        comparators=[
            (DateComparator("odate", max_days_difference=365.0), 0.6),
            (NumericComparator("price", method="relative_difference"), 0.4),
        ]
    )
    corr = matcher.match(orders, orders, edges, threshold=0.5, id_column="rid")
    # raw doubles: both engines compute the identical IEEE expression
    return corr.select("id1", "id2", "score")


def q_match_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning batch selection (matching.uncertainty_band): the
    100 candidate pairs whose rule score sits closest to the 0.5
    decision threshold — the next labels an EM labeling loop would
    request. Same scoring as match_date_numeric with threshold=0.0
    (keep every scored pair), so the oracle reuses that replay."""
    from pydi_spark.functions.comparators import DateComparator, NumericComparator
    from pydi_spark.matching import RuleBasedMatcher, uncertainty_band

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("rid"),
        F.col("o_orderdate").alias("odate"),
        F.col("o_totalprice").alias("price"),
    )
    _, edges = _orders_datasets(spark, sf_dir)
    matcher = RuleBasedMatcher(
        comparators=[
            (DateComparator("odate", max_days_difference=365.0), 0.6),
            (NumericComparator("price", method="relative_difference"), 0.4),
        ]
    )
    corr = matcher.match(orders, orders, edges, threshold=0.0, id_column="rid")
    return uncertainty_band(
        corr.select("id1", "id2", "score"), threshold=0.5, band=0.1, max_pairs=100
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.llmdata import simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, max_hamming=3, bands=4)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-completing dedup: simhash pairs -> connected components
    -> one canonical doc per duplicate cluster. The oracle recomputes
    the pair set in SQL and closes it with a recursive min-label CTE
    (bounded: sum of component-size^2 ~ 30k rows at sf0.01)."""
    from pydi_spark.llmdata import simhash_near_duplicates
    from pydi_spark.llmdata.dedup import canonical_corpus

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, max_hamming=3, bands=4)
    out = canonical_corpus(docs, pairs)
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "canonical_id",
        # int-cast: booleans are hash-unsafe in the driver window
        # (r7 re-pins this query in-window after its r2 green)
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


def q_eval_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCubed extrinsic clustering evaluation (evaluation/matching_eval
    bcubed_metrics): predicted = simhash CC duplicate clusters (incl.
    singletons via canonical_corpus), gold = exact-text partitions
    (md5 groups). Per-record ratios floor to integer ppm BEFORE the
    exact integer mean; only the final F1 is a fixed-order double
    chain replayed with the same source literals."""
    from pydi_spark.evaluation import bcubed_metrics
    from pydi_spark.llmdata import simhash_near_duplicates
    from pydi_spark.llmdata.dedup import canonical_corpus

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, max_hamming=3, bands=4)
    pred = canonical_corpus(docs, pairs).select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.col("canonical_id").alias("cluster_id"),
    )
    gold = docs.select(
        F.col("doc_id").cast("string").alias("record_id"),
        F.md5(F.col("text").cast("binary")).alias("cluster_id"),
    )
    return bcubed_metrics(pred, gold)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup (llmdata/dedup.py keep_best_duplicates):
    simhash pairs -> CC clusters -> keep the LONGEST doc per cluster
    under the (length DESC, id ASC) total order (integer score — no
    float anywhere). Oracle = the dedup_canonical recursive closure
    plus a rank-1 window over the same order."""
    from pydi_spark.llmdata import keep_best_duplicates, simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("q")
    )
    pairs = simhash_near_duplicates(docs, max_hamming=3, bands=4)
    out = keep_best_duplicates(docs, pairs, "q")
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "cluster_id", "keep_id", "is_kept",
    )


def q_normalize_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column masking for export (normalization/robust.py mask_columns):
    hash pseudonyms (md5 — joinable, deterministic), partial masking
    with edge retention, constant redaction, nulling. Pure expressions;
    DuckDB replays each strategy verbatim."""
    from pydi_spark.normalization import mask_columns

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("ck"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("string").alias("nation"),
    )
    return mask_columns(
        cust, {"name": "hash", "segment": "partial", "nation": "redact"}
    )


def q_events_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution — a pure COMPOSITION query: each
    user's first view -> first later purchase lag in exact micros,
    then exact quantiles over the lag column (profiling
    exact_quantiles — answers are column elements, so values pass
    through bit-identically)."""
    from pydi_spark.profiling import exact_quantiles

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    v = ev.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("tv")
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"), F.min("tv").alias("tv2"))
    )
    lags = p.select(
        (F.unix_micros("tp") - F.unix_micros("tv2")).alias("lag_us")
    )
    return exact_quantiles(lags, ["lag_us"], ps=(0.25, 0.5, 0.75, 0.9))


def q_normalize_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.normalization import apply_column_transforms

    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("pk"),
        F.concat(F.lit("  "), F.col("p_name"), F.lit("   x ")).alias("name"),
        F.upper(F.col("p_type")).alias("ptype"),
        F.concat(
            F.col("p_size").cast("string"), F.lit(","),
            F.col("p_partkey").cast("string"), F.lit(".5"),
        ).alias("price_str"),
    )
    out = apply_column_transforms(
        part,
        {
            "name": ["strip", "normalize_whitespace", "upper"],
            "ptype": "lower",
            "price_str": "to_numeric",
        },
    )
    return out.select("pk", "name", "ptype", F.col("price_str").alias("price"))


def q_type_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.normalization import type_match_rates

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("string").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    rates = type_match_rates(cust, ["k", "name", "bal", "seg"], sample_size=0)
    return rates.select(
        "column_name", "type_name", F.round("match_rate", 6).alias("match_rate")
    )


def q_units_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.normalization.units import normalize_units

    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("pk"),
        F.concat(F.col("p_size").cast("string"), F.lit(" cm")).alias("q_len"),
        F.concat(F.col("p_size").cast("string"), F.lit(" °F")).alias("q_temp"),
        # round-6 unit-registry broadening (VERDICT r5 #4): one probe
        # per new category — energy/pressure/angle, all value*factor
        # single IEEE ops replayed literally by the oracle
        F.concat(F.col("p_size").cast("string"), F.lit(" kWh")).alias("q_energy"),
        F.concat(F.col("p_size").cast("string"), F.lit(" bar")).alias("q_press"),
        F.concat(F.col("p_size").cast("string"), F.lit(" deg")).alias("q_angle"),
    )
    out = normalize_units(part, "q_len")
    out = normalize_units(out, "q_temp")
    out = normalize_units(out, "q_energy")
    out = normalize_units(out, "q_press")
    out = normalize_units(out, "q_angle")
    return out.select(
        "pk",
        "q_len_value", "q_len_unit", "q_len_category",
        "q_temp_value", "q_temp_unit", "q_temp_category",
        "q_energy_value", "q_energy_unit", "q_energy_category",
        "q_press_value", "q_press_unit", "q_press_category",
        "q_angle_value", "q_angle_unit", "q_angle_category",
    )


def q_extract_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.extraction import RegexExtractor

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("ok"),
        F.concat(
            F.lit("Order for $"),
            F.col("o_totalprice").cast("string"),
            F.lit(" at 45% margin, see https://shop.example.com/o/"),
            F.col("o_orderkey").cast("string"),
        ).alias("text"),
    )
    ex = RegexExtractor(
        {
            "money": {"source_column": "text",
                      "pattern": r"[$]\s?([0-9][0-9,.]*)",
                      "group": 0,
                      "postprocess": "parse_money"},
            "percent": {"source_column": "text",
                        "pattern": r"([+-]?[0-9.]+\s?%)",
                        "postprocess": "parse_percent"},
            "domain": {"source_column": "text",
                       "pattern": r"((?:https?://)[^\s]+)",
                       "postprocess": "extract_domain"},
        }
    )
    out = ex.extract(orders)
    return out.select(
        "ok",
        F.col("money"),
        F.round("percent", 6).alias("percent"),
        "domain",
    )


def q_validators_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.normalization import DataQualityChecker

    cust = _t(spark, sf_dir, "customer")
    return (
        DataQualityChecker()
        .add_range("c_acctbal", 0.0, 9000.0)
        .add_pattern("c_name", r"^Customer#[0-9]+$")
        .add_completeness("c_nationkey")
        .run(cust)
    )


def q_schema_duplicate_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.schemamatching import DuplicateBasedSchemaMatcher

    cust = _t(spark, sf_dir, "customer")
    src = Dataset.wrap(
        cust.select(
            F.col("c_custkey").cast("string").alias("rid"),
            F.col("c_name").alias("cust_name"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "src", id_column="rid",
    )
    tgt = Dataset.wrap(
        cust.select(
            F.col("c_custkey").cast("string").alias("rid"),
            F.col("c_name").alias("customer_name"),
            F.col("c_mktsegment").alias("market_segment"),
        ),
        "tgt", id_column="rid",
    )
    corr = cust.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").cast("string").alias("id1"),
        F.col("c_custkey").cast("string").alias("id2"),
        F.lit(1.0).alias("score"),
    )
    out = DuplicateBasedSchemaMatcher(min_votes=2).match(src, tgt, corr, threshold=0.5)
    return out.select(
        "source_column", "target_column", F.round("score", 6).alias("score")
    )


def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event aggregation — the same plan runs as a Structured
    Streaming query (tests/test_extraction_profiling.py drives it via
    readStream); the batch run here is what the oracle checks."""
    from pydi_spark.streaming import windowed_event_counts

    events = _events(spark, sf_dir)
    out = windowed_event_counts(events, "6 hours", value_column=None)
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
    )


def q_profile_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dataset attribute coverage matrix
    (DataProfiler.analyze_coverage -> fusion.evaluation.coverage_metrics;
    reference: profiling/profiler.py:158-216 + fusion/analysis.py:22-130)
    — previously a pytest-only surface. Negative balances are nulled
    first so coverage is non-trivially < 1; coverage = int/int division,
    bit-identical cross-engine."""
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.profiling import DataProfiler

    supp = _t(spark, sf_dir, "supplier").withColumn(
        "s_acctbal", F.when(F.col("s_acctbal") >= 0, F.col("s_acctbal"))
    )
    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal"))
    )
    return DataProfiler().analyze_coverage(
        [Dataset.wrap(supp, "supplier"), Dataset.wrap(cust, "customer")]
    )


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click -> purchase by the
    same user within 1 hour) — the attribution join. Same plan runs
    batch and streaming (tests drive the streaming side); the batch run
    is what the oracle checks. Timestamps render as strings under the
    pinned UTC session so they match DuckDB's naive timestamps; values
    pass through raw (no float arithmetic)."""
    from pydi_spark.streaming import stream_stream_join

    ev = _events(spark, sf_dir)
    out = stream_stream_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
        max_delay="1 hour",
    )
    return out.select(
        F.col("key").cast("string").alias("user_id"),
        F.col("l_ts").cast("string").alias("click_ts"),
        F.col("r_ts").cast("string").alias("purchase_ts"),
        F.col("l_value").alias("click_value"),
        F.col("r_value").alias("purchase_value"),
    )


def q_blocking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.blocking import StandardBlocker, block_stats

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_nationkey").alias("k")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_nationkey").alias("k")
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    return block_stats(pairs)


def q_fusion_most_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy

    datasets, edges = _orders_datasets(spark, sf_dir)
    ds = datasets[0]
    ds = ds.with_df(
        ds.df.select("rid", F.col("o_orderpriority").alias("pri_complete"))
    )
    strat = DataFusionStrategy().add_attribute_fuser("pri_complete", "most_complete")
    fused = DataFusionEngine(strat).run([ds], edges)
    return fused.select(
        F.col("_fusion_group_id").alias("group_id"), "pri_complete"
    )


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.streaming import sessionize

    events = _events(spark, sf_dir)
    out = sessionize(events, gap="30 minutes")
    return out.select(
        F.col("session_start").cast("string").alias("session_start"),
        F.col("session_end").cast("string").alias("session_end"),
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k. Oracle-checked: the seeded
    hyperplanes are deterministic given (seed, dim), so the oracle SQL
    regenerates them as literals and replays signature -> band join ->
    exact cosine re-score -> top-k in DuckDB (see _ann_lsh_oracle_sql)."""
    from pydi_spark.llmdata import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    out = lsh_topk(emb, queries_df, k=10, lsh_bits=12, lsh_bands=6)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_tpch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grouping sets are native in Spark — SURVEY
    §2.13 capability the reference lacks)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(qty).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def q_tpch_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (all grouping-set combinations — §2.13 window/
    grouping surface; completes the rollup row). Exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(qty).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
        )
    )


def q_tpch_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS (the general form behind rollup/cube — §2.13):
    totals by (returnflag, linestatus), by returnflag alone, and a
    grand total, in ONE aggregate pass. Exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_qty
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel over the events stream (view -> click -> purchase,
    each within 24h of the previous stage, per user): how many users
    reach each stage. Classic product-analytics shape; each stage is a
    per-user min-ts aggregate gated on the previous stage's timestamp —
    three map-side-combined aggregates and two narrow joins, no window
    over the raw event stream. Interval arithmetic on micros timestamps
    is exact on both engines."""
    from pydi_spark.events import funnel_stages

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    return funnel_stages(ev, ["view", "click", "purchase"], within_hours=24)


def q_events_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted retention / LTV table (events/ops.py
    cohort_value): retention's cohort grid plus the exact micro-integer
    value sum per (cohort, week offset) — values floor-quantized to
    micros BEFORE summation so the aggregate is order-free."""
    from pydi_spark.events import cohort_value

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "value"
    )
    return cohort_value(ev, signup_type="signup")


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift between two corpus snapshots (profiling
    category_drift_report): order priorities of early vs late orders
    (orderkey halves), exact integer ppm shares + signed delta; a
    synthesized one-sided category and a null class prove the
    full-outer + null accounting."""
    from pydi_spark.profiling import category_drift_report

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 31 == 0, F.lit(None))
        .when(F.col("o_orderkey") % 37 == 0, F.lit("LEGACY"))
        .otherwise(F.col("o_orderpriority")).alias("pri"),
    )
    mid = orders.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_orderkey)")
    ).collect()[0][0]
    a = orders.where(F.col("o_orderkey") <= F.lit(int(mid)))
    b = orders.where(F.col("o_orderkey") > F.lit(int(mid)))
    return category_drift_report(a, b, "pri")


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by ISO week of first
    signup; n_users active per week offset. Week arithmetic is
    day-difference div 7 between Monday-truncated timestamps — exact
    integers on both engines (datediff('week', ...) boundary semantics
    would not be portable)."""
    from pydi_spark.events import retention_cohorts

    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    return retention_cohorts(ev, signup_type="signup")


def q_events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (the batch twin of streaming_sessionize):
    per-user sessions split on >30 min gaps via lag + running sum —
    one exchange by user, gap math on exact micros integers."""
    from pydi_spark.events import session_stats

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    return session_stats(ev, gap_minutes=30)


def q_events_session_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session landing/exit report (events/ops.py
    session_entry_exit): entry/exit event types via min_by/max_by on
    the (micros, event_id) struct total order, bounce flag as int.
    Oracle replays the sessionization and picks entry/exit with
    first/last_value windows over the same total order."""
    from pydi_spark.events import session_entry_exit

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    return session_entry_exit(ev, gap_minutes=30)


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props extraction: per event type, stats over the
    JSON payload's $.k field (get_json_object — JVM-side Jackson path,
    no UDF; DuckDB replays with json_extract)."""
    ev = _events(spark, sf_dir)
    parsed = ev.select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common 3-step event paths within sessions (events/ops.py
    event_path_ngrams): sessionize (30-min gap) -> lead windows on the
    same (user, session) exchange -> path counts + user reach; output
    bounded by |event types|^3."""
    from pydi_spark.events import event_path_ngrams

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    return event_path_ngrams(ev, n=3, gap_minutes=30)


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-interval (6h) downsampling per event type with gap filling
    (events/ops.py resample_timeseries): exact integer bucket division,
    per-key sequence explode for empty buckets, micro-int value sums."""
    from pydi_spark.events import resample_timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return resample_timeseries(
        ev, key_col="event_type", interval_minutes=360, value_col="value"
    )


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution (events/ops.py
    attribute_conversions): each purchase distributes exactly 1e6 ppm
    over the user's click/view touches in a 24h lookback — integer
    div/mod split, remainder ppm to the earliest touches under the
    (ts, event_id) total order; unattributed conversions carry the
    full credit on touch_id -1 (NULL coalesced: a nullable bigint
    becomes float64 in pandas on BOTH engines — dodge the dtype class
    entirely)."""
    from pydi_spark.events import attribute_conversions

    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    out = attribute_conversions(
        ev, touch_types=["click", "view"], conversion_type="purchase",
        model="linear", lookback_hours=24,
    )
    return out.select(
        "user_id",
        F.coalesce("touch_id", F.lit(-1)).alias("touch_id"),
        "conversion_id",
        "credit_ppm",
    )


def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram over o_totalprice
    (profiling/profiler.py equi_width_histogram): 16 buckets, auto
    min/max bounds, empty buckets zero-filled. The bucket expression is
    one left-to-right IEEE chain — the oracle computes the SAME min/max
    (exact) and spells the SAME expression, so floor is
    divergence-free."""
    from pydi_spark.profiling import equi_width_histogram

    return equi_width_histogram(
        _t(spark, sf_dir, "orders"), "o_totalprice", n_buckets=16
    )


def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users (events/ops.py active_users —
    WAU): dedup to the (user, epoch-day) grain, fan each user-day to
    the <= 7 report days it supports (clamped to the corpus span),
    count distinct per day, zero-fill the day grid. All-integer."""
    from pydi_spark.events import active_users

    ev = _events(spark, sf_dir).select("user_id", "ts")
    return active_users(ev, window_days=7)


def q_normalize_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic categorical encoding (normalization/robust.py
    encode_categories): ordinal codes for o_orderpriority under the
    (count DESC, value ASC) total order + exact frequency encoding of
    o_orderstatus. The oracle replays both with dense ranks over the
    SAME total order."""
    from pydi_spark.normalization import encode_categories

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderstatus"
    )
    out = encode_categories(orders, "o_orderpriority", method="ordinal")
    out = encode_categories(out, "o_orderstatus", method="frequency")
    return out.select(
        "o_orderkey",
        F.col("o_orderpriority_enc").alias("pri_code"),
        F.col("o_orderstatus_enc").alias("status_freq"),
    )


def _messy_url_sql(dialect: str) -> str:
    """Deterministic messy-URL synthesis from c_custkey — identical
    expression text in both dialects (only the string-type cast name
    differs), so the canonicalization is the only thing under test."""
    t = "STRING" if dialect == "spark" else "VARCHAR"
    k = f"CAST(c_custkey AS {t})"
    return f"""(CASE c_custkey % 6
      WHEN 0 THEN concat('HTTP://WWW.Shop.COM:80/item/', {k},
                         '?utm_source=news&fbclid=abc', {k})
      WHEN 1 THEN concat('https://Shop.com:443/item/', {k}, '/')
      WHEN 2 THEN concat('http://shop.com/item/', {k},
                         '?a=1&utm_b=2&c=3#frag')
      WHEN 3 THEN concat('shop.com/item/', {k}, '/')
      WHEN 4 THEN concat('HTTPS://www.shop.com/item/', {k},
                         '?ref=', {k}, '&x=2')
      ELSE concat('http://shop.com:80/item/', {k}, '//')
    END)"""


def q_normalize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (functions/urls.py canonical_url_sql — the
    web-corpus dedup prep step): scheme/host lowercasing, www/default
    -port stripping, tracking-param removal with separator repair,
    fragment + trailing-slash cleanup. ONE builder emits both engines'
    expression text (the Soundex pattern), so operator and oracle
    cannot drift; the messy input is synthesized deterministically from
    c_custkey by the same dual-dialect expression."""
    from pydi_spark.functions.urls import canonical_url

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.expr(_messy_url_sql("spark")).alias("url")
    )
    out = cust.select(
        "c_custkey", canonical_url("url").alias("canonical_url")
    )
    return out


def q_blocking_key_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key preflight (blocking/base.py blocking_key_report):
    per candidate key, the self-join block shape and exact pair cost
    WITHOUT generating pairs — decimal(38,0) n*(n-1) div 2 per the
    int64-overflow rule, emerging as try_cast BIGINT. Nulls are
    synthesized deterministically (c_custkey % 11 == 0 on the segment
    key) so n_null is non-trivial."""
    from pydi_spark.blocking import blocking_key_report

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        F.when(F.col("c_custkey") % 11 != 0, F.col("c_mktsegment"))
        .alias("segment"),
    )
    return blocking_key_report(
        cust, ["nation", "segment"], max_pairs_budget=200_000
    )


def q_streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct users (streaming/dedup.py
    windowed_distinct_users): the BATCH plan runs the exact
    countDistinct (what the oracle checks); the same call on a stream
    switches to watermarked approx_count_distinct (pytest drives that
    side — Structured Streaming forbids exact distinct aggs)."""
    from pydi_spark.streaming import windowed_distinct_users

    ev = _events(spark, sf_dir).select("user_id", "ts")
    out = windowed_distinct_users(ev, "6 hours")
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        "n_users",
    )


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count (llmdata/graph.py triangle_count —
    degree-ordered orientation, one wedge join + closure semi-join).
    Edges: per-nation customer rank chains with rank-diff <= 2, so each
    nation of n >= 3 members contributes exactly n-2 triangles; the
    oracle is the brute three-way edge join (independent
    characterization, not an orientation replay)."""
    from pydi_spark.llmdata import triangle_count

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    r = cust.withColumn("rk", F.row_number().over(w))
    a, b = r.alias("a"), r.alias("b")
    edges = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rk") - F.col("a.rk")).isin(1, 2),
    ).select(
        F.col("a.c_custkey").alias("id1"), F.col("b.c_custkey").alias("id2")
    )
    return triangle_count(edges)


def q_cluster_max_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-WEIGHT bipartite matching (clustering/maximum_bipartite.py
    — previously pytest-only because the optimum is not unique in
    general). This query constructs disjoint 3-edge paths whose optimum
    IS unique: per customer 4-group (m0, m1, m2, m3), edges
    (m0,m1,0.6), (m2,m1,0.9), (m2,m3,0.5) — the 2-edge matching weighs
    1.1 > 0.9, so EVERY exact solver must keep {(m0,m1), (m2,m3)} and
    the oracle can state the answer directly. (A greedy matcher would
    take the 0.9 edge first and score 0.9 — this query certifies the
    solver is exact, not greedy.)"""
    from pydi_spark.clustering import MaximumBipartiteMatcher

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    r = (
        cust.withColumn("rk", F.row_number().over(w))
        .withColumn("g", F.expr("(rk - 1) div 4"))
        .withColumn("m", F.expr("(rk - 1) % 4"))
    )
    full = (
        r.groupBy("c_nationkey", "g").agg(F.count("*").alias("n"))
        .where("n = 4").select("c_nationkey", "g")
    )
    r = r.join(full, ["c_nationkey", "g"], "left_semi")
    m = {
        i: r.where(F.col("m") == i).select(
            F.col("c_nationkey").alias("nk"), F.col("g").alias("gg"),
            F.col("c_custkey").cast("string").alias(f"m{i}"),
        )
        for i in range(4)
    }
    grp = m[0].join(m[1], ["nk", "gg"]).join(m[2], ["nk", "gg"]).join(
        m[3], ["nk", "gg"]
    )
    edges = (
        grp.select(F.col("m0").alias("id1"), F.col("m1").alias("id2"),
                   F.lit(0.6).alias("score"))
        .unionByName(grp.select(F.col("m2").alias("id1"),
                                F.col("m1").alias("id2"),
                                F.lit(0.9).alias("score")))
        .unionByName(grp.select(F.col("m2").alias("id1"),
                                F.col("m3").alias("id2"),
                                F.lit(0.5).alias("score")))
    )
    return MaximumBipartiteMatcher().cluster(edges)


def q_graph_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact local clustering coefficient (llmdata/graph.py
    clustering_coefficient — the triangle orientation kept per-node,
    coef as integer ppm 2T*1e6 div d(d-1)). Same ring-edge graph as
    graph_triangles; interior nodes sit in 3 triangles at degree 4 ->
    coef_ppm 500000, so the output leaves the 0/1 corners. Oracle =
    brute per-node triangle enumeration (independent
    characterization)."""
    from pydi_spark.llmdata import clustering_coefficient

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    r = cust.withColumn("rk", F.row_number().over(w))
    a, b = r.alias("a"), r.alias("b")
    edges = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rk") - F.col("a.rk")).isin(1, 2),
    ).select(
        F.col("a.c_custkey").alias("id1"), F.col("b.c_custkey").alias("id2")
    )
    return clustering_coefficient(edges)


def _clique_bridge_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-structured test graph shared by graph_kcore and
    graph_label_prop: customers form 4-cliques per (nation, rank-block)
    plus stride-4 bridges between consecutive blocks — dense cores
    joined by weak links."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    r = cust.withColumn("rk", F.row_number().over(w)).withColumn(
        "blk", F.expr("(rk - 1) div 4")
    )
    a, b = r.alias("a"), r.alias("b")
    clique = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("b.rk") > F.col("a.rk")),
    ).select(
        F.col("a.c_custkey").alias("id1"), F.col("b.c_custkey").alias("id2")
    )
    bridge = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("b.rk") - F.col("a.rk") == 4),
    ).select(
        F.col("a.c_custkey").alias("id1"), F.col("b.c_custkey").alias("id2")
    )
    return clique.unionByName(bridge)


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the clique+bridge graph (llmdata/graph.py k_core —
    iterated peeling to fixpoint): partial tail blocks peel over
    SEVERAL rounds (the tail dies first, then the bridge endpoints
    lose their extra degree) and the fixpoint keeps exactly the full
    blocks. Oracle = 12 inlined MATERIALIZED peel rounds (idempotent
    past convergence — fixpoint rounds are no-ops). max_iterations=12
    matches the oracle's bound: a graph that needs more rounds RAISES
    on the Spark side (k_core's non-convergence guard) instead of
    silently diverging from the 12-round oracle (ADVICE r8)."""
    from pydi_spark.llmdata import k_core

    return k_core(_clique_bridge_edges(spark, sf_dir), k=3, max_iterations=12)


def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (llmdata/graph.py
    label_propagation) on the clique+bridge graph: 4 fixed rounds of
    'adopt the most frequent neighbour label, smallest label on ties'.
    Unlike CC (which fuses everything the bridges reach), LPA settles
    on the dense 4-cliques. The oracle replays the SAME 4 synchronous
    rounds (count DESC, label ASC via row_number) — fixed round count
    on both sides, so a structure that needed more rounds changes both
    engines identically (bound-alignment, the graph_kcore lesson)."""
    from pydi_spark.llmdata import label_propagation

    return label_propagation(_clique_bridge_edges(spark, sf_dir), n_iter=4)


def q_io_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted rendezvous-hash shard routing (io/bucketing.py
    rendezvous_shard): every doc goes to the shard owning the max
    md5(key:shard:rep) over 8 virtual nodes (weights 3/2/1/1/1) — the
    stable-under-topology-change alternative to hash-mod sharding. A
    pure map-only expression; the oracle replays the same argmax via
    row_number over identical md5 literals."""
    from pydi_spark.io import rendezvous_shard

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return rendezvous_shard(docs, "doc_id", [3, 2, 1, 1, 1])


def q_profile_numeric_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-distribution drift (profiling/profiler.py
    numeric_drift_report): equi-depth edges from the pre-1998-06 lineitem
    quantity distribution, drifted batch = post-cut lines CAPPED at
    quantity 30 (truncation drift — upper bins collapse). Edges are
    exact discrete quantiles (column elements), bin = #edges strictly
    below, shares exact integer ppm — the oracle replays the rank
    arithmetic and the same strict comparisons."""
    from pydi_spark.profiling import numeric_drift_report

    li = _t(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_shipdate") < F.lit("1998-06-01"))
    b = li.where(
        (F.col("l_shipdate") >= F.lit("1998-06-01"))
        & (F.col("l_quantity") <= 30)
    )
    return numeric_drift_report(a, b, "l_quantity", n_bins=8)


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (llmdata/graph.py
    personalized_pagerank_micro) on the clique+bridge graph with seeds
    = custkey % 20 == 0: walk mass concentrates near seed cliques and
    decays across bridges — the corpus-expansion signal. Oracle = 5
    inlined rounds of the same integer formula with the teleport CASE
    on the seed predicate and (n, s) computed as scalar subqueries."""
    from pydi_spark.llmdata import personalized_pagerank_micro

    edges = _clique_bridge_edges(spark, sf_dir)
    seeds = _t(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 20 == 0
    ).select("c_custkey")
    return personalized_pagerank_micro(edges, seeds, n_iter=5)


def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (events/ops.py event_cooccurrence):
    baskets = (user, epoch day), items = event types; exact integer
    support and lift (one non-negative decimal division — floor ==
    truncate on both engines). The oracle replays the distinct-presence
    self-join with scalar-subquery basket totals."""
    from pydi_spark.events import event_cooccurrence

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "event_type",
    )
    return event_cooccurrence(ev, ["user_id", "day"], "event_type")


def q_events_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (events/ops.py experiment_report):
    variants synthesized from user_id%3 with user_id%97 users split by
    event parity — deliberately CONTAMINATED assignments that must be
    excluded and counted, not averaged in. Exact ppm rates + signed
    uplift vs control; the oracle replays the per-user hygiene
    aggregate and the scalar-subquery control rate."""
    from pydi_spark.events import experiment_report

    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type")
    variant = F.expr(
        "CASE WHEN user_id % 97 = 0 THEN "
        "(CASE WHEN event_id % 2 = 0 THEN 'a' ELSE 'control' END) "
        "ELSE (CASE user_id % 3 WHEN 0 THEN 'control' WHEN 1 THEN 'a' "
        "ELSE 'b' END) END"
    )
    return experiment_report(
        ev.withColumn("variant", variant), "variant", "purchase"
    )


def q_profile_value_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run-length encoding (profiling/profiler.py
    value_runs): per customer, maximal runs of consecutive orders (by
    orderkey) sharing one order status. Oracle = the same double-rank
    island difference in SQL."""
    from pydi_spark.profiling import value_runs

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderstatus"
    )
    return value_runs(orders, ["o_custkey"], "o_orderkey", "o_orderstatus")


def q_profile_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mass-shift change-point (profiling/profiler.py
    changepoint_report) over the 6h resampled per-type event series —
    the same series events_anomalies audits, now asking WHEN the rate
    shifted: argmax_t |cum_share - t/n| in integer ppm, one
    non-negative decimal division, ties to the smallest index. Oracle
    replays the cumsum and the argmax via row_number."""
    from pydi_spark.events import resample_timeseries
    from pydi_spark.profiling import changepoint_report

    ev = _events(spark, sf_dir).select("event_type", "ts")
    series = resample_timeseries(
        ev, key_col="event_type", interval_minutes=360
    )
    return changepoint_report(
        series, ["event_type"], "bucket_start_us", "n_events"
    )


def q_profile_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration (profiling/profiler.py
    gini_concentration) of per-user event counts — how unequal is
    activity? One distributed rank + one aggregate; single
    non-negative division. Oracle replays the rank formula with
    row_number and HUGEINT intermediates."""
    from pydi_spark.profiling import gini_concentration

    counts = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("cnt").cast("double").alias("v"))
    )
    return gini_concentration(counts, "v")


def q_events_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience growth curve (events/ops.py new_users_curve): first-seen
    day per user, zero-filled day grid, cumulative distinct total via
    the distributed running sum. Oracle = the same first-seen rollup
    with a window running sum."""
    from pydi_spark.events import new_users_curve

    return new_users_curve(_events(spark, sf_dir).select("user_id", "ts"))


def q_normalize_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (normalization/robust.py
    k_anonymity_report): equivalence classes over the
    (nation, segment) quasi-identifier with c_acctbal as the sensitive
    attribute, k=50. One aggregate pass; 0/1 BIGINT flags (the
    hash-safety rule). Oracle = the same grouped counts."""
    from pydi_spark.normalization import k_anonymity_report

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment"], k=50,
        sensitive_col="c_acctbal",
    )


def q_normalize_value_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-collision value clustering (normalization/robust.py
    value_cluster_report): three deterministic dirty variants of
    c_mktsegment (lowercased+dot / raw / padded+comma by custkey%3)
    fingerprint to one key per segment; the report lists every variant
    with the most-frequent canonical (ties to the lexicographically
    smallest). The oracle replays the fingerprint with
    regexp_split_to_array + list_sort and the argmax with
    row_number."""
    from pydi_spark.normalization import value_cluster_report

    cust = _t(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    messy = (
        F.when(F.col("c_custkey") % 3 == 0,
               F.concat(F.lower(seg), F.lit(".")))
        .when(F.col("c_custkey") % 3 == 1, seg)
        .otherwise(F.concat(F.lit(" "), seg, F.lit(" ,")))
    )
    return value_cluster_report(cust.select(messy.alias("segment")), "segment")


def q_normalize_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-rank normalization (functions/ranks.py rank_normalize):
    c_acctbal mapped to [0, 1e6] ppm with TIES SHARING a rank
    (min-rank numerator — a row_number transform would split equal
    balances arbitrarily). The cumsum runs distributed
    (global_running_sum over the distinct-value table); the oracle
    replays with SQL rank() whose (rank-1) IS the strictly-below
    count."""
    from pydi_spark.functions import rank_normalize

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return rank_normalize(cust, "c_acctbal")


def q_profile_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (functions/ranks.py top_k_per_group): the 3
    highest-balance customers per nation under the
    (acctbal DESC, custkey) TOTAL order — ties cannot flip across
    engines. One hash exchange + per-group sort; the oracle is the
    row_number replay."""
    from pydi_spark.functions import top_k_per_group

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    return top_k_per_group(
        cust, ["c_nationkey"], [F.desc("c_acctbal"), "c_custkey"], k=3
    )


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (events/ops.py rfm_segments): per-user recency/
    frequency/monetary rolled up in one aggregate, quartile scores from
    the distributed global rank under the (metric, user_id) total order
    (never ntile — engine-specific tie placement), recency inverted so
    4 = most recent. The oracle replays the ranks with row_number and
    the same integer-div tile arithmetic."""
    from pydi_spark.events import rfm_segments

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return rfm_segments(ev)


def q_graph_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural link prediction (llmdata/graph.py
    link_prediction_scores) on the clique+bridge graph: the non-edge
    pairs one bridge apart share 1-2 neighbours, so the output ranks
    exactly the cross-block links a densifier would propose. All-integer
    scores: common-neighbour count, Jaccard ppm, Resource-Allocation
    micro (1e6 div deg summed — the integer-exact Adamic-Adar stand-in),
    preferential attachment. Oracle = the same wedge enumeration as
    independent SQL (adjacency self-join through the shared centre,
    NOT EXISTS anti-join on the edge set)."""
    from pydi_spark.llmdata import link_prediction_scores

    return link_prediction_scores(_clique_bridge_edges(spark, sf_dir))


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius multi-source BFS (llmdata/graph.py bfs_hops) on
    the clique+bridge graph from the custkey%20 seed set (same seeds as
    graph_ppr — BFS certifies the proximity PPR weights): exact
    shortest hop counts 0-3, farther nodes absent. Oracle = 3 inlined
    level-synchronous rounds (frontier join, NOT IN visited union) —
    fixed bound on both sides, the k_core bound-alignment rule."""
    from pydi_spark.llmdata import bfs_hops

    edges = _clique_bridge_edges(spark, sf_dir)
    seeds = _t(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 20 == 0
    ).select("c_custkey")
    return bfs_hops(edges, seeds, max_hops=3)


def q_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank (llmdata/graph.py weighted_pagerank_micro)
    on the clique+bridge graph with deterministic integer weights
    1 + (id1+id2)%3: mass concentrates along heavy edges. Oracle = 5
    inlined rounds of the weight-proportional floor share
    (rank*w) div Σw — the _ppr_oracle_sql chain scheme with a weighted
    contribution term."""
    from pydi_spark.llmdata import weighted_pagerank_micro

    edges = _clique_bridge_edges(spark, sf_dir).withColumn(
        "weight", (F.col("id1") + F.col("id2")) % 3 + 1
    )
    return weighted_pagerank_micro(edges, n_iter=5)


def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (llmdata/graph.py hits_micro) on the
    directed bipartite user -> event-type graph: curator users vs
    endorsed types, 4 fixed rounds, each half renormalized to n*1e6
    with one non-negative decimal division. Oracle = 4 inlined rounds
    with scalar-subquery totals (MATERIALIZED per half — the
    graph_kcore chain pattern)."""
    from pydi_spark.llmdata import hits_micro

    ev = _events(spark, sf_dir).where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("src"),
        F.concat(F.lit("t"), F.col("event_type")).alias("dst"),
    )
    return hits_micro(edges, n_iter=4)


def q_text_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-phrase search (llmdata/search.py phrase_match):
    occurrences of the phrase 'batch batch' — a REPEATED-term phrase,
    so overlapping matches ('batch batch batch' -> 2) exercise the
    positional semantics substring-replace counting would get wrong.
    The oracle replays the position normalization (base = pos - slot)
    independently over a DuckDB lateral ordinality unnest."""
    from pydi_spark.llmdata import phrase_match

    docs = _t(spark, sf_dir, "documents")
    return phrase_match(docs, "batch batch")


def q_profile_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-run detection in a surrogate-key sequence
    (profiling/profiler.py find_sequence_gaps): deterministic holes
    punched at o_orderkey % 97 in (3,5,11), gaps recovered via one
    lead window over the distinct-value table."""
    from pydi_spark.profiling import find_sequence_gaps

    keys = _t(spark, sf_dir, "orders").where(
        ~(F.col("o_orderkey") % 97).isin(3, 5, 11)
    ).select("o_orderkey")
    return find_sequence_gaps(keys, "o_orderkey")


def q_events_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust median/MAD outlier flags over the 6h resampled event-rate
    series (profiling/profiler.py detect_anomalies on
    events/ops.py resample_timeseries): two exact grouped-median
    passes, all-integer deviation threshold |v-med|*den > num*mad."""
    from pydi_spark.events import resample_timeseries
    from pydi_spark.profiling import detect_anomalies

    ev = _events(spark, sf_dir).select("event_type", "ts")
    series = resample_timeseries(
        ev, key_col="event_type", interval_minutes=360
    )
    return detect_anomalies(series, ["event_type"], "n_events", k_num=2)


def q_io_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic small-file bin packing (io/compaction.py
    plan_compaction): synthetic file list derived from supplier keys,
    order-preserving exclusive-cumsum binning, >= target files left
    alone (NULL bin)."""
    from pydi_spark.io import plan_compaction

    files = _t(spark, sf_dir, "supplier").select(
        F.concat(
            F.lit("part-"),
            F.lpad(F.col("s_suppkey").cast("string"), 6, "0"),
        ).alias("path"),
        ((F.col("s_suppkey") * 7919) % 100000).cast("long").alias(
            "size_bytes"
        ),
    )
    return plan_compaction(files, 60000)


def q_sample_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-recipe planning (llmdata/sampling.py plan_data_mixture):
    char-budget quotas and repeat factors per source, all-integer
    (quota = budget*w div 1e6; epochs_milli = quota*1000 div
    available)."""
    from pydi_spark.llmdata import plan_data_mixture

    docs = _t(spark, sf_dir, "documents")
    return plan_data_mixture(
        docs,
        {"src0": 400_000, "src1": 300_000, "src2": 200_000,
         "src3": 100_000},
        budget=50_000,
        count_col="n_chars",
    )


def q_sample_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture materialization (llmdata/sampling.py epoch_expand):
    full copies via sequence explode + md5-fraction fractional epoch —
    the temperature_mix keep rule, so the oracle replays the exact row
    set."""
    from pydi_spark.llmdata import epoch_expand

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return epoch_expand(
        docs, {"src0": 2500, "src1": 1000, "src2": 300}
    )


def q_normalize_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy value canonicalization (normalization/canonicalize.py):
    deterministic typo-variants (md5-prefix bases x 5 suffix variants,
    bases >= 2 edits apart) collapse onto the lexicographic-minimum
    spelling via edit join + connected components. The oracle is an
    independent characterization: brute-force levenshtein pairs +
    recursive transitive closure."""
    from pydi_spark.normalization import canonicalize_values

    base = _t(spark, sf_dir, "customer").select(
        F.concat(
            F.substring(
                F.md5(
                    F.expr(
                        "cast(cast(c_custkey div 5 as string) as binary)"
                    )
                ),
                1, 8,
            ),
            F.element_at(
                F.array(
                    F.lit(""), F.lit("a"), F.lit("b"), F.lit("z"),
                    F.lit("aa"),
                ),
                (F.col("c_custkey") % 5 + 1).cast("int"),
            ),
        ).alias("city")
    )
    return canonicalize_values(base, "city", max_distance=1)


def q_eval_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the customer grouping of orders and
    a perturbed gold grouping (every 7th order absorbed into a noise
    cluster) — pure integer pair-counting combinatorics
    (evaluation/matching_eval.py adjusted_rand_index)."""
    from pydi_spark.evaluation import adjusted_rand_index

    orders = _t(spark, sf_dir, "orders")
    pred = orders.select(
        F.col("o_orderkey").alias("record_id"),
        F.col("o_custkey").alias("cluster_id"),
    )
    gold = orders.select(
        F.col("o_orderkey").alias("record_id"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(-1))
        .otherwise(F.col("o_custkey"))
        .alias("cluster_id"),
    )
    return adjusted_rand_index(pred, gold)


def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram table for the rule matcher's scores vs the
    account-balance gold (evaluation/matching_eval.py
    calibration_table): decile buckets, exact integer precision."""
    from pydi_spark.evaluation import calibration_table

    corr = _rule_corr(spark, sf_dir).select(
        "id1", "id2", F.round("score", 6).alias("score")
    )
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    gold = supp.join(cust, supp["s_nationkey"] == cust["c_nationkey"]).select(
        F.col("s_suppkey").cast("string").alias("id1"),
        F.col("c_custkey").cast("string").alias("id2"),
        (F.abs(F.col("s_acctbal") - F.col("c_acctbal")) < 2000)
        .cast("int")
        .alias("label"),
    )
    return calibration_table(corr, gold, n_buckets=10)


def q_profile_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-pattern distribution over deterministically punched
    nulls (profiling/profiler.py null_pattern_report): exact bitmask
    counts, one groupBy bounded by patterns present."""
    from pydi_spark.profiling import null_pattern_report

    base = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(F.col("l_quantity")).alias("qty"),
        F.when(F.col("l_orderkey") % 11 == 0, None)
        .otherwise(F.col("l_discount")).alias("disc"),
        F.when(F.col("l_orderkey") % 13 == 0, None)
        .otherwise(F.col("l_returnflag")).alias("flag"),
    )
    return null_pattern_report(base, ["qty", "disc", "flag"])


def q_tpch_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide conditional aggregation): order counts and
    exact decimal price sums per priority, pivoted on order status.
    Explicit pivot values keep the output schema deterministic; the
    oracle replays with portable conditional sums."""
    orders = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(price).cast("double").alias("sum_price"),
        )
    )
    return out.select(
        F.col("o_orderpriority").alias("priority"),
        F.coalesce(F.col("F_n"), F.lit(0)).alias("f_n"),
        F.coalesce(F.col("F_sum_price"), F.lit(0.0)).alias("f_sum"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("o_n"),
        F.coalesce(F.col("O_sum_price"), F.lit(0.0)).alias("o_sum"),
        F.coalesce(F.col("P_n"), F.lit(0)).alias("p_n"),
        F.coalesce(F.col("P_sum_price"), F.lit(0.0)).alias("p_sum"),
    )


def q_normalize_parsers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed parsers (boolean/percentage/url/phone) over crafted strings."""
    from pydi_spark.normalization.parsers import (
        extract_domain,
        normalize_phone,
        parse_boolean,
        parse_percentage,
    )

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("k"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("yes")).otherwise(F.lit("Non")).alias("b_raw"),
        F.concat((F.col("c_custkey") % 97).cast("string"), F.lit("%")).alias("p_raw"),
        F.concat(F.lit("WWW.Shop"), (F.col("c_custkey") % 7).cast("string"),
                 F.lit(".example.COM/x/")).alias("u_raw"),
        F.concat(F.lit("+1 (555) 0"), F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
                 F.lit("-22")).alias("ph_raw"),
    )
    return cust.select(
        "k",
        parse_boolean("b_raw").cast("int").alias("b"),
        F.round(parse_percentage("p_raw"), 6).alias("pct"),
        extract_domain("u_raw").alias("domain"),
        normalize_phone("ph_raw").alias("phone"),
    )


def q_eval_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.evaluation import threshold_sweep

    corr = _rule_corr(spark, sf_dir).select(
        "id1", "id2", F.round("score", 6).alias("score")
    )
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    gold = (
        supp.join(cust, supp["s_nationkey"] == cust["c_nationkey"])
        .select(
            F.col("s_suppkey").cast("string").alias("id1"),
            F.col("c_custkey").cast("string").alias("id2"),
            (F.abs(F.col("s_acctbal") - F.col("c_acctbal")) < 2000).cast("int").alias("label"),
        )
    )
    out = threshold_sweep(corr, gold, [0.0, 0.25, 0.5, 0.75, 0.9])
    return out.select(
        "threshold", "tp", "fp", "fn",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k, oracle-checked via an exhaustive probe: with
    nprobe = n_centroids every cell is probed, so the IVF machinery
    (k-means assignment, cell equi-join, dedup, exact re-score, ranking)
    must reproduce the exact brute-force top-k — which IS SQL-expressible.
    The approximate regime (nprobe < n_centroids) keeps its recall-bound
    property test in tests/test_llmdata.py (k-means training itself isn't
    SQL-expressible)."""
    from pydi_spark.llmdata import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    out = ivf_topk(emb, queries_df, k=10, n_centroids=8, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def _rule_corr_prefixed(
    spark: SparkSession, sf_dir: str, nation: int | None = None
) -> DataFrame:
    """_rule_corr with 's'/'c' id prefixes: single-namespace clusterers
    (CENTER, hierarchical) key assignments by record id, so the supplier
    and customer key ranges must not collide. Optional nation slice keeps
    the driver-side sequential sweeps small."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.functions.comparators import NumericComparator, StringComparator
    from pydi_spark.matching import RuleBasedMatcher

    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    if nation is not None:
        supp = supp.where(F.col("s_nationkey") == nation)
        cust = cust.where(F.col("c_nationkey") == nation)
    supp = supp.select(
        F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("rid"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
        F.col("s_nationkey").alias("k"),
    )
    cust = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_nationkey").alias("k"),
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    matcher = RuleBasedMatcher(
        comparators=[
            (StringComparator("name", "levenshtein"), 0.5),
            (NumericComparator("bal", max_difference=5000.0), 0.5),
        ]
    )
    return matcher.match(supp, cust, pairs, threshold=0.0, id_column="rid")


def _rule_corr_prefixed_sql(nation: int | None = None) -> str:
    flt = f" WHERE s_nationkey = {nation}" if nation is not None else ""
    flt_c = f" WHERE c_nationkey = {nation}" if nation is not None else ""
    return f"""
WITH ps AS (SELECT 's' || CAST(s_suppkey AS VARCHAR) id1, s_name n1, s_acctbal b1, s_nationkey k FROM supplier{flt}),
     pc AS (SELECT 'c' || CAST(c_custkey AS VARCHAR) id2, c_name n2, c_acctbal b2, c_nationkey k FROM customer{flt_c})
SELECT id1, id2,
       0.5 * (1.0 - levenshtein(n1, n2)::DOUBLE / greatest(length(n1), length(n2)))
     + 0.5 * greatest(0.0, 1.0 - abs(b1 - b2) / 5000.0) AS score
FROM ps JOIN pc USING (k)
"""


def q_cluster_greedy_one_to_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact driver-side greedy sweep. The oracle replays it as iterated
    mutual-best acceptance (a recursive CTE): with the deterministic
    (score desc, id1, id2) total order, an edge is accepted by the
    sequential greedy iff it is the order-minimum among remaining edges
    sharing either endpoint — the two formulations produce identical
    matchings."""
    from pydi_spark.clustering import GreedyOneToOneMatcher

    corr = (
        _rule_corr(spark, sf_dir)
        .where(F.col("score") >= 0.5)
        .select("id1", "id2", F.round("score", 6).alias("score"))
    )
    return GreedyOneToOneMatcher().cluster(corr)


def q_cluster_centre(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTER star clustering; the oracle simulates the sequential sweep
    one edge per recursive-CTE iteration (direct state-machine replay)."""
    from pydi_spark.clustering import CentreClusterer

    corr = (
        _rule_corr_prefixed(spark, sf_dir)
        .where(F.col("score") >= 0.7)
        .select("id1", "id2", F.round("score", 6).alias("score"))
    )
    return CentreClusterer().assign(corr)


def q_cluster_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-linkage (MIN) agglomerative clustering with a similarity
    floor. Checked against an independent characterization: single
    linkage at threshold t partitions nodes into the connected components
    of the >= t edge subgraph (transitive-closure oracle)."""
    from pydi_spark.clustering import HierarchicalClusterer

    corr = (
        _rule_corr_prefixed(spark, sf_dir, nation=3)
        .where(F.col("score") >= 0.5)
        .select("id1", "id2", F.round("score", 6).alias("score"))
    )
    return HierarchicalClusterer(linkage="MIN", min_similarity=0.65).assign(corr)


def _hier_triangle_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISJOINT-TRIANGLE correspondence fixture with forced-unique
    agglomerative merge order (the r8 cluster_max_bipartite pattern:
    engineer the input so the optimum/merge sequence is unique, then
    the sequential solver's exact output is SQL-characterizable).
    Customers rank-blocked into triangles of 3 per nation (first two
    full blocks, partial blocks dropped); each triangle (a<b<c) gets
    edges (a,b)=s1 > (a,c)=s2 > (b,c)=s3 — strictly distinct WITHIN the
    triangle, exact sixteenths (cross-engine float-exact), regime
    m=(2*nation+blk)%5 choosing the band layout vs threshold 0.5:
      m=0 (.875,.75,.625)   all>t          -> MAX & AVG merge all
      m=1 (.875,.75,.125)   avg(s2,s3)<t   -> both stop at top pair
      m=2 (.875,.8125,.3125) avg=.5625>t   -> AVG merges all, MAX stops
                                              (the linkage separator)
      m=3 (.875,.25,.125)   s2<t           -> both stop at top pair
      m=4 (.375,.25,.125)   s1<t           -> all singletons
    Triangles are mutually edge-free, so cross-triangle cluster_sim is
    None (never a merge candidate) and per-triangle outcomes compose
    independently of the global merge interleave."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    r = (
        cust.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 6)
        .withColumn("blk", F.expr("CAST((rk - 1) div 3 AS INT)"))
        .withColumn("pos", F.expr("(rk - 1) % 3"))
        .withColumn("id", F.format_string("C%07d", F.col("c_custkey")))
    )
    tri = (
        r.groupBy("c_nationkey", "blk")
        .agg(
            F.min(F.when(F.col("pos") == 0, F.col("id"))).alias("a"),
            F.min(F.when(F.col("pos") == 1, F.col("id"))).alias("b"),
            F.min(F.when(F.col("pos") == 2, F.col("id"))).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") == 3)
        .withColumn("m", F.expr("(c_nationkey * 2 + blk) % 5"))
    )
    s1 = F.expr("CASE WHEN m = 4 THEN 0.375D ELSE 0.875D END")
    s2 = F.expr(
        "CASE WHEN m IN (0, 1) THEN 0.75D WHEN m = 2 THEN 0.8125D "
        "ELSE 0.25D END"
    )
    s3 = F.expr(
        "CASE WHEN m = 0 THEN 0.625D WHEN m = 2 THEN 0.3125D "
        "ELSE 0.125D END"
    )
    return (
        tri.select(F.col("a").alias("id1"), F.col("b").alias("id2"), s1.alias("score"))
        .unionByName(tri.select(F.col("a").alias("id1"), F.col("c").alias("id2"), s2.alias("score")))
        .unionByName(tri.select(F.col("b").alias("id1"), F.col("c").alias("id2"), s3.alias("score")))
    )


def q_cluster_hierarchical_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-linkage (MAX) agglomerative clustering on the forced-
    unique triangle fixture (reference semantics:
    hierarchical_clusterer.py:21-323 — cluster similarity = MIN over
    present cross-pairs). Retires the last §2 'order-dependent, no
    oracle' excuse (VERDICT r8 #4): with strictly distinct
    within-triangle sims the merge order is unique, so the oracle can
    state the exact expected partition per regime — MAX merges the
    whole triangle only at m=0 (s3 > t); m=1-3 stop at the top pair
    (min over cross-pairs dips below t); m=4 stays singletons."""
    from pydi_spark.clustering import HierarchicalClusterer

    corr = _hier_triangle_corr(spark, sf_dir)
    return HierarchicalClusterer(linkage="MAX", min_similarity=0.5).assign(corr)


def q_cluster_hierarchical_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average-linkage (AVG) agglomerative clustering on the same
    fixture. The m=2 regime separates AVG from MAX: avg(s2,s3)=0.5625
    clears the 0.5 floor while min(s2,s3)=0.3125 does not, so AVG
    merges the full triangle where MAX stops — the oracle pins exactly
    that divergence (sums of exact sixteenths: float-exact on both
    engines)."""
    from pydi_spark.clustering import HierarchicalClusterer

    corr = _hier_triangle_corr(spark, sf_dir)
    return HierarchicalClusterer(linkage="AVG", min_similarity=0.5).assign(corr)


def q_cluster_cc_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pins strategy='distributed' so the large-star/small-star rounds
    (not the driver union-find path) are what the oracle checks."""
    from pydi_spark.clustering import connected_components

    _, edges = _orders_datasets(spark, sf_dir)
    return connected_components(edges.select("id1", "id2"), strategy="distributed")


def q_cluster_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.evaluation import cluster_consistency_report

    _, edges = _orders_datasets(spark, sf_dir)
    rep = cluster_consistency_report(edges.select("id1", "id2", "score"))
    return rep.select("cluster_id", "n_entities", "n_edges", "consistency")


def q_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.clustering import connected_components
    from pydi_spark.evaluation import cluster_size_distribution

    _, edges = _orders_datasets(spark, sf_dir)
    comps = connected_components(edges.select("id1", "id2"))
    return cluster_size_distribution(
        comps.select("cluster_id", "record_id")
    )


def q_schema_label_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.schemamatching import LabelBasedSchemaMatcher

    supp = Dataset.wrap(_t(spark, sf_dir, "supplier"), "supplier", id_column="s_suppkey")
    cust = Dataset.wrap(_t(spark, sf_dir, "customer"), "customer", id_column="c_custkey")
    out = LabelBasedSchemaMatcher("jaccard").match(supp, cust, threshold=0.1)
    return out.select(
        "source_column", "target_column", F.round("score", 6).alias("score")
    )


def q_schema_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SchemaMappingEvaluator P/R/F1 (reference: schemamatching/
    evaluation.py) over the label-based matcher's supplier->customer
    correspondences vs a fixed gold that includes one unreachable pair
    (the id columns, which the matcher excludes) — recall is
    deliberately < 1. Driver-side set algebra over column-count-sized
    inputs; ratios are single int/int divisions."""
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.schemamatching import (
        LabelBasedSchemaMatcher,
        SchemaMappingEvaluator,
    )

    supp = Dataset.wrap(_t(spark, sf_dir, "supplier"), "supplier", id_column="s_suppkey")
    cust = Dataset.wrap(_t(spark, sf_dir, "customer"), "customer", id_column="c_custkey")
    corr = LabelBasedSchemaMatcher("jaccard").match(supp, cust, threshold=0.1)
    gold = spark.createDataFrame(
        [
            ("s_name", "c_name"),
            ("s_nationkey", "c_nationkey"),
            ("s_acctbal", "c_acctbal"),
            ("s_suppkey", "c_custkey"),
        ],
        "source_column string, target_column string",
    )
    m = SchemaMappingEvaluator.evaluate(corr, gold)
    return spark.createDataFrame(
        [(int(m["tp"]), int(m["fp"]), int(m["fn"]),
          m["precision"], m["recall"], m["f1"])],
        "tp int, fp int, fn int, precision double, recall double, f1 double",
    )


def q_schema_llm_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLMBasedSchemaMatcher plumbing (markdown sample render -> chat
    prompt -> JSON parse -> mapping; reference schemamatching/
    llm_based.py:32-583) through the deterministic value-overlap fake.
    Both sides are pre-limited 5-row sorted samples of string columns,
    so the matcher's internal limit is the identity and the sampled
    value sets are exactly SQL-reproducible (asc vs desc custkey order
    makes the segment overlap differential)."""
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.schemamatching import LLMBasedSchemaMatcher

    cust = _t(spark, sf_dir, "customer")
    src = Dataset.wrap(
        cust.orderBy("c_custkey")
        .limit(5)
        .select(
            F.col("c_mktsegment").alias("seg_a"), F.col("c_name").alias("name_a")
        ),
        "src",
    )
    tgt = Dataset.wrap(
        cust.orderBy(F.desc("c_custkey"))
        .limit(5)
        .select(
            F.col("c_mktsegment").alias("seg_b"), F.col("c_name").alias("name_b")
        ),
        "tgt",
    )
    out = LLMBasedSchemaMatcher().match(src, tgt, threshold=0.05)
    return out.select(
        "source_column", "target_column", F.round("score", 4).alias("score")
    )


def q_schema_instance_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-frequency cosine column profiles; max_sample_size is set above
    any test SF's row count so the (seeded, partition-dependent) sampling
    path never fires and the profiles are exactly SQL-reproducible."""
    from pydi_spark.schemamatching import InstanceBasedSchemaMatcher

    part = _t(spark, sf_dir, "part").select("p_name", "p_brand", "p_type")
    cust = _t(spark, sf_dir, "customer").select("c_name", "c_mktsegment")
    out = InstanceBasedSchemaMatcher(max_sample_size=10_000_000).match(
        part, cust, threshold=0.0
    )
    return out.select(
        "source_column", "target_column", F.round("score", 6).alias("score")
    )


class _SigmoidLinearModel:
    """Deterministic sklearn-shaped stand-in: predict_proba[:,1] =
    sigmoid(w.x + b). Cloudpickled by value to executors like any fitted
    model (reference: PyDI/entitymatching/ml_based.py:21-496)."""

    def __init__(self, weights, bias):
        self.weights, self.bias = list(weights), float(bias)

    def predict_proba(self, X):
        import numpy as np

        z = np.asarray(X, dtype=np.float64) @ np.asarray(self.weights) + self.bias
        p = 1.0 / (1.0 + np.exp(-z))
        return np.stack([1.0 - p, p], axis=1)


def q_match_ml_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLBasedMatcher end to end (feature extraction -> broadcast model ->
    Arrow-batch scoring) with a deterministic linear model, so the score
    is the closed form sigmoid(2*lev_sim + 1*bal_sim - 1.5) — plain SQL."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.functions.comparators import NumericComparator, StringComparator
    from pydi_spark.matching import MLBasedMatcher
    from pydi_spark.matching.feature_extraction import FeatureExtractor

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"), F.col("s_nationkey").alias("k"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"), F.col("c_nationkey").alias("k"),
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    fx = FeatureExtractor(
        [
            StringComparator("name", "levenshtein"),
            NumericComparator("bal", max_difference=5000.0),
        ]
    )
    matcher = MLBasedMatcher(fx, _SigmoidLinearModel([2.0, 1.0], -1.5))
    out = matcher.match(supp, cust, pairs, threshold=0.5, id_column="rid")
    return out.select("id1", "id2", F.round("score", 6).alias("score"))


def q_eval_ie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexExtractor predictions vs a crafted gold with injected
    mismatches/misses -> per-attribute + micro/macro P/R/F1. Ratios are
    emitted unrounded: both engines build them from identical integer
    counts with identical division trees."""
    from pydi_spark.extraction.evaluation import InformationExtractionEvaluator
    from pydi_spark.extraction.regex import RegexExtractor

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.concat(
            F.lit("contact user"),
            (F.col("c_custkey") % 50).cast("string"),
            F.when(F.col("c_custkey") % 5 != 0, F.lit("@mail.example.com")).otherwise(
                F.lit(" at mail")
            ),
            F.lit(" ref "),
            (F.col("c_custkey") % 997).cast("string"),
        ).alias("text"),
    )
    pred = RegexExtractor(
        {
            "email": {"pattern": r"(\S+@\S+\.[a-z]+)", "source_column": "text"},
            "ref_code": {"pattern": r"ref (\d+)", "source_column": "text"},
        }
    ).extract(cust).select("k", "email", "ref_code")
    gold = cust.select(
        "k",
        F.when(
            F.col("k") % 10 == 0, F.lit("missing@gold.example")  # pred null -> fn
        )
        .when(F.col("k") % 5 == 0, F.lit(None))  # both null -> not counted
        .when(F.col("k") % 9 == 0, F.lit("wrong@example.org"))  # mismatch -> fp
        .otherwise(
            F.concat(
                F.lit("user"), (F.col("k") % 50).cast("string"),
                F.lit("@mail.example.com"),
            )
        )
        .alias("email"),
        F.when(F.col("k") % 7 == 0, F.lit("-1"))  # mismatch -> fp
        .otherwise((F.col("k") % 997).cast("string"))
        .alias("ref_code"),
    )
    ev = InformationExtractionEvaluator().evaluate(pred, gold, "k", ["email", "ref_code"])
    rows = []
    for a in ("email", "ref_code"):
        m = ev["per_attribute"][a]
        rows.append(
            (a, m["tp"], m["fp"], m["fn"], m["precision"], m["recall"], m["f1"])
        )
    mi = ev["micro"]
    rows.append(
        (
            "micro",
            sum(ev["per_attribute"][a]["tp"] for a in ("email", "ref_code")),
            sum(ev["per_attribute"][a]["fp"] for a in ("email", "ref_code")),
            sum(ev["per_attribute"][a]["fn"] for a in ("email", "ref_code")),
            mi["precision"], mi["recall"], mi["f1"],
        )
    )
    rows.append(("macro", None, None, None, None, None, ev["macro"]["f1"]))
    return spark.createDataFrame(
        rows,
        "attribute string, tp long, fp long, fn long, "
        "precision double, recall double, f1 double",
    )


def q_outlier_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zscore / modified-zscore bounds + flagged counts on c_acctbal
    (iqr stays pytest-only: percentile_approx is approximate by design)."""
    from pydi_spark.normalization.detectors import flag_outliers, outlier_bounds

    cust = _t(spark, sf_dir, "customer")
    rows = []
    for method, thr in (("zscore", 2.0), ("modified_zscore", 3.5)):
        lo, hi = outlier_bounds(cust, "c_acctbal", method, thr)
        n = (
            flag_outliers(cust, "c_acctbal", method, thr)
            .where("c_acctbal_is_outlier")
            .count()
        )
        rows.append((method, round(lo, 4), round(hi, 4), n))
    return spark.createDataFrame(
        rows, "method string, lo double, hi double, n_outliers long"
    )


_MOVIES = [
    ("The Matrix", "1999-03-31", "Wachowski"),
    ("Heat", "1995-12-15", "Michael Mann"),
    ("Blade Runner", "1982-06-25", "Ridley Scott"),
    ("Alien", "1979-05-25", "Ridley Scott"),
    ("Casablanca", "1942-11-26", "Michael Curtiz"),
    ("Goodfellas", "1990-09-19", "Martin Scorsese"),
]


def q_movies_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference movies tutorial flow on deterministic fixtures
    (schema-match -> translate -> normalize -> block -> rule-match ->
    evaluate): the published metrics are pair_completeness 1.0 and
    matching P/R/F1 1.0 (reference docs/tutorial/output/movies/
    blocking-evaluation/blocking_evaluation_summary.json). Fixture-based,
    sf-independent."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.evaluation import evaluate_blocking, evaluate_matching
    from pydi_spark.functions.comparators import StringComparator
    from pydi_spark.matching import RuleBasedMatcher
    from pydi_spark.schemamatching import LabelBasedSchemaMatcher
    from pydi_spark.translation import MappingTranslator

    a_rows = [(f"actors-{i:04d}", t, d, y) for i, (t, y, d) in enumerate(_MOVIES[:4])]
    src_a = Dataset.wrap(
        spark.createDataFrame(
            a_rows, "id string, title string, director_name string, date string"
        ),
        "actors", id_column="id",
    )
    b_rows = [
        (f"awards-{i:04d}", t.upper() + "!", d, y[:4] + "-01-01")
        for i, (t, y, d) in enumerate(_MOVIES)
    ]
    src_b = Dataset.wrap(
        spark.createDataFrame(
            b_rows,
            "id string, movie_title string, director string, release_date string",
        ),
        "awards", id_column="id",
    )
    gold = spark.createDataFrame(
        [(f"actors-{i:04d}", f"awards-{i:04d}", 1) for i in range(4)]
        + [(f"actors-{i:04d}", f"awards-{(i + 1) % 6:04d}", 0) for i in range(4)],
        "id1 string, id2 string, label int",
    )
    mapping = LabelBasedSchemaMatcher("jaccard").match(src_b, src_a, threshold=0.3)
    src_b_t = MappingTranslator().translate(src_b, mapping)
    clean = F.trim(F.regexp_replace(F.lower(F.col("title")), r"[^\p{L}\p{N}\s]", ""))
    a_df = src_a.df.withColumn("title_norm", clean).withColumn(
        "__bk", F.substring("title_norm", 1, 4)
    )
    b_df = src_b_t.df.withColumn("title_norm", clean).withColumn(
        "__bk", F.substring("title_norm", 1, 4)
    )
    cands = StandardBlocker(on=["__bk"]).block(a_df, b_df, id_column="id")
    bl = evaluate_blocking(cands, gold, 4, 6).collect()[0]
    corr = RuleBasedMatcher(
        comparators=[(StringComparator("title_norm", "jaccard"), 1.0)]
    ).match(a_df, b_df, cands, threshold=0.7, id_column="id")
    mt = evaluate_matching(corr, gold).collect()[0]
    return spark.createDataFrame(
        [
            (
                bl["pair_completeness"], bl["reduction_ratio"],
                bl["total_candidates"],
                mt["precision"], mt["recall"], mt["f1"],
            )
        ],
        "pair_completeness double, reduction_ratio double, total_candidates long, "
        "precision double, recall double, f1 double",
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the distributed LSH path
    (`embedding_near_duplicates`, EmbeddingBlocker method='lsh'). The
    seeded hyperplanes are deterministic, so the oracle regenerates them
    as literals and replays signature -> band join -> float64 cosine ->
    threshold -> self-join orientation (id1 < id2, string order)."""
    from pydi_spark.llmdata import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_duplicates(
        emb, vec_col="embedding", id_col="vec_id", threshold=0.3, method="lsh"
    )
    return out.select("id1", "id2", F.round("cosine", 6).alias("cosine"))


def _dedup_embedding_oracle_sql() -> str:
    """SQL replay of EmbeddingBlocker(method='lsh', lsh_bits=16,
    lsh_bands=4, seed=42) self-join at threshold 0.3 (same hyperplane
    regeneration as _ann_lsh_oracle_sql; top_k=1000 never binds at
    n=500 neighbours so the rank stage is omitted)."""
    import numpy as np

    bits, bands, seed, dim = 16, 4, 42, 64
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, dim))
    bit_exprs = []
    for j in range(bits):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[j]) + "]"
        bit_exprs.append(
            f"CASE WHEN list_dot_product(e, {lit}) >= 0 THEN '1' ELSE '0' END AS b{j}"
        )
    split = np.array_split(np.arange(bits), bands)
    band_exprs = ", ".join(
        "'" + str(bi) + ":' || " + " || ".join(f"b{j}" for j in band)
        for bi, band in enumerate(split)
    )
    return f"""
WITH v AS (SELECT CAST(vec_id AS VARCHAR) rid, embedding::DOUBLE[] e FROM embeddings),
sig AS (SELECT rid, e, {", ".join(bit_exprs)} FROM v),
bnd AS (SELECT rid, unnest([{band_exprs}]) AS band_key FROM sig),
cand AS (
  SELECT DISTINCT a.rid AS id1, b.rid AS id2
  FROM bnd a JOIN bnd b USING (band_key)
  WHERE a.rid < b.rid
),
scored AS (
  SELECT id1, id2, list_cosine_similarity(av.e, bv.e) AS cos
  FROM cand JOIN v av ON av.rid = cand.id1 JOIN v bv ON bv.rid = cand.id2
)
SELECT id1, id2, round(cos, 6) AS cosine FROM scored WHERE cos >= 0.3
"""


def _semantic_centroids() -> list[list[float]]:
    """8 unit-norm random centroids from seed 7 — regenerated with the
    identical numpy code in the oracle builder (the ann_lsh hyperplane
    pattern) so both engines see the same double literals. The k-means
    training path of semantic_dedup_pairs is pytest-covered (sampling
    is not SQL-replayable)."""
    import numpy as np

    rng = np.random.default_rng(7)
    C = rng.standard_normal((8, 64))
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    return [[float(x) for x in row] for row in C]


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-scoped embedding dedup: nearest-centroid
    assignment (injected centroids), within-cluster pairwise cosine at
    threshold 0.3. Cluster scoping makes the pair set a strict subset
    of dedup_embedding's LSH pairs — the differential signal here."""
    from pydi_spark.llmdata.dedup import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(
        emb, threshold=0.3, centroids=_semantic_centroids()
    )
    return pairs.select(
        "cell", "id1", "id2", F.round("cosine", 6).alias("cosine")
    )


def _dedup_semantic_oracle_sql() -> str:
    """SQL replay of semantic_dedup_pairs with the seed-7 centroids
    inlined as double literals: rank-1 nearest-centroid assignment,
    within-cell self-join, exact cosine threshold — identical float64
    expression trees on both engines (list_cosine_similarity matches
    the native cosine_expr fold bit-for-bit, proven by the ann/
    dedup_embedding oracles)."""
    cents = ", ".join(
        "(" + str(i) + ", ["
        + ", ".join(repr(x) for x in c)
        + "]::DOUBLE[])"
        for i, c in enumerate(_semantic_centroids())
    )
    return f"""
WITH v AS (SELECT CAST(vec_id AS VARCHAR) rid, embedding::DOUBLE[] e FROM embeddings),
cent AS (SELECT * FROM (VALUES {cents}) AS t(cell, c)),
scored AS (
  SELECT rid, e, cell, list_cosine_similarity(e, c) AS cos
  FROM v CROSS JOIN cent
),
assigned AS (
  SELECT rid, e, cell FROM scored
  QUALIFY row_number() OVER (PARTITION BY rid ORDER BY cos DESC, cell) = 1
),
pairs AS (
  SELECT a.cell AS cell, a.rid AS id1, b.rid AS id2,
         list_cosine_similarity(a.e, b.e) AS cos
  FROM assigned a JOIN assigned b USING (cell)
  WHERE a.rid < b.rid
)
SELECT cell, id1, id2, round(cos, 6) AS cosine FROM pairs WHERE cos >= 0.3
"""


def q_streaming_stateful_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL-stateful first-seen dedup (`stateful_dedup_ttl`,
    applyInPandasWithState) driven as a real bounded stream. Key-only
    projection: WHICH row of a key is emitted first depends on
    micro-batch internals, but the emitted key set is exactly the
    distinct keys — that is what the oracle checks."""
    from pydi_spark.streaming.dedup import run_stream_from_parquet, stateful_dedup_ttl

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    got = run_stream_from_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: stateful_dedup_ttl(s, ["user_id"]),
        output_mode="append",
        query_name="q_ttl_dedup_contract",
    )
    return got.select("user_id")


def q_fusion_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-fusion conflict analysis (`detect_attribute_conflicts`):
    per attribute, how many merged groups hold >1 distinct value.
    Groups = connected components of the per-customer order chains, so
    the oracle groups by o_custkey over orders that appear in edges."""
    from pydi_spark.fusion.analysis import detect_attribute_conflicts

    datasets, edges = _orders_datasets(spark, sf_dir)
    out = detect_attribute_conflicts(
        datasets, edges,
        attributes=["o_orderstatus", "o_orderpriority", "o_totalprice"],
    )
    # conflict_rate is int/int division — bit-identical across engines,
    # no rounding needed (rounding could DIVERGE on halfway doubles)
    return out.select(
        "attribute", "conflicting_groups", "n_groups", "conflict_rate"
    )


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join == plain equi-join (the salt must not change
    semantics): lineitem x supplier spread over 8 salts, then aggregated
    per nation. Decimal sum for cross-engine float determinism."""
    from pydi_spark.functions.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity"
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    j = salted_join(li, supp, on="suppkey", num_salts=8)
    return (
        j.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__dec"),
        )
        .select(
            "s_nationkey", "n_items", F.col("__dec").cast("double").alias("sum_qty")
        )
    )


def q_translate_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MappingTranslator end to end: best-target-per-source selection
    (score ordering + lexicographic tie-break), dataset filtering, and
    missing-column filtering, then the rename projection itself. The
    winning mapping is fully determined by the correspondence table, so
    the oracle is the equivalent SELECT ... AS projection."""
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.translation import MappingTranslator

    supp = Dataset.wrap(_t(spark, sf_dir, "supplier"), "supplier", id_column="s_suppkey")
    corr = spark.createDataFrame(
        [
            # tie at 0.9 -> lexicographically smaller target ("label") wins
            ("supplier", "s_name", "vendor_name", 0.9),
            ("supplier", "s_name", "label", 0.9),
            ("supplier", "s_acctbal", "balance", 0.8),
            ("supplier", "s_acctbal", "bal", 0.5),
            ("supplier", "s_ghost", "nowhere", 1.0),  # not in df -> dropped
            ("orders", "s_nationkey", "wrong", 1.0),  # other dataset -> dropped
        ],
        "source_dataset string, source_column string, target_column string, score double",
    )
    out = MappingTranslator().translate(supp, corr)
    return out.df.select(
        F.col("s_suppkey").cast("string").alias("supp_id"),
        "label", "balance", "s_nationkey",
    )


def q_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental clustering (beyond-reference operator): fold odd-key
    orders into a frozen clustering of the even-key orders. Exercises the
    best-match adoption window, the increment-only connected components,
    group-minimum propagation, and the singleton fallback ladder."""
    from pydi_spark.clustering.incremental import assign_new_records

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
    )
    old = o.where(F.col("k") % 2 == 0)
    new = o.where(F.col("k") % 2 == 1)
    w = Window.partitionBy("c")
    existing = old.select(
        F.col("id").alias("record_id"), F.min("id").over(w).alias("cluster_id")
    )
    new_ids = new.select(F.col("id").alias("record_id"))
    n2e = (
        new.alias("n")
        .join(old.alias("o"), "c")
        .select(
            F.col("n.id").alias("id1"), F.col("o.id").alias("id2"),
            F.lit(1.0).alias("score"),
        )
    )
    wc = Window.partitionBy("c").orderBy("k")
    n2n = (
        new.withColumn("prev", F.lag("id").over(wc))
        .where(F.col("prev").isNotNull())
        .select(
            F.col("prev").alias("id1"), F.col("id").alias("id2"),
            F.lit(1.0).alias("score"),
        )
    )
    out = assign_new_records(existing, new_ids, n2e, n2n, threshold=0.5)
    return out.select("record_id", "cluster_id")


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalizers (reference normalization/text.py): HTML strip +
    entity decode + punctuation strip + whitespace collapse, bracket
    remove/extract, header snake_casing, and stopword-filtered light
    stemming — all native regexp expressions, mirrored in RE2-safe
    DuckDB SQL (global 'g' flag on every regexp_replace)."""
    from pydi_spark.functions.tokenize import tokens_for
    from pydi_spark.normalization.text import (
        handle_brackets,
        normalize_header,
        normalize_text,
        remove_stopwords,
        stem_light,
    )

    part = _t(spark, sf_dir, "part")
    raw = F.concat(
        F.lit("<b>"), F.col("p_name"), F.lit("</b> &amp; ["),
        F.col("p_brand"), F.lit("] "), F.col("p_type"),
    )
    raw2 = F.concat(F.col("p_name"), F.lit(" ("), F.col("p_brand"), F.lit(")"))
    toks = tokens_for(F.col("p_name"), "word")
    return part.select(
        F.col("p_partkey").cast("string").alias("part_id"),
        normalize_text(raw, strip_html=True, strip_punctuation=True).alias("clean"),
        handle_brackets(raw2, "remove").alias("no_brackets"),
        handle_brackets(raw2, "extract").alias("bracketed"),
        normalize_header(F.col("p_brand")).alias("header"),
        F.array_join(stem_light(remove_stopwords(toks)), " ").alias("stemmed"),
    )


class _FakeDigitsLLM:
    """Deterministic stand-in LLM: parses the two <record> blocks out of
    the rendered prompt and scores by trailing-key distance. Exercises
    the real prompt render -> client -> JSON parse -> retry path."""

    def __call__(self, prompt: str) -> str:
        import json as _json
        import re as _re

        recs = _re.findall(r"<record>(.*?)</record>", prompt, _re.S)
        nums = [int((_re.findall(r"\d+", r) or ["0"])[-1]) for r in recs[:2]]
        sim = 1.0 / (1.0 + abs(nums[0] - nums[1]) / 1000.0)
        return _json.dumps(
            {"match": sim >= 0.5, "score": sim, "explanation": "digit distance"}
        )


def q_match_llm_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLMBasedMatcher plumbing (mapInPandas, prompt template, JSON
    parse) oracle-checked with a deterministic fake client whose score
    is plain SQL: 1 / (1 + |suppkey - custkey| / 1000)."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.matching import LLMBasedMatcher, TextFormatter

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("k"),
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select(
            F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("k"),
        )
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    matcher = LLMBasedMatcher(
        text_formatter=TextFormatter(["name"]), client_factory=_FakeDigitsLLM
    )
    out = matcher.match(supp, cust, pairs, threshold=0.5, id_column="rid")
    return out.select("id1", "id2", F.round("score", 6).alias("score"))


class _LenHashModel:
    """Deterministic PLM stand-in: batch callable texts -> scores with
    score = (len(text) % 97) / 96 — closed-form SQL over the pair text."""

    def __call__(self, texts: list[str]) -> list[float]:
        return [(len(t) % 97) / 96.0 for t in texts]


def q_match_plm_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLMBasedMatcher plumbing (pair_text serialization + mapInPandas
    batch scoring) with a deterministic length-hash model; the oracle
    recomputes the score from component string lengths."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.matching import PLMBasedMatcher, TextFormatter

    cust = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 4000)
    a = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("k"),
    )
    b = cust.where(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("k"),
    )
    pairs = StandardBlocker(on=["k"]).block(a, b, id_column="rid")
    matcher = PLMBasedMatcher(
        text_formatter=TextFormatter(["name", "seg"]), model_factory=_LenHashModel
    )
    out = matcher.match(a, b, pairs, threshold=0.3, id_column="rid")
    return out.select("id1", "id2", F.round("score", 6).alias("score"))


def q_dedup_ngram_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin prefix-filtered n-gram Jaccard dedup: provably the same
    verified pair set as the unfiltered path (prefix principle is
    lossless), so it shares the plain shingle-join oracle — this pins
    the losslessness under the gate, not just in pytest."""
    from pydi_spark.llmdata import ngram_jaccard_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = ngram_jaccard_duplicates(
        docs, shingle_size=3, jaccard_threshold=0.5,
        max_shingle_frequency=None, prefix_filter=True,
    )
    return out.select("id1", "id2", F.round("jaccard", 6).alias("jaccard"))


def q_extract_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CodeExtractor: value-based and row-based user callables over
    Arrow batches (reference informationextraction/code.py:14-281);
    deterministic string functions keep it SQL-expressible."""
    from pydi_spark.extraction.code import CodeExtractor

    orders = _t(spark, sf_dir, "orders")
    ce = CodeExtractor(
        {
            "prio_num": {
                "function": lambda v: v.split("-")[0],
                "source_column": "o_orderpriority",
            },
            "status_prio": {
                "function": lambda r: f"{r['o_orderstatus']}|{r['o_orderpriority']}",
                "row_based": True,
                "columns": ["o_orderstatus", "o_orderpriority"],
            },
        }
    )
    out = ce.extract(orders)
    return out.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        "prio_num", "status_prio",
    )


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style line cleaning (llmdata.cleaning): the corpus has no
    newlines, so the query synthesizes a line structure — each doc gets a
    shared boilerplate line (dropped by the global doc-frequency pass)
    and a short footer (dropped by the min-words rule).

    Hash-safe output (round-4): clean_text embeds newlines — the whole
    point of the query — but the driver's content hasher is
    newline-sensitive (r03: rows/schema matched, hash didn't). Both
    engines therefore emit md5(clean_text) + its length; the md5 still
    pins every kept byte."""
    from pydi_spark.llmdata.cleaning import clean_document_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nshare this article\n"),
            F.upper(F.col("source")), F.lit(" footer"),
        ).alias("text"),
    )
    out = clean_document_lines(docs, min_words=3, max_line_doc_frequency=100)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        F.length("clean_text").cast("int").alias("clean_len"),
        "n_lines_kept", "n_lines_total",
    )


def q_text_clean_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line cleaning over genuinely multi-line documents (round-2 advice:
    the regenerated corpus is single-line, so the 3-line structure in
    q_text_clean exercises each rule only once). Builds a 6-line document
    from text substrings and drives ALL four rules at once: min_words,
    max_words (drops the long head line for long docs only), terminal
    punctuation (drops the unpunctuated boilerplate variant), and the
    global doc-frequency pass — plus order-preserving reassembly across
    interleaved kept/dropped positions."""
    from pydi_spark.llmdata.cleaning import clean_document_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 400), F.lit(".\n"),
            F.lit("subscribe to our newsletter today.\n"),
            F.substring("text", 401, 120), F.lit(".\n"),
            F.lit("share this article\n"),
            F.substring("text", 521, 120), F.lit("?\n"),
            F.lit("ok."),
        ).alias("text"),
    )
    out = clean_document_lines(
        docs, min_words=2, max_words=40,
        require_terminal_punct=True, max_line_doc_frequency=50,
    )
    # md5(clean_text): hash-safe serialization of the newline-bearing
    # column (see q_text_clean docstring).
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        F.length("clean_text").cast("int").alias("clean_len"),
        "n_lines_kept", "n_lines_total",
    )


def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact line dedup (C4 rule: a line occurring more
    than once in the corpus survives only at its first occurrence).
    Synthesizes 4-line docs whose 2nd line repeats per source and whose
    4th repeats corpus-wide, so the first (doc_id, pos) occurrence
    keeps each and every later document drops it; the text substrings
    exercise the no-duplicate fast path. md5(clean_text) keeps the
    newline-bearing output hash-safe (window convention)."""
    from pydi_spark.llmdata.cleaning import dedup_corpus_lines

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 200), F.lit("\n"),
            F.lit("footer for "), F.col("source"), F.lit("\n"),
            F.substring("text", 201, 200), F.lit("\n"),
            F.lit("share this article"),
        ).alias("text"),
    )
    out = dedup_corpus_lines(docs)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        F.length("clean_text").cast("int").alias("clean_len"),
        "n_lines_kept", "n_lines_total",
    )


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals; int/int divisions are
    bit-identical across engines, no rounding needed."""
    from pydi_spark.llmdata.textstats import repetition_scores

    docs = _t(spark, sf_dir, "documents")
    return repetition_scores(docs).select(
        "doc_id", "top_word_frac", "dup_2gram_frac", "distinct_word_ratio"
    )


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction bank: the corpus is PII-free, so the query plants a
    deterministic email/phone/IP per doc and checks counts + the
    redacted text byte-for-byte."""
    from pydi_spark.llmdata.textstats import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555-123-4567 host 192.168.0.1 end"),
        ).alias("text"),
    )
    return redact_pii(docs)


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch novelty vs the reference corpus (llmdata/cleaning.py
    novelty_scores — the shuffle-join dual of decontaminate): distinct
    2-grams of each batch doc (doc_id % 5 == 0) not present anywhere in
    the reference split, exact integer ppm."""
    from pydi_spark.llmdata import novelty_scores

    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    reference = docs.where(F.col("doc_id") % 5 != 0)
    return novelty_scores(batch, reference, n=3)


def q_text_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script detection (llmdata/textstats.py script_profile): the
    corpus is ASCII, so the query synthesizes mixed-script docs by
    doc_id class (translate vowels to Cyrillic / Greek / CJK
    lookalikes — translate() behaves identically in both engines) and
    profiles the result. Counts are length-minus-stripped integers;
    dominance is the fixed-priority CASE replayed verbatim."""
    from pydi_spark.llmdata import script_profile

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(
            "CASE WHEN doc_id % 4 = 1 THEN translate(text, 'aeio', "
            "'\u0430\u0435\u0438\u043e') "
            "WHEN doc_id % 4 = 2 THEN translate(text, 'aeiost', "
            "'\u03b1\u03b5\u03b9\u03bf\u03c3\u03c4') "
            "WHEN doc_id % 4 = 3 THEN translate(text, 'ae', "
            "'\u4e9c\u6075') ELSE text END"
        ).alias("text"),
    )
    out = script_profile(docs)
    return out.select(
        "doc_id", "n_chars", "n_latin", "n_cyrillic", "n_greek",
        "n_cjk", "n_digit", "dominant_script",
    )


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window event counts (streaming/dedup.py
    windowed_event_counts with slide= — the overlapping-window surface
    next to the tumbling streaming_windowed): 6h windows every 2h, so
    each event lands in exactly 3 windows. The oracle fans each event
    to its 3 aligned starts with integer micros arithmetic."""
    from pydi_spark.streaming import windowed_event_counts

    events = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    out = windowed_event_counts(
        events, "6 hours", slide="2 hours", value_column=None
    )
    return out.select(
        F.col("window_start").cast("string").alias("window_start"),
        F.col("window_end").cast("string").alias("window_end"),
        "event_type",
        "n_events",
    )


def q_profile_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile (profiling/profiler.py
    benford_profile): order prices as exact integer cents
    (floor(x*100) — floor, never bare CAST: DuckDB's double->int cast
    ROUNDS where Spark's truncates) and customer keys. TPC-H prices
    are uniform-ish, so share_ppm visibly deviates from expected_ppm —
    the profile carries real signal, not a zero column."""
    from pydi_spark.profiling import benford_profile

    orders = _t(spark, sf_dir, "orders").select(
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias(
            "price_cents"
        ),
        F.col("o_custkey").cast("long").alias("custkey"),
    )
    return benford_profile(orders, ["price_cents", "custkey"])


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-gram collision check of the train
    split (doc_id % 47 != 0) against a held-out eval split, broadcast
    map-side join on md5'd grams. n=3 because the synthetic corpus has
    no natural 5-gram cross-doc overlap — trigrams give 289/489 docs
    nonzero ratios and 49 over the 5% flag, so the oracle checks real
    collisions, not a column of zeros."""
    from pydi_spark.llmdata.cleaning import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 47 == 0)
    train = docs.where(F.col("doc_id") % 47 != 0)
    out = decontaminate(train, ev, n=3, threshold=0.05)
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_overlap",
        F.round("contamination_ratio", 6).alias("contamination_ratio"),
        F.col("is_contaminated").cast("int").alias("is_contaminated"),
    )


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule keep/drop gate: per-rule booleans + conjunctive keep.
    Thresholds sit inside the sf0.01 signal distributions (token p5=16,
    top_word_frac p95=0.16, stopword p25=0.04) so every rule actually
    splits the corpus rather than passing or failing everything.
    All rule booleans are int-cast (round-4 hash-safe convention)."""
    from pydi_spark.llmdata import quality_filter

    docs = _t(spark, sf_dir, "documents")
    out = quality_filter(docs)
    bool_cols = {f.name for f in out.schema.fields
                 if f.dataType.simpleString() == "boolean"}
    return out.select(
        *[F.col(c).cast("int").alias(c) if c in bool_cols else F.col(c)
          for c in out.columns]
    )


def q_text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (BPE-training prep): top tokens by document
    frequency under a deterministic (doc_freq desc, token) total order.

    Hash-safe output (round-4): raw tokens can carry ' and # (the
    tokenizer keeps them) and the driver's hasher quotes them
    differently (r03 hash mismatch). Both engines emit md5(token); the
    raw string survives only in the total order, which both replicate."""
    from pydi_spark.llmdata import vocabulary

    docs = _t(spark, sf_dir, "documents")
    v = vocabulary(docs, min_doc_freq=2)
    return v.orderBy(F.desc("doc_freq"), F.asc("token")).limit(100).select(
        F.md5(F.col("token").cast("binary")).alias("token_md5"),
        "doc_freq", "n_occurrences",
    )


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per doc. Raw-ratio idf keeps every score a
    fixed IEEE expression tree, so the doubles (and therefore the ranks)
    are bit-identical across Spark and DuckDB — no rounding needed."""
    from pydi_spark.llmdata import tfidf_keywords

    docs = _t(spark, sf_dir, "documents")
    return tfidf_keywords(docs, k=3)


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize + symmetric int8 quantization. Every float op is an
    explicit left fold in float64, so the int qvec is bit-determined;
    the oracle replays the folds with list_reduce.

    Hash-safe output (round-4): the driver's hasher routes rows
    through a pandas hashtable that cannot hash Python lists (r03
    `err: unhashable type: 'list'`), so qvec is serialized to a CSV
    string via array_join / array_to_string on both engines — the
    ints print identically."""
    from pydi_spark.llmdata.embeddings import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_int8(emb, normalize=True)
    return out.select(
        F.col("vec_id").cast("string").alias("vec_id"),
        F.round("scale", 6).alias("scale"),
        F.array_join(
            F.transform("qvec", lambda x: x.cast("string")), ","
        ).alias("qvec_csv"),
    )


def q_embed_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean pooling with sorted-sum float determinism — the
    pooled doubles are bit-identical cross-engine.

    Hash-safe output (round-4): array<double> broke the driver's
    pandas hashtable (r03 `err`). Each element is scaled to a micro
    bigint via floor(x * 1e6) — floor of bit-identical doubles is
    bit-identical, no halfway-rounding divergence — and the ints are
    CSV-joined on both engines."""
    from pydi_spark.llmdata.embeddings import mean_pool

    emb = _t(spark, sf_dir, "embeddings")
    out = mean_pool(emb, "label")
    return out.select(
        F.col("group").alias("grp"),
        F.array_join(
            F.transform(
                "pooled",
                lambda x: F.floor(x * F.lit(1000000.0)).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("pooled_micro_csv"),
        "n_vectors",
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling with per-stratum rates (domain
    mixing): md5-fraction keyed to the row, portable across engines and
    partitionings — unlike df.sample()."""
    from pydi_spark.llmdata.sampling import deterministic_sample

    orders = _t(spark, sf_dir, "orders").withColumn(
        "rid", F.col("o_orderkey").cast("string")
    )
    out = deterministic_sample(
        orders, rate=0.1, key_col="rid",
        stratum_col="o_orderpriority", rates={"1-URGENT": 0.5},
    )
    return out.select("rid", "o_orderpriority")


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (llmdata.unigram_lm_scores), trained
    on the corpus itself. mean_token_freq is integer arithmetic + two
    single divisions — emitted RAW (bit-identical, the fusion_numeric
    precedent); mean_logprob rides on ln(), which libm implementations
    round differently, so it stays out of the oracle projection and is
    numpy-replayed in pytest instead (the BPE-ish-counter split)."""
    from pydi_spark.llmdata.textstats import unigram_lm_scores

    docs = _t(spark, sf_dir, "documents")
    out = unigram_lm_scores(docs)
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_tokens", "n_oov", "sum_count", "mean_token_freq",
    )


def q_sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling (llmdata.
    quality_weighted_sample): weight = distinct-token ratio (an exact
    int/int division), quantized to ppm bigints so the corpus-wide
    weight sum is an exact integer aggregate; rate is one left-to-right
    double expression replayed identically in the oracle. selected is
    int-cast per the hash-safe window convention."""
    from pydi_spark.functions.tokenize import word_tokens
    from pydi_spark.llmdata.sampling import quality_weighted_sample

    toks = word_tokens(F.col("text"))
    base = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "w"
        ),
    )
    out = quality_weighted_sample(
        base, weight_col="w", key_col="doc_id", target_fraction=0.4
    )
    return out.select(
        "doc_id",
        "weight_ppm",
        F.round("rate", 6).alias("rate"),
        F.col("selected").cast("int").alias("selected"),
    )


def q_text_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (llmdata.temperature_mix, the
    T5/Pile-style balancing step). alpha=0.5 -> sqrt weights: every
    float op in the rate computation is IEEE-correctly-rounded and
    written as the same expression tree in the oracle, and the
    cross-source weight sum is the sorted-fold invariant — raw doubles
    compare bit-identically, no rounding."""
    from pydi_spark.llmdata import temperature_mix

    docs = _t(spark, sf_dir, "documents")
    out = temperature_mix(docs, target_fraction=0.25, alpha=0.5)
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "source",
        "n_source",
        "rate",
        F.col("selected").cast("int").alias("selected"),
    )


def q_tpch_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (SURVEY §2.13 — free in Spark, absent in the
    reference): per-customer order ranking + running revenue. Decimal
    running sum for cross-engine float determinism, cast at the end."""
    orders = _t(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        orders.withColumn("rk", F.row_number().over(w_rank))
        .withColumn(
            "run_spend",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w_run),
        )
        .where(F.col("rk") <= 2)
    )
    return out.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").cast("string").alias("order_id"),
        "rk",
        F.col("o_totalprice").alias("totalprice"),
        F.col("run_spend").cast("double").alias("run_spend"),
    )


def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference operator): each purchase event picks
    the user's latest at-or-before error event. The engine runs it as a
    single union + window pass (no join, one shuffle — see
    functions/joins.py); DuckDB checks it with a native ASOF JOIN. The
    right side is deduped per (user, ts) so ties are well-defined on
    both engines."""
    from pydi_spark.functions.joins import asof_join

    ev = _events(spark, sf_dir)
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    out = asof_join(left, right, on="ts", by="user_id")
    return out.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("ts").cast("string").alias("ts"),
        F.col("ts_right").cast("string").alias("matched_ts"),
        "err_value",
    )


def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (beyond-reference operator): every event falling inside
    a 2-hour 'incident window' opened by each event_id%199==0 event.
    Vanilla Spark would plan the inequality join as a nested loop; the
    engine bucketizes time so it runs as a shuffled equi-join on
    (bucket) with a residual filter — see functions/joins.py:range_join.
    DuckDB checks it with the plain inequality join (IEJoin)."""
    from pydi_spark.functions.joins import range_join

    ev = _events(spark, sf_dir)
    incidents = ev.where(F.col("event_id") % 199 == 0).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
    )
    out = range_join(
        ev.select("event_id", "ts", "event_type"),
        incidents,
        on="ts",
        between=("s", "e"),
        bucket_width=1800,
    )
    return out.select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "event_type",
        "incident_id",
    )


def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval overlap join (functions/joins.py
    interval_overlap_join): two synthetic per-key interval tables carved
    from orders (even vs odd orderkeys, starts spread by co-prime
    multipliers over a 10000-unit domain, lengths 0-12 / 0-16). The
    engine explodes both sides to width-16 buckets and equi-joins with
    the exactly-once guard (emit only at greatest(start buckets)) — no
    post-join dedup; the oracle is the plain quadratic overlap
    predicate DuckDB plans as IEJoin."""
    from pydi_spark.functions.joins import interval_overlap_join

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    a = orders.where(F.col("o_orderkey") % 2 == 0).select(
        (F.col("o_custkey") % 2000).alias("k"),
        F.col("o_orderkey").alias("aid"),
        ((F.col("o_orderkey") * 7) % 10000).alias("s"),
        ((F.col("o_orderkey") * 7) % 10000
         + F.col("o_orderkey") % 13).alias("e"),
    )
    b = orders.where(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_custkey") % 2000).alias("k"),
        F.col("o_orderkey").alias("bid"),
        ((F.col("o_orderkey") * 11) % 10000).alias("s"),
        ((F.col("o_orderkey") * 11) % 10000
         + F.col("o_orderkey") % 17).alias("e"),
    )
    out = interval_overlap_join(
        a, b, ("s", "e"), ("s", "e"), by="k", bucket_width=16
    )
    return out.select(
        "k", "aid",
        F.col("s").alias("a_start"), F.col("e").alias("a_end"),
        "bid",
        F.col("s_right").alias("b_start"), F.col("e_right").alias("b_end"),
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to the testdata's
    columns: the reference predicate l_commitdate < l_receiptdate is
    absent, so a 'late line' is l_shipdate >= o_orderdate + 60 days.
    Exercises the EXISTS/left-semi join pattern: the lineitem probe
    reduces to keys before the orders join."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-side aggregate —
    every predicate pushes into the parquet scan, the sum is exact
    decimal, and the result is one row with zero shuffle beyond the
    final partial-agg merge."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting), projected to the testdata's
    customer columns: revenue lost to returns per customer over a
    quarter. Nation broadcast (25 rows); customer joins post-aggregate
    would be ideal at scale but the group key includes customer attrs,
    so the join stays pre-agg and AQE picks the strategy."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): promo revenue share over a month.
    Both sums are exact decimal; the single double division (and the
    *100 in fixed order) happens once at the end, so the percentage is
    bit-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = price * (F.lit(1).cast("decimal(18,2)") - disc)
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue), adapted to available columns
    (no l_shipmode/shipinstruct/p_container in the testdata): revenue
    from three brand/size/quantity bands OR-ed together. The disjunction
    sits on the joined row; the join itself stays a plain equi-join on
    partkey so Catalyst can still pick hash strategies."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(band)
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted to
    available columns (no o_comment; the spec's comment NOT LIKE filter
    becomes an o_orderpriority filter — same left-join-with-filtered-
    right shape, so zero-order customers still appear). Two-level
    aggregation: per-customer order count, then histogram over counts —
    both map-side-combinable groupBys, no float arithmetic at all."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted to available
    columns (no c_phone; the spec's phone country code becomes
    c_nationkey % 5; and the spec's "no orders" anti-join becomes "no
    URGENT orders" — this generator gives every customer at least one
    order, which would make the query vacuous at every SF). Customers
    from selected codes with above-average positive balance and no
    urgent orders: the average is a one-row aggregate cross-joined back
    (broadcast — stays declarative, no driver collect), the anti-join
    keeps the NOT EXISTS shape on a filtered orders side. totacctbal
    follows the decimal-sum-then-cast policy of q1/q7."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_acctbal",
        (F.col("c_nationkey") % 5).alias("cntrycode"),
    ).where(F.col("cntrycode").isin(0, 1, 2))
    avg_df = (
        cust.where(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
                / F.count("*").cast("double")
            ).alias("avg_bal")
        )
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(avg_df))
        .where(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): cross-border revenue by supplier
    nation / customer nation / ship year. Adapted from the spec's fixed
    two-nation filter to ALL cross-nation pairs: the synthetic testdata's
    nation-traffic distribution left the fixed pair empty below sf0.1,
    making the oracle pass vacuous (round-2 advice). Both 25-row nation
    dims broadcast; the inequality filters after the equi-joins, so
    every join keeps a hashable key."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_3's share of ASIA-market
    STANDARD-part revenue by order year. Share = decimal sums cast to
    double with ONE division per year — bit-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD").select("p_partkey")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cnation = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_region")
        )
    )
    region = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    snation = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    vol = price * (F.lit(1).cast("decimal(18,2)") - disc)
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(cnation, F.col("c_nationkey") == F.col("cn_key"))
        .join(region, F.col("c_region") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(snation, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol)
                    .otherwise(F.lit(0).cast("decimal(18,2)"))
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width overlapping character chunks (RAG/pretraining prep).
    Pure narrow transformation — sequence+substr, no shuffle."""
    from pydi_spark.llmdata import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_chars=120, overlap=24)


def q_text_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget corpus selection ("data mixing"): docs
    taken in deterministic md5-hash order until 800 tokens per source
    (inside every SF's per-source token mass, so the cutoff genuinely
    splits); the window cumsum is exact bigint arithmetic on both
    engines. `selected` is cast to int (round-4): Python True vs JSON
    true diverged in the driver's hasher (the column was the only
    non-plain one in the r03 mismatch)."""
    from pydi_spark.llmdata import select_token_budget

    docs = _t(spark, sf_dir, "documents")
    out = select_token_budget(docs, budget_tokens=800)
    return out.withColumn("selected", F.col("selected").cast("int"))


def q_text_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (raw-ratio Robertson idf — no ln, so the
    doubles are bit-identical cross-engine; see llmdata/search.py).
    Constants enter as the same literals on both sides ((1.2 + 1.0),
    (1.0 - 0.75)) so every IEEE op sees identical operands."""
    from pydi_spark.llmdata import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, ["stream", "hash", "customer"], k=25)


# fixed vocabulary for the coverage diagnostic (the corpus's 12 head
# words at sf0.01 — a literal artifact like the BPE merge table)
_COVERAGE_VOCAB = [
    "join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "merge", "slow", "order",
]


def q_text_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style token blocklist gate (llmdata.blocklist_filter): keep=0
    for documents containing any blocklisted word token."""
    from pydi_spark.llmdata import blocklist_filter

    docs = _t(spark, sf_dir, "documents")
    return blocklist_filter(docs, ["error", "slow", "skew"], mode="token")


def q_text_gram_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source internal 2-gram duplication mass
    (llmdata.gram_duplication) — the templated-ness signal that decides
    where a near-dup pass pays off."""
    from pydi_spark.llmdata import gram_duplication

    docs = _t(spark, sf_dir, "documents")
    return gram_duplication(docs, n=2)


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token coverage under a fixed vocabulary
    (llmdata.vocab_coverage): in-vocab mass + distinct OOV types +
    exact-integer ppm coverage."""
    from pydi_spark.llmdata import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, list(_COVERAGE_VOCAB), group_col="source")


def q_sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split (llmdata.leakage_safe_split):
    near-dup clusters (simhash pairs -> CC) assigned as UNITS by the
    md5-fraction of the cluster id — no duplicate pair ever straddles
    an eval boundary."""
    from pydi_spark.llmdata import leakage_safe_split, simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, max_hamming=3, bands=4)
    return leakage_safe_split(docs, pairs, train=0.8, valid=0.1)


def q_sample_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair building (llmdata.contrastive_pairs): simhash
    positives + 2 deterministic md5-rank negatives per anchor; the
    corpus rank is a distributed global row_number, replayed as a plain
    window in the oracle."""
    from pydi_spark.llmdata import contrastive_pairs, simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, max_hamming=3, bands=4)
    return contrastive_pairs(pairs, docs, k_negatives=2)


def _contrastive_oracle_sql() -> str:
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
WITH pairs AS (SELECT id1, id2 FROM ({_simhash_sql(3)}) q),
ids AS (SELECT CAST(doc_id AS VARCHAR) AS pid FROM documents),
ranked AS (
  SELECT pid, row_number() OVER (ORDER BY md5(pid), pid) AS rnk FROM ids
),
n AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM ids),
anchors AS (SELECT DISTINCT id1 AS anchor FROM pairs),
negs AS (
  SELECT anchor,
         (({hex2int}) % cnt) + 1 AS rnk,
         j AS neg_idx
  FROM (
    SELECT anchor, j,
           substr(md5(anchor || ':' || CAST(j AS VARCHAR)), 1, 15) AS md5h
    FROM anchors, (SELECT unnest([1, 2]) AS j) js
  ) x, n
),
negatives AS (
  SELECT anchor, pid AS partner, 0 AS label, neg_idx
  FROM negs JOIN ranked USING (rnk) WHERE pid != anchor
)
SELECT id1 AS anchor, id2 AS partner, 1 AS label, 0 AS neg_idx FROM pairs
UNION ALL
SELECT anchor, partner, label, neg_idx FROM negatives
"""


def q_io_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC application (io.cdc.apply_changes): a change
    batch synthesized from customer (updates for %7==0, deletes for
    %7==1, inserts under shifted keys for %7==2) applied
    last-writer-wins; the oracle replays the same rank window."""
    from pydi_spark.io import apply_changes

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    raw = _t(spark, sf_dir, "customer")
    upd = raw.where("c_custkey % 7 = 0").select(
        F.col("c_custkey").cast("string").alias("rid"),
        F.col("c_name").alias("name"),
        (F.col("c_acctbal") + F.lit(100.0)).alias("bal"),
        F.col("c_custkey").cast("long").alias("version"),
        F.lit("U").alias("op"),
    )
    dele = raw.where("c_custkey % 7 = 1").select(
        F.col("c_custkey").cast("string").alias("rid"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_custkey").cast("long").alias("version"),
        F.lit("D").alias("op"),
    )
    ins = raw.where("c_custkey % 7 = 2").select(
        (F.col("c_custkey") + F.lit(1000000)).cast("string").alias("rid"),
        F.lit("Customer#new").alias("name"),
        F.col("c_acctbal").alias("bal"),
        F.col("c_custkey").cast("long").alias("version"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return apply_changes(cust, changes, key_col="rid")


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-micro PageRank over the simhash near-dup graph
    (llmdata.pagerank_micro): 5 power iterations, all-integer
    arithmetic (rank div deg contributions, ppm damping) — order-free
    aggregates, so the iterative computation replays exactly as 5
    unrolled SQL passes."""
    from pydi_spark.llmdata import pagerank_micro, simhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(docs, max_hamming=3, bands=4)
    return pagerank_micro(pairs, n_iter=5)


def _pagerank_oracle_sql(n_iter: int = 5, damping_ppm: int = 850000) -> str:
    """Unrolled replay of q_graph_pagerank: the fixed iteration count
    becomes chained CTEs (aggregates are not allowed in a recursive
    term), each the same integer formula as the engine."""
    base = 1000000 - damping_ppm
    head = f"""
WITH e AS (SELECT id1, id2 FROM ({_simhash_sql(3)}) t),
sym AS (SELECT id1 AS s, id2 AS d FROM e UNION ALL SELECT id2, id1 FROM e),
deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
n AS (SELECT DISTINCT s AS id FROM sym),
pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
pr{i} AS (
  SELECT n.id,
         CAST({base} + ({damping_ppm} * COALESCE(x.S, 0)) // 1000000
              AS BIGINT) AS r
  FROM n LEFT JOIN (
    SELECT sym.d AS id, SUM(pr{i - 1}.r // deg.deg) AS S
    FROM sym JOIN pr{i - 1} ON pr{i - 1}.id = sym.s
             JOIN deg ON deg.s = sym.s
    GROUP BY sym.d) x ON x.id = n.id)""")
    return (
        head + "," + ",".join(its)
        + f"\nSELECT id, r AS rank_micro FROM pr{n_iter}"
    )


def _ppr_oracle_sql(n_iter: int = 5, damping_ppm: int = 850000) -> str:
    """Unrolled replay of q_graph_ppr over the clique+bridge graph:
    same chained-CTE scheme as _pagerank_oracle_sql, but the teleport
    term is the seed-conditional CASE with (n, s) scalar subqueries —
    the exact integer formula personalized_pagerank_micro computes
    with driver-side counts."""
    base = 1000000 - damping_ppm
    head = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS nk,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.nk = b.nk AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.nk = b.nk AND b.rk - a.rk = 4
),
sym AS MATERIALIZED (SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0),
deg AS (SELECT s, count(*) AS deg FROM sym GROUP BY s),
n AS MATERIALIZED (SELECT DISTINCT s AS id FROM sym),
st AS MATERIALIZED (
  SELECT (SELECT count(*) FROM n) AS nn,
         (SELECT count(*) FROM n WHERE id % 20 = 0) AS ns
),
pr0 AS (
  SELECT id, CAST(CASE WHEN id % 20 = 0
                  THEN (st.nn * 1000000) // st.ns ELSE 0 END AS BIGINT) AS r
  FROM n CROSS JOIN st)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
pr{i} AS (
  SELECT n.id,
         CAST(CASE WHEN n.id % 20 = 0
              THEN (st.nn * {base}) // st.ns ELSE 0 END
              + ({damping_ppm} * COALESCE(x.S, 0)) // 1000000
              AS BIGINT) AS r
  FROM n CROSS JOIN st LEFT JOIN (
    SELECT sym.d AS id, SUM(pr{i - 1}.r // deg.deg) AS S
    FROM sym JOIN pr{i - 1} ON pr{i - 1}.id = sym.s
             JOIN deg ON deg.s = sym.s
    GROUP BY sym.d) x ON x.id = n.id)""")
    return (
        head + "," + ",".join(its)
        + f"\nSELECT CAST(id AS VARCHAR) AS id, r AS rank_micro FROM pr{n_iter}"
    )


def _wpr_oracle_sql(n_iter: int = 5, damping_ppm: int = 850000) -> str:
    """Unrolled replay of q_graph_pagerank_weighted: the _ppr_oracle_sql
    chain scheme with the weight-proportional floor share
    ``(rank*w) // Σw`` (HUGEINT intermediates) as the contribution."""
    base = 1000000 - damping_ppm
    head = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS nk,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.nk = b.nk AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.nk = b.nk AND b.rk - a.rk = 4
),
ew AS MATERIALIZED (SELECT a, b, 1 + (a + b) % 3 AS w FROM e0),
sym AS MATERIALIZED (
  SELECT a AS s, b AS d, w FROM ew UNION ALL SELECT b, a, w FROM ew
),
sw AS MATERIALIZED (SELECT s, SUM(w) AS sw FROM sym GROUP BY s),
n AS MATERIALIZED (SELECT DISTINCT s AS id FROM sym),
pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM n)"""
    its = []
    for i in range(1, n_iter + 1):
        its.append(f"""
pr{i} AS (
  SELECT n.id,
         CAST({base} + ({damping_ppm} * COALESCE(x.S, 0)) // 1000000
              AS BIGINT) AS r
  FROM n LEFT JOIN (
    SELECT sym.d AS id,
           SUM(CAST(pr{i - 1}.r AS HUGEINT) * sym.w // sw.sw) AS S
    FROM sym JOIN pr{i - 1} ON pr{i - 1}.id = sym.s
             JOIN sw ON sw.s = sym.s
    GROUP BY sym.d) x ON x.id = n.id)""")
    return (
        head + "," + ",".join(its)
        + f"\nSELECT CAST(id AS VARCHAR) AS id, r AS rank_micro FROM pr{n_iter}"
    )


def q_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup method agreement matrix (llmdata.dedup_method_agreement):
    verified pair counts per subset of {minhash, simhash, ngram} — the
    sample-first diagnostic before committing one method to a full
    corpus pass. Same parameters as the three standalone dedup queries,
    so the oracle composes their SQL builders verbatim."""
    from pydi_spark.llmdata import dedup_method_agreement

    docs = _t(spark, sf_dir, "documents")
    return dedup_method_agreement(
        docs,
        minhash_params=dict(num_hashes=8, bands=4, jaccard_threshold=0.7),
        simhash_params=dict(max_hamming=3, bands=4),
        ngram_params=dict(
            shingle_size=3, jaccard_threshold=0.5, max_shingle_frequency=None
        ),
    )


def q_text_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: BM25 top-50 candidates reranked to top-10 by
    the injectable cross-encoder seam (mapInPandas, PLM pattern). The
    default deterministic scorer counts distinct query terms present
    under an ascii tokenizer written identically in the oracle — the
    Arrow plumbing is what the gate verifies (match_plm_fake pattern)."""
    from pydi_spark.llmdata import bm25_scores, rerank_topk

    docs = _t(spark, sf_dir, "documents")
    terms = ["stream", "hash", "customer"]
    cands = bm25_scores(docs, terms, k=50)
    return rerank_topk(cands, docs, terms, k=10)


def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sampling: 50 orders per
    priority class by md5 order (hex prefix order == fraction order, so
    the decision is float-free and partition-independent)."""
    from pydi_spark.llmdata import exact_k_sample

    orders = _t(spark, sf_dir, "orders").withColumn(
        "rid", F.col("o_orderkey").cast("string")
    )
    out = exact_k_sample(orders, k=50, key_col="rid", stratum_col="o_orderpriority")
    return out.select("rid", "o_orderpriority", "sample_rank")


def q_profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew pre-flight report (profiling.key_skew_report): exact
    counts + integer ppm share for the heaviest values of a prospective
    join key — the input to every salting / AQE-threshold decision."""
    from pydi_spark.profiling import key_skew_report

    orders = _t(spark, sf_dir, "orders")
    return key_skew_report(orders, "o_orderpriority", top_n=20)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental minhash dedup: batch = doc_id % 5 == 0 deduped
    against the signature STORE of the other 80% (the store is built
    in-query here; in production it's persisted parquet). Survivors
    dedup among themselves via CC keep-min."""
    from pydi_spark.llmdata import incremental_minhash_dedup, minhash_signature_table

    docs = _t(spark, sf_dir, "documents")
    # production stores are parquet (materialized); an in-query derived
    # store feeds two consumers (bands + token re-attach), so checkpoint
    # it — without this the 80%-corpus tokenize+min groupBy runs twice
    store = minhash_signature_table(
        docs.where("doc_id % 5 != 0"), num_hashes=8
    ).localCheckpoint(eager=True)
    batch = docs.where("doc_id % 5 = 0")
    return incremental_minhash_dedup(
        batch, store, num_hashes=8, bands=4, jaccard_threshold=0.7
    )


def q_io_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two bucketed lineitem
    dimensions (io.zorder, round 6 — the Delta/Iceberg OPTIMIZE ZORDER
    layout primitive built from plain integer expressions). The key is
    pure shifts/masks/adds, whole-stage-codegen'd; the oracle replays
    the literally identical term sum via zorder_key_sql (one generator
    emits both). Output: ints only — hash-safe."""
    from pydi_spark.io import zorder_key

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("long").alias("okey"),
        F.col("l_linenumber").cast("int").alias("lnum"),
        (F.col("l_partkey") % 1024).cast("long").alias("x"),
        (F.col("l_suppkey") % 1024).cast("long").alias("y"),
    )
    return li.select(
        "okey", "lnum", zorder_key(["x", "y"], bits=10).alias("zkey")
    )


def q_profile_cms_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (profiling.
    sketches, round 6 — Cormode & Muthukrishnan 2005): a depth-3 x
    width-256 sketch deliberately undersized for the vocabulary so
    collisions are visible, probed with the top-20 true-count tokens.
    Output [token_md5, true_cnt, cms_est, overcount]: the sketch's
    one-sided guarantee (est >= true) makes overcount non-negative —
    checked exactly by the oracle's literal replay of the md5
    bucketing. The sketch's ONE groupBy runs on a depth*width-bounded
    key domain: the token stream never shuffles by its own keys."""
    from pydi_spark.functions.tokenize import word_tokens
    from pydi_spark.profiling import cms_estimate, count_min_sketch

    W, D = 256, 3
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("token"))
    sketch = count_min_sketch(toks, "token", width=W, depth=D).localCheckpoint(
        eager=True
    )
    true = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = (
        true.orderBy(F.desc("true_cnt"), "token").limit(20)
        .localCheckpoint(eager=True)  # feeds the probe AND the output join
    )
    est = cms_estimate(sketch, top, "token", width=W, depth=D)
    return top.join(est, top["token"] == est["key"]).select(
        F.md5(top["token"]).alias("token_md5"),
        "true_cnt",
        F.col("est").alias("cms_est"),
        (F.col("est") - F.col("true_cnt")).alias("overcount"),
    )


def q_dedup_bloom_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental EXACT dedup (llmdata.bloom, round
    6): the batch (doc_id % 5 == 0) deduped against the other 80% on a
    16-char text-prefix key (full texts are unique at the oracle SFs —
    the prefix key gives ~10-30%% true dups so BOTH routes run: the
    map-side definitely-new pass AND the exact verify for
    might-contain). No false negatives, so the output is the exact
    net-new set — the oracle replays it as a plain NOT EXISTS.
    Output: one hash-safe string column (net-new ids)."""
    from pydi_spark.llmdata import bloom_prefilter_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "k16", F.substring(F.col("text"), 1, 16)
    )
    batch = docs.where("doc_id % 5 = 0")
    store = docs.where("doc_id % 5 != 0")
    out = bloom_prefilter_dedup(
        batch, store, key_col="k16", id_col="doc_id",
        m_bits=1 << 20, n_hashes=5,
    )
    return out.select(F.col("doc_id").cast("string").alias("id"))


# BPE merge table trained ONCE by train_bpe_merges on the sf0.01
# documents (deterministic — argmax under a total order) and inlined as
# the fixed artifact, the PQ-codebook pattern: the oracle replays the
# same literal replace chain, the training path is pytest-pinned.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"),
]


def q_text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword segmentation (merge-replay mode — identical literal
    replace chains on both engines) over the corpus word-frequency
    table; output = top-40 pieces by occurrence-weighted count. All
    pieces are [a-z]+ substrings — hash-safe by construction."""
    from pydi_spark.llmdata import bpe_segment, piece_stats, word_frequencies

    docs = _t(spark, sf_dir, "documents")
    wf = word_frequencies(docs, word_filter=r"^[a-z]+$")
    seg = bpe_segment(wf, [tuple(m) for m in _BPE_MERGES], mode="merge_replay")
    return piece_stats(seg, 40)


def q_text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer fertility under the fixed merge table
    (llmdata.bpe_fertility) — pieces per word occurrence, exact ppm."""
    from pydi_spark.llmdata import bpe_fertility

    docs = _t(spark, sf_dir, "documents")
    return bpe_fertility(
        docs, [tuple(m) for m in _BPE_MERGES], word_filter=r"^[a-z]+$"
    )


def q_text_search_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 top-50 and cosine top-50
    (query = embedding of vec_id 0, inlined as a double literal) fused
    by reciprocal rank (1/(60+rank), fixed-order sum — no
    transcendentals, bit-exact cross-engine). North-star RAG retrieval
    surface; the reference has none."""
    from pydi_spark.llmdata import hybrid_rrf_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return hybrid_rrf_topk(
        docs, emb, ["stream", "hash", "customer"], qvec, k=20, n_each=50
    )


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: posting lists as 'doc:tf' strings in
    ascending doc order, truncated at 20 entries (doc_freq keeps the
    full count so truncation is visible).

    Hash-safe output (round-4): tokens carry '/# and postings embed
    ':'/',' — both tripped the driver hasher in r03 (rows matched,
    hash didn't). Both engines emit md5(token) and md5(postings)."""
    from pydi_spark.llmdata import inverted_index

    docs = _t(spark, sf_dir, "documents")
    out = inverted_index(docs, max_postings=20)
    return out.select(
        F.md5(F.col("token").cast("binary")).alias("token_md5"),
        "doc_freq", "total_tf",
        F.md5(F.col("postings").cast("binary")).alias("postings_md5"),
    )


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token bins, per source in
    doc-id order (pretraining batching). Sequential within a source,
    parallel across sources (applyInPandas); the oracle replays the
    same scan as a recursive CTE stepping all sources in lockstep."""
    from pydi_spark.llmdata import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity_tokens=256)


def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup statistics (Lee et al. 2022): per-doc count
    of repeated 8-token spans and the fraction of tokens they cover.
    coverage_ratio is ONE double division — bit-exact cross-engine."""
    from pydi_spark.llmdata import exact_span_stats

    docs = _t(spark, sf_dir, "documents")
    return exact_span_stats(docs, span_tokens=8, min_docs=2)


def q_io_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 loader surface under the oracle gate (round-2 advice: io was
    the only family with zero oracle-backed rows). supplier/nation/region
    are written out of parquet into csv / jsonl / xml under the repo
    scratch dir, read back through load_csv / load_json / load_xml
    (reference loaders: PyDI/io/loaders.py:336-362, 434-500, 563-706),
    and three-way joined; the oracle runs the same join on the parquet
    views directly, so any loader type/row corruption breaks the hash.
    coalesce(1) keeps the scratch writes single-file — these are dim
    tables; the loaders themselves scan whatever file count exists."""
    import os

    from pydi_spark.io import load_csv, load_json, load_xml

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_roundtrip_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(
        base + "/nation_csv"
    )
    region.coalesce(1).write.mode("overwrite").json(base + "/region_json")
    supp.coalesce(1).write.mode("overwrite").format("xml").option(
        "rowTag", "supplier"
    ).save(base + "/supplier_xml")
    n = load_csv(spark, base + "/nation_csv", "nation_rt").df
    r = load_json(spark, base + "/region_json", "region_rt", multiline=False).df
    s = load_xml(spark, base + "/supplier_xml", "supplier_rt", record_tag="supplier").df
    return (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, F.col("n_regionkey") == r["r_regionkey"])
        .select(
            F.col("s_suppkey").cast("int").alias("s_suppkey"),
            F.col("s_name").cast("string").alias("s_name"),
            F.col("n_name").cast("string").alias("n_name"),
            F.col("r_name").cast("string").alias("r_name"),
        )
    )


def q_io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC loader/writer roundtrip (beyond the reference's format list):
    customer written to ORC, read back through load_orc, aggregated per
    market segment; the oracle aggregates the parquet view directly, so
    any type or row corruption in the ORC path breaks the hash."""
    import os

    from pydi_spark.io import load_orc, write_orc

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_orc_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    write_orc(cust, base)
    back = load_orc(spark, base, "customer_orc").df
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_bal"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )


def q_io_fwf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_fwf (reference io/loaders.py:365-431): nation written as a
    fixed-width text file (key left-justified to 5 chars, name to 20),
    read back through the splittable text+substring loader, compared to
    the parquet oracle directly."""
    import os

    from pydi_spark.io import load_fwf

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_fwf_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    nation = _t(spark, sf_dir, "nation").select(
        F.format_string(
            "%-5d%-20s", F.col("n_nationkey").cast("int"), F.col("n_name")
        ).alias("value")
    )
    nation.coalesce(1).write.mode("overwrite").text(base)
    out = load_fwf(
        spark, base, "nation_fwf", colspecs=[(0, 5), (5, 25)], columns=["nk", "nm"]
    ).df
    return out.select(
        F.col("nk").cast("int").alias("n_nationkey"),
        F.col("nm").alias("n_name"),
    )


def q_io_feather_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_feather (reference io/loaders.py:925-951): nation written to
    a Feather file with arrow on the driver, read back through the
    loader, compared to the parquet oracle directly. Driver-side by
    design — Feather is a small-file interchange format."""
    import os

    import pyarrow.feather as feather
    import pyarrow.parquet as pq

    from pydi_spark.io import load_feather

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_feather_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "nation.feather")
    feather.write_feather(
        pq.read_table(f"{sf_dir}/nation.parquet"), path
    )
    out = load_feather(spark, path, "nation_feather").df
    return out.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


def q_io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_orc / write_orc (beyond-reference format; Spark-native
    columnar interchange with the Hive/Trino world): supplier written
    to ORC through the engine's writer, read back through the loader,
    compared to the parquet oracle directly — the same roundtrip
    contract as io_feather_roundtrip, on the distributed path (ORC
    scans get pushdown/pruning like parquet)."""
    import os

    from pydi_spark.io import load_orc, write_orc

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_orc_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    path = os.path.join(base, "supplier.orc")
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    write_orc(supp, path)
    out = load_orc(spark, path, "supplier_orc").df
    return out.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
    )


def q_io_id_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distributed ID injection ({prefix}-0007 format,
    reference io/loaders.py:127-176): global rank via range partitioning
    + per-partition row_number + broadcast offsets (functions.ranks) —
    NOT a bare Window.orderBy, which would funnel the table through one
    partition."""
    from pydi_spark.core.ids import add_id_column

    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    out, idc = add_id_column(supp, "supplier", order_by=["s_suppkey"])
    return out.select(
        F.col(idc).alias("sid"),
        F.col("s_suppkey").cast("int").alias("s_suppkey"),
        "s_name",
    )


def q_io_explode_delimited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimiter-explode (reference io/loaders.py:886-922): split
    multi-valued string cells into rows on the ``and``/comma/semicolon
    pattern; the delimited input is synthesized from part columns."""
    from pydi_spark.io.readers import explode_delimited

    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("int").alias("pk"),
        F.concat(
            F.col("p_name"), F.lit(";"), F.col("p_brand"),
            F.lit(" and "), F.col("p_type"),
        ).alias("vals"),
    )
    return explode_delimited(part, "vals")


def q_canary_hash_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hasher drift canary, expected GREEN every round.

    One column per value class the hash-safe output convention relies
    on (NOTES.md): plain ints, a beyond-double-precision bigint, an
    exactly-representable double, ASCII and unicode strings, nulls in
    int and string columns, a CSV-joined array, an int-cast boolean,
    a backslash-escaped (not literal) newline, and an md5 of a
    quote/#-bearing token. If this row ever goes red in
    CORRECTNESS_r{N}, the driver's hasher changed its treatment of one
    of these classes — fix the convention before debugging queries."""
    df = spark.range(3).select(F.col("id").cast("int").alias("k"))
    return df.select(
        "k",
        (F.lit(9007199254740992).cast("bigint") + F.col("k")).alias("c_bigint"),
        (F.col("k").cast("double") * F.lit(0.25) + F.lit(0.5)).alias("c_double"),
        F.concat(F.lit("tok_"), F.col("k").cast("string")).alias("c_ascii"),
        F.concat(F.lit("café_π_"), F.col("k").cast("string")).alias("c_unicode"),
        F.when(F.col("k") == 1, F.lit(None)).otherwise(F.col("k")).cast("int").alias("c_null_int"),
        F.when(F.col("k") == 1, F.lit(None)).otherwise(F.lit("x")).alias("c_null_str"),
        F.array_join(
            F.transform(F.array(F.col("k"), F.col("k") + 1), lambda x: x.cast("string")), ","
        ).alias("c_joined_array"),
        (F.col("k") % 2 == 0).cast("int").alias("c_bool_int"),
        F.concat(F.lit("line1\\nline2_"), F.col("k").cast("string")).alias("c_escaped_nl"),
        F.md5(F.concat(F.lit("it's #"), F.col("k").cast("string")).cast("binary")).alias("c_token_md5"),
    )


def q_canary_hash_risky(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hasher probe, expected RED until the driver's hasher
    handles these classes: a raw boolean, a string with an embedded
    literal newline, a quote/#-bearing token string, and a -0.0 double.
    r03 pinpointed each class separately (text_budget_select = bool,
    text_clean = newline, text_vocabulary = quotes); this row keeps
    that diagnosis alive as drift detection — if it ever goes GREEN,
    the md5/escape/int-cast convention can be retired. Raw arrays are
    deliberately absent: they don't mismatch, they *error* the
    driver's pandas hashtable (r03 embed_quantize), which would mask
    this query's signal. Exempted by name from check_oracle's
    hash-safety enforcement."""
    df = spark.range(3).select(F.col("id").cast("int").alias("k"))
    return df.select(
        "k",
        (F.col("k") % 2 == 0).alias("r_bool"),
        F.concat(F.lit("a\nb_"), F.col("k").cast("string")).alias("r_newline"),
        F.concat(F.lit("it's #"), F.col("k").cast("string")).alias("r_quote"),
        F.when(F.col("k") == 0, F.lit(-0.0)).otherwise(F.col("k").cast("double")).alias("r_negzero"),
    )


def q_canary_hugeint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hasher probe for the round-5 root-cause theory of the
    r03/r04 text-family reds, expected RED.

    Every red window row (and no green one) carried an oracle output
    column produced by an UNCAST integer SUM — DuckDB types those
    HUGEINT (int128), and its pandas conversion renders HUGEINT as
    float64 while Spark's bigint arrives int64; the driver's
    pandas-based hasher distinguishes float 3.0 from int 3 even though
    rows_match/schema_match stay true. tools/check_oracle.py can't see
    this (fetchall() yields Python ints), so it now forbids the dtype
    class at the relation level instead, and this canary keeps one
    deliberate violation in the window: the oracle's ``s`` is an
    uncast sum (HUGEINT) of the same literals Spark sums to bigint.
    RED here + GREEN on the 7 re-cast text queries confirms the
    theory at the driver; GREEN here means the driver hasher became
    dtype-insensitive and the BIGINT casts can be retired."""
    df = spark.range(3).select(F.col("id").alias("k"))
    return df.groupBy((F.col("k") % 2).cast("int").alias("grp")).agg(
        F.sum("k").alias("s"), F.count("*").alias("c")
    )


def q_probe_corpus_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift probe (round-5 VERDICT #1b), expected GREEN.

    Emits per-source document-corpus checksums computed from the data;
    the oracle returns literals PINNED from the local testdata
    snapshot (2026-08-14), picking the sf0.001 or sf0.01 row set by
    the lineitem row count. RED here means the driver's
    documents.parquet differs from the snapshot these literals were
    derived from (regen between sessions) — which would also explain
    any residual text-family red without implicating the engines.
    Only valid at sf0.001/sf0.01 (the SFs the correctness gates run)."""
    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "source", "doc_id",
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.length("text").cast("bigint").alias("L"),
    )
    return per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("L").alias("sum_len"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "h"))),
                    lambda x: x["h"],
                ),
                ",",
            ).cast("binary")
        ).alias("corpus_md5"),
    )


def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-frequency (Zipf) head of the corpus (llmdata.zipf_table):
    heavy-hitter diagnostic before tokenizer training. cum_share is one
    division of exact integer aggregates; tokens are md5'd per the
    hash-safe window convention. The cumulative window runs on the 200
    sort+limit survivors, never the vocabulary (the BM25 lesson)."""
    from pydi_spark.llmdata import zipf_table

    docs = _t(spark, sf_dir, "documents")
    out = zipf_table(docs, top=200)
    return out.select(
        F.md5(F.col("token").cast("binary")).alias("token_md5"),
        F.col("count").alias("cnt"),
        "rank",
        "cum_count",
        F.round("cum_share", 6).alias("cum_share"),
    )


def q_text_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram contamination matrix
    (llmdata.cross_source_overlap): distinct shared word bigrams per
    source pair, jaccard = exact int/int division. Grams join on 60-bit
    md5 ints (verify-on-hashes rule: the oracle hashes identically, so
    a collision strikes both engines the same)."""
    from pydi_spark.llmdata import cross_source_overlap

    docs = _t(spark, sf_dir, "documents")
    out = cross_source_overlap(docs, n=2)
    return out.select(
        "source_a",
        "source_b",
        "n_shared",
        "n_a",
        "n_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-ngram importance scoring (llmdata.dsir_scores,
    target = English documents): per-doc target/source bucket masses
    are exact integer aggregates; the published ratio is three IEEE
    divisions of integer-valued doubles floored to a micro-int —
    bit-reproducible cross-engine."""
    from pydi_spark.llmdata import dsir_scores

    docs = _t(spark, sf_dir, "documents")
    out = dsir_scores(docs, F.col("lang") == "en", n_buckets=256)
    return out.select(
        "doc_id", "n_tokens", "target_mass", "source_mass", "ratio_micro"
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup (streaming.streaming_dedup,
    dropDuplicates within the watermark horizon) driven as a real
    bounded stream. Key-only projection: WHICH row of a key survives
    depends on micro-batch internals, but the emitted key set is
    exactly the distinct (user_id, event_type) pairs — what the oracle
    checks (the stateful_ttl precedent)."""
    from pydi_spark.streaming.dedup import run_stream_from_parquet, streaming_dedup

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = run_stream_from_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        # the parquet ts is TIMESTAMP_NTZ; watermarks require an
        # event-time TIMESTAMP — cast under the pinned UTC session TZ
        lambda s: streaming_dedup(
            s.withColumn("ts", F.col("ts").cast("timestamp")),
            ["user_id", "event_type"],
        ),
        output_mode="append",
        query_name="q_streaming_dedup_contract",
    )
    return got.select(F.col("user_id").cast("bigint"), "event_type")


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no l_shipmode/commitdate/receiptdate in the
    testdata): priority mix per shipping-delay bucket —
    datediff(shipdate, orderdate) classed fast/medium/slow, counting
    high- vs low-priority lines. All-int output."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay <= 30, F.lit("1-fast"))
        .when(delay <= 60, F.lit("2-medium"))
        .otherwise(F.lit("3-slow"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(bucket.alias("delay_bucket"))
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted (no partsupp; supplier-complaint comment
    filter becomes a negative-balance exclusion): supplier diversity
    per (p_brand, p_type, p_size) over lineitem, excluding Brand#1 and
    suppliers in arrears. count(distinct) + strings — hash-safe."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 23, 36, 49)
    )
    excl = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(excl), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
        .limit(40)
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted (no partsupp availqty): dominant suppliers —
    suppliers who shipped more than half of a blue part's total 1996
    quantity. l_quantity is integral, so the per-(part, supplier) and
    per-part sums are exact in doubles and `qty > 0.5 * total` is
    divergence-free."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("blue%"))
    supp = _t(spark, sf_dir, "supplier")
    per_ps = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    per_part = per_ps.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    dominant = per_ps.join(per_part, "l_partkey").where(
        F.col("qty") > F.lit(0.5) * F.col("total_qty")
    )
    return (
        dominant.join(
            F.broadcast(supp), dominant["l_suppkey"] == supp["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("n_dominant_parts"))
        .orderBy(F.desc("n_dominant_parts"), "s_name")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted (late = shipped >60 days after the order date;
    no receipt/commit dates in the testdata): suppliers who were the
    SOLE late shipper on a finished multi-supplier order. The
    exists/not-exists pair compiles to one semi and one anti shuffle
    join on the order key — no correlated per-row subqueries."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l1 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    ).dropDuplicates()
    late_others = l1.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_supp")
    ).dropDuplicates()
    has_other = l1.join(
        others,
        (l1["l_orderkey"] == others["o_key"])
        & (l1["l_suppkey"] != others["o_supp"]),
        "left_semi",
    )
    sole_late = has_other.join(
        late_others,
        (has_other["l_orderkey"] == late_others["o_key"])
        & (has_other["l_suppkey"] != late_others["o_supp"]),
        "left_anti",
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        sole_late.join(
            F.broadcast(supp), sole_late["l_suppkey"] == supp["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted (no partsupp: "important stock" becomes
    important part revenue through NATION_3's suppliers). The decimal
    sums are exact; the HAVING threshold compares their double casts
    (`value > total * 0.001`) — the SAME two exact decimals cast and
    multiplied by the SAME literal on both engines is one fixed IEEE
    expression tree, bit-identical (multiplying the decimals directly
    would hit Spark's precision-cap rescaling instead)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    nat_supp = supp.join(
        F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"]
    ).select(F.col("s_suppkey").alias("l_suppkey"))
    per_part = (
        li.join(F.broadcast(nat_supp), "l_suppkey")
        .groupBy("l_partkey")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).alias(
                "__value"
            )
        )
    )
    total = per_part.agg(F.sum("__value").alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("__value").cast("double")
            > F.col("__total").cast("double") * F.lit(0.001)
        )
        .select(
            "l_partkey", F.col("__value").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def _classifier_weights() -> list[int]:
    """Deterministic seed-19 micro-weights for the 256 token buckets —
    injected like the PQ codebooks (training via
    train_quality_classifier is driver-side logistic regression and
    stays pytest-only; the SCORING path is what the oracle checks)."""
    import numpy as np

    rng = np.random.RandomState(19)
    return [int(x) for x in rng.randint(-500000, 500001, 256)]


def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier
    (llmdata.linear_quality_classifier): hashed-unigram bucket counts
    against injected integer micro-weights. margin_micro is an exact
    integer aggregate (bias + sum(count_b * w_b)); keep = margin >= 0
    int-cast per the hash-safe convention."""
    from pydi_spark.llmdata import linear_quality_classifier

    docs = _t(spark, sf_dir, "documents")
    out = linear_quality_classifier(
        docs, _classifier_weights(), bias_micro=250000
    )
    return out.select("doc_id", "n_tokens", "margin_micro", "keep")


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (streaming.stream_static_enrich):
    the events stream joins a broadcast customer dimension per
    micro-batch — stateless, no watermark, and the identical plan runs
    as a batch join, which is the oracle."""
    from pydi_spark.streaming import stream_static_enrich
    from pydi_spark.streaming.dedup import run_stream_from_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    got = run_stream_from_parquet(
        spark,
        f"{sf_dir}/events.parquet",
        lambda s: stream_static_enrich(s, dim, "user_id"),
        output_mode="append",
        query_name="q_streaming_enrich_contract",
    )
    return got.select(
        F.col("event_id").cast("bigint"),
        F.col("user_id").cast("bigint"),
        "event_type",
        "c_mktsegment",
    )


def q_blocking_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking (blocking.meta_blocking; SparkER EDBT 2019 /
    Efthymiou et al.): weight the token-blocking graph over small
    parts by Jaccard-of-block-sets (integer ppm) and prune with WNP.
    The >= node-mean test runs as the exact integer cross-multiply
    ``w_ppm * deg >= sum_w`` — no float mean anywhere, so the kept
    edge set is bit-portable."""
    from pydi_spark.blocking import meta_blocking

    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    assignments = part.select(
        F.col("p_partkey").cast("string").alias("rid"),
        F.explode(F.split(F.col("p_name"), " ")).alias("block_key"),
    )
    out = meta_blocking(
        assignments, weighting="js", pruning="wnp", max_block_size=1000
    )
    return out.select("id1", "id2", "cbs", "w_ppm")


def q_blocking_meta_cnp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking's other two stages under the gate: block filtering
    (each entity keeps the ceil(0.8·|B_e|) smallest of its blocks —
    (size asc, key asc) total order) and CNP pruning (top-3 edges per
    node by CBS weight, union of directions). All-integer weights."""
    from pydi_spark.blocking import meta_blocking

    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    assignments = part.select(
        F.col("p_partkey").cast("string").alias("rid"),
        F.explode(F.split(F.col("p_name"), " ")).alias("block_key"),
    )
    out = meta_blocking(
        assignments,
        weighting="cbs",
        pruning="cnp",
        top_k=3,
        block_filter_ratio=0.8,
    )
    return out.select("id1", "id2", "cbs", "w_ppm")


def q_extract_llm_fake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLMExtractor through the deterministic fake client
    (extraction.llm; reference informationextraction/llm.py:35-606):
    schema-guided extraction over synthesized 'key: value' part
    descriptions. The fake pulls each field by a case-insensitive
    keyword regex — SQL-replayable via regexp_extract, so the whole
    mapInPandas prompt/parse plumbing sits under the oracle gate (the
    match_llm_fake precedent). Values come from p_name/p_size only
    (clean lowercase ASCII — no '#'/quote hasher risk)."""
    from pydi_spark.extraction.llm import LLMExtractor

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat_ws(
            "",
            F.lit("name: "),
            F.col("p_name"),
            F.lit("; size: "),
            F.col("p_size").cast("string"),
        ).alias("text"),
    )
    out = LLMExtractor(fields=["name", "size"]).extract(part, "text")
    return out.select(
        "p_partkey",
        F.col("name").alias("name_value"),
        F.col("size").alias("size_value"),
    )


def q_io_list_to_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """list→string rendering (io.readers.list_to_string; reference
    io/loaders.py:85-107): split each document into a token array and
    join it back with '|'. md5'd per the hash-safe window convention
    (the joined string is raw corpus text)."""
    from pydi_spark.io.readers import list_to_string

    docs = _t(spark, sf_dir, "documents").withColumn(
        "arr", F.split(F.col("text"), " ")
    )
    return docs.select(
        "doc_id",
        F.md5(list_to_string("arr", "|").cast("binary")).alias("joined_md5"),
        F.size("arr").alias("n_items"),
    )


def q_match_vector_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VectorFeatureExtractor's distance stage
    (matching.vector_distance_features; reference
    feature_extraction.py:230-593) over consecutive embedding pairs:
    cosine/euclidean/manhattan as explicit left folds. Vectors are
    cast to double BEFORE the folds — float32 arithmetic in Spark
    would diverge from DuckDB's DOUBLE[] list ops."""
    from pydi_spark.matching.feature_extraction import vector_distance_features

    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    l = emb.select(F.col("vec_id").alias("id1"), v.alias("vec_l"))
    r = emb.select(F.col("vec_id").alias("id2"), v.alias("vec_r"))
    pairs = l.withColumn("id2", F.col("id1") + 1).join(r, "id2")
    out = vector_distance_features(pairs, "vec_l", "vec_r")
    return out.select(
        "id1",
        "id2",
        F.round("dist_cosine", 6).alias("dist_cosine"),
        F.round("dist_euclidean", 6).alias("dist_euclidean"),
        F.round("dist_manhattan", 6).alias("dist_manhattan"),
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 adapted (no partsupp/region tables: "minimum supply
    cost" becomes the minimum observed lineitem price): the cheapest
    supplier per STANDARD small part, with supplier/nation detail.
    The correlated min-subquery is an arg-min `min_by` hash aggregate
    over the UNIQUE (price, suppkey) struct order — map-side
    combinable, no rank window, no re-join of the min back onto the
    detail rows. Completes the adapted TPC-H q1-q22 sweep."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") < 10)
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cheapest = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_partkey")
        .agg(
            F.first("p_name").alias("p_name"),
            F.min("l_extendedprice").alias("min_price"),
            F.min_by(
                "l_suppkey", F.struct("l_extendedprice", "l_suppkey")
            ).alias("best_supp"),
        )
    )
    return (
        cheapest.join(
            F.broadcast(supp), cheapest["best_supp"] == supp["s_suppkey"]
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == nation["n_nationkey"],
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            "s_name",
            "n_name",
            "min_price",
        )
        .orderBy("min_price", "p_partkey")
        .limit(100)
    )


def _pq_codebooks() -> list[list[list[float]]]:
    """Deterministic injected PQ codebooks (8 subspaces x 16 centroids
    x 8 dims), seed-11 — the ann_lsh hyperplane pattern: the oracle
    regenerates them from the same numpy code and inlines literals.
    (Training codebooks from data via train_pq_codebooks is the
    production path; k-means isn't SQL-able, so it stays pytest-only —
    the ann_ivf split.)"""
    import numpy as np

    rng = np.random.RandomState(11)
    cb = rng.uniform(-0.35, 0.35, size=(8, 16, 8))
    return [[[float(x) for x in c] for c in s] for s in cb]


def _pq_query_vec() -> list[float]:
    """Deterministic seed-13 query vector for the ADC top-k contract
    query (data-independent, so the oracle can inline the distance
    table)."""
    import numpy as np

    rng = np.random.RandomState(13)
    return [float(x) for x in rng.uniform(-0.5, 0.5, size=64)]


def _pq_dt_rows() -> list[tuple[int, int, int]]:
    """(subspace, code, d_micro) ADC distance table — the same
    left-fold float ops as pq_adc_topk's driver loop, so the literals
    the oracle inlines are bit-identical to what the Spark query
    broadcasts."""
    import math

    cbs = _pq_codebooks()
    q = _pq_query_vec()
    sub = len(cbs[0][0])
    rows = []
    for s, cents in enumerate(cbs):
        qs = q[s * sub : (s + 1) * sub]
        for c, cent in enumerate(cents):
            acc = 0.0
            for x, y in zip(qs, cent):
                acc = acc + (x - y) * (x - y)
            rows.append((s, c, int(math.floor(acc * 1000000.0))))
    return rows


def _pq_encode_cte() -> str:
    """Shared oracle CTE: seed-11 codebooks inlined as literals,
    squared-L2 as the same left fold (comprehension + list_reduce over
    a 0.0-prepended list == zip_with + aggregate), rank-1 assignment
    under the (dist, centroid) total order — distances are
    bit-identical so the argmin is portable (the dedup_semantic
    precedent)."""
    cents = ", ".join(
        "(%d, %d, [%s]::DOUBLE[])"
        % (s, c, ", ".join(repr(x) for x in vec))
        for s, sub in enumerate(_pq_codebooks())
        for c, vec in enumerate(sub)
    )
    return f"""
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
      FROM embeddings),
cent AS (SELECT * FROM (VALUES {cents}) AS t(subspace, centroid, cvec)),
sl AS (SELECT vec_id, sub, list_slice(e, sub * 8 + 1, sub * 8 + 8) AS svec
       FROM v CROSS JOIN range(0, 8) r(sub)),
pqd AS (SELECT vec_id, sub, centroid,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            [(svec[i] - cvec[i]) * (svec[i] - cvec[i]) for i in range(1, 9)]),
            (a, b) -> a + b) AS dist
        FROM sl JOIN cent ON sl.sub = cent.subspace),
enc AS (SELECT CAST(vec_id AS BIGINT) vec_id, CAST(sub AS INT) subspace,
               CAST(centroid AS INT) code
        FROM pqd
        QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY dist, centroid) = 1)
"""


def _pq_encode_oracle_sql() -> str:
    return f"WITH {_pq_encode_cte()} SELECT vec_id, subspace, code FROM enc"


def _pq_topk_oracle_sql() -> str:
    """ADC replay: the (subspace, code, d_micro) table is computed by
    the SAME Python float loop the Spark query broadcasts
    (_pq_dt_rows), inlined as literals; the per-id ADC sum is then an
    exact integer aggregate on both engines."""
    dt = ", ".join(
        f"({s}, {c}, {d})" for s, c, d in _pq_dt_rows()
    )
    return f"""
WITH {_pq_encode_cte()},
dtt AS (SELECT * FROM (VALUES {dt}) AS t(sub2, code2, d_micro)),
adc AS (SELECT vec_id, CAST(sum(d_micro) AS BIGINT) AS adc_micro
        FROM enc JOIN dtt ON enc.subspace = dtt.sub2 AND enc.code = dtt.code2
        GROUP BY vec_id)
SELECT vec_id, adc_micro,
       CAST(row_number() OVER (ORDER BY adc_micro, vec_id) AS INT) AS rank
FROM adc ORDER BY adc_micro, vec_id LIMIT 50
"""


def _ivfpq_coarse() -> list[list[float]]:
    """Deterministic seed-17 coarse-quantizer centroids (4 cells x 64
    dims) for the IVF-PQ contract query — injected like the PQ
    codebooks; the sample-k-means training path is pytest-only."""
    import numpy as np

    rng = np.random.RandomState(17)
    return [[float(x) for x in c] for c in rng.uniform(-0.5, 0.5, (4, 64))]


def _ivfpq_oracle_sql(k: int = 50, nprobe: int = 2) -> str:
    """Full IVF-PQ replay: coarse assignment (rank-1 over the same
    squared-L2 fold), residual computation, residual PQ encode, and the
    ADC join against per-cell distance tables computed by the SAME
    Python float loop the Spark query broadcasts."""
    import math

    coarse = _ivfpq_coarse()
    cbs = _pq_codebooks()
    q = _pq_query_vec()

    def sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    cell_d = sorted((sq(q, c), i) for i, c in enumerate(coarse))
    probed = sorted(i for _, i in cell_d[:nprobe])
    sub = len(cbs[0][0])
    dt_rows = []
    for cell in probed:
        qres = [x - y for x, y in zip(q, coarse[cell])]
        for s, cb in enumerate(cbs):
            qs = qres[s * sub : (s + 1) * sub]
            for ci, cent in enumerate(cb):
                dt_rows.append(
                    (cell, s, ci, int(math.floor(sq(qs, cent) * 1000000.0)))
                )
    cc = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (i, ", ".join(repr(x) for x in c))
        for i, c in enumerate(coarse)
    )
    cents = ", ".join(
        "(%d, %d, [%s]::DOUBLE[])"
        % (s, c, ", ".join(repr(x) for x in vec))
        for s, subl in enumerate(cbs)
        for c, vec in enumerate(subl)
    )
    dt = ", ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in dt_rows)
    return f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
           FROM embeddings),
cc AS (SELECT * FROM (VALUES {cc}) AS t(cell, ccvec)),
sc AS (SELECT vec_id, cell, e, ccvec,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [(e[i] - ccvec[i]) * (e[i] - ccvec[i]) for i in range(1, 65)]),
           (a, b) -> a + b) AS d
       FROM v CROSS JOIN cc),
asg AS (SELECT vec_id, cell,
          [e[i] - ccvec[i] for i in range(1, 65)] AS res
        FROM sc
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d, cell) = 1),
cent AS (SELECT * FROM (VALUES {cents}) AS t(subspace, centroid, cvec)),
sl AS (SELECT vec_id, cell, sub, list_slice(res, sub * 8 + 1, sub * 8 + 8) AS svec
       FROM asg CROSS JOIN range(0, 8) r(sub)),
pqd AS (SELECT vec_id, cell, sub, centroid,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            [(svec[i] - cvec[i]) * (svec[i] - cvec[i]) for i in range(1, 9)]),
            (a, b) -> a + b) AS dist
        FROM sl JOIN cent ON sl.sub = cent.subspace),
enc AS (SELECT vec_id, cell, sub, centroid AS code
        FROM pqd
        QUALIFY row_number() OVER (PARTITION BY vec_id, sub
                                   ORDER BY dist, centroid) = 1),
dtt AS (SELECT * FROM (VALUES {dt}) AS t(cell2, sub2, code2, d_micro)),
adc AS (SELECT CAST(vec_id AS BIGINT) vec_id, CAST(enc.cell AS INT) cell,
               CAST(sum(d_micro) AS BIGINT) AS adc_micro
        FROM enc JOIN dtt ON enc.cell = dtt.cell2 AND enc.sub = dtt.sub2
                          AND enc.code = dtt.code2
        GROUP BY vec_id, enc.cell)
SELECT vec_id, cell, adc_micro,
       CAST(row_number() OVER (ORDER BY adc_micro, vec_id) AS INT) AS rank
FROM adc ORDER BY adc_micro, vec_id LIMIT {k}
"""


def q_embed_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-50 (llmdata.ivfpq_topk, the FAISS-style composition:
    coarse quantizer -> residual PQ -> nprobe-limited ADC scan) under
    injected seed-17 coarse centroids + seed-11 codebooks. Every
    distance is the explicit left fold; ADC tables are micro-int so the
    per-id sum is an exact integer aggregate."""
    from pydi_spark.llmdata import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        emb, _ivfpq_coarse(), _pq_codebooks(), _pq_query_vec(), k=50, nprobe=2
    )
    return out.select(
        F.col("id").cast("bigint").alias("vec_id"),
        F.col("cell").cast("int").alias("cell"),
        "adc_micro",
        "rank",
    )


def q_embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (llmdata.pq_encode, Jegou et al.
    2011): nearest codebook centroid per 8-dim slice under injected
    seed-11 codebooks. Squared-L2 is an explicit left fold — the
    rank-1 assignment is bit-deterministic cross-engine. Output is the
    narrow all-int (id, subspace, code) triple."""
    from pydi_spark.llmdata import pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    out = pq_encode(emb, _pq_codebooks())
    return out.select(
        F.col("id").cast("bigint").alias("vec_id"), "subspace", "code"
    )


def q_embed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-50 over PQ codes (llmdata.pq_adc_topk):
    per-subspace distances are floored to micro-ints BEFORE the per-id
    sum, so ADC is an exact integer aggregate (order-free) and the
    ranking a total order on (adc_micro, id)."""
    from pydi_spark.llmdata import pq_adc_topk, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    codes = pq_encode(emb, _pq_codebooks())
    out = pq_adc_topk(codes, _pq_codebooks(), _pq_query_vec(), k=50)
    return out.select(
        F.col("id").cast("bigint").alias("vec_id"), "adc_micro", "rank"
    )


def q_io_excel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_excel under the oracle gate (round-5 VERDICT #5; reference
    io/loaders.py:532-560 with the {base}_{sheet} fan-out :308-326):
    supplier+nation written to a two-sheet xlsx via the pure-stdlib
    SpreadsheetML codec (io/xlsx.py — openpyxl isn't in this runtime,
    so load_excel's fallback path is exactly what production hits),
    read back through the loader, three-way joined; the oracle runs
    the same join on the parquet views, so any codec/loader type or
    row corruption breaks the hash."""
    import os

    from pydi_spark.io import load_excel, write_excel

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_excel_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "book.xlsx")
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    write_excel({"supplier": supp, "nation": nat}, path)
    loaded = load_excel(spark, path, "book")
    s = loaded["book_supplier"].df
    n = loaded["book_nation"].df
    return s.join(n, s["s_nationkey"] == n["n_nationkey"]).select(
        F.col("s_suppkey").cast("int").alias("s_suppkey"),
        "s_name",
        "n_name",
    )


def q_io_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_html under the oracle gate (round-5 VERDICT #5; reference
    io/loaders.py:985-1012): nation+region rendered to one HTML page
    with two tables, read back through the loader's stdlib fallback
    (lxml/bs4 absent in this runtime), joined; oracle = the same join
    on the parquet views."""
    import os

    from pydi_spark.io import load_html, write_html_page

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_html_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "page.html")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    write_html_page({"nation": nat, "region": reg}, path)
    loaded = load_html(spark, path, "page")
    n = loaded["page_0"].df
    r = loaded["page_1"].df
    return n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        "r_name",
    )


def q_units_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct unit-to-unit conversion (round-5 VERDICT #6; reference
    UnitConverter units.py:483-524 / convert_units :729-765): supplier
    balances converted through four category-representative pairs plus
    one deliberate category mismatch (null + ok=0). The converted
    doubles are single fixed IEEE expression trees (value * factor_from
    / factor_to, affine pivot for temperature), so the oracle replays
    them with the same dimension-table literals — bit-identical, no
    rounding."""
    from pydi_spark.normalization import convert_units

    m = F.col("s_suppkey") % 9
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("int").alias("key"),
        F.col("s_acctbal").alias("v"),
        F.when(m == 0, "km").when(m == 1, "kg").when(m == 2, "h")
        .when(m == 3, "f").when(m == 4, "kwh").when(m == 5, "bar")
        .when(m == 6, "n").when(m == 7, "deg").otherwise("km")
        .alias("from_unit"),
        F.when(m == 0, "mi").when(m == 1, "lb").when(m == 2, "min")
        .when(m == 3, "k").when(m == 4, "j").when(m == 5, "psi")
        .when(m == 6, "lbf").when(m == 7, "rad").otherwise("kg")
        .alias("to_unit"),
    )
    out = convert_units(supp, "v", "from_unit", "to_unit")
    return out.select("key", "from_unit", "to_unit", "converted",
                      "converted_ok")


def q_normalize_locale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locale-aware numeric parsing (round-5 VERDICT #7; reference
    NumericParser via Babel, normalization/types.py:383-743): customer
    balances rendered into de/fr/de_CH/en-formatted strings with exact
    integer arithmetic (grouping dots, NBSP-free spaces, apostrophes,
    $-prefix), parsed back through parse_numeric(locale=...). Each
    parsed double equals cents/100.0 — one correctly-rounded IEEE op on
    both engines."""
    from pydi_spark.normalization.parsers import parse_numeric

    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("key"),
        F.floor(F.abs(F.col("c_acctbal")) * 100.0).cast("bigint").alias("cents"),
    )
    ip = F.expr("cents div 100")
    th = F.expr("(cents div 100) div 1000")
    rem = F.expr("(cents div 100) % 1000")
    fr2 = F.col("cents") % 100
    grouped = lambda sep: F.when(
        th > 0,
        F.concat(th.cast("string"), F.lit(sep),
                 F.lpad(rem.cast("string"), 3, "0")),
    ).otherwise(ip.cast("string"))
    frac2 = F.lpad(fr2.cast("string"), 2, "0")
    strs = cust.select(
        "key", "cents",
        F.concat(grouped("."), F.lit(","), frac2).alias("de_str"),
        F.concat(grouped(" "), F.lit(","), frac2).alias("fr_str"),
        F.concat(grouped("'"), F.lit("."), frac2).alias("ch_str"),
        F.concat(F.lit("$"), grouped(","), F.lit("."), frac2).alias("en_str"),
    )
    return strs.select(
        "key", "cents",
        parse_numeric("de_str", locale="de").alias("de_parsed"),
        parse_numeric("fr_str", locale="fr").alias("fr_parsed"),
        parse_numeric("ch_str", locale="de_CH").alias("ch_parsed"),
        parse_numeric("en_str", locale="en").alias("en_parsed"),
    )


def q_text_span_remove(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-substring dedup TRANSFORM (round-5; Lee et
    al. 2022): repeated 8-token spans keep their first corpus
    occurrence under the (doc_id, pos) total order, later occurrences'
    token positions are dropped, text reassembled. The destructive
    counterpart of text_span_dedup's statistics. md5(clean_text) keeps
    the output hash-safe; counts are count(*) bigints (never uncast
    sums — the round-5 HUGEINT rule)."""
    from pydi_spark.llmdata import remove_repeated_spans

    docs = _t(spark, sf_dir, "documents")
    out = remove_repeated_spans(docs, span_tokens=8, min_docs=2)
    return out.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        "n_tokens_total",
        "n_tokens_kept",
    )


def q_blocking_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive (pay-as-you-go) ER ordering (round-5;
    blocking.progressive_pairs): the full JS-weighted token-blocking
    graph over small parts, ranked best-first and truncated at a
    500-pair budget. Rank ties break on the (w_ppm desc, id1, id2)
    total order, so the emission prefix is deterministic and the
    oracle replays it with ORDER BY + LIMIT."""
    from pydi_spark.blocking import progressive_pairs

    part = _t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    assignments = part.select(
        F.col("p_partkey").cast("string").alias("rid"),
        F.explode(F.split(F.col("p_name"), " ")).alias("block_key"),
    )
    return progressive_pairs(
        assignments, budget=500, weighting="js", max_block_size=1000
    )


def q_io_pickle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """load_pickle under the oracle gate (reference io/loaders.py:
    954-984 — the LAST §2.1 loader row, previously a documented drop;
    round 5 ships it behind an explicit allow_unsafe opt-in): nation
    written to a self-produced pandas pickle, read back through the
    loader, compared to the parquet oracle directly."""
    import os

    import pandas as pd
    import pyarrow.parquet as pq

    from pydi_spark.io import load_pickle

    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "spark-warehouse",
        "io_pickle_" + os.path.basename(os.path.normpath(sf_dir)),
    )
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "nation.pkl")
    pq.read_table(f"{sf_dir}/nation.parquet").to_pandas().to_pickle(path)
    out = load_pickle(spark, path, "nation_pickle", allow_unsafe=True).df
    return out.select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    )


def q_text_corpus_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4/RefinedWeb cleanup cascade as ONE composition (round-5;
    llmdata.corpus_cleanup): blocklist gate -> exact dedup -> SimHash
    near-dup keep-min, returning the per-stage attrition report. The
    id_digest (bit-XOR of 60-bit md5-prefix id hashes — order-free,
    overflow-free, bigint in both engines) pins WHICH documents
    survive each stage, so the oracle checks set identity, not just
    counts."""
    from pydi_spark.llmdata import corpus_cleanup

    docs = _t(spark, sf_dir, "documents")
    _clean, report = corpus_cleanup(
        docs, ["error", "slow", "skew"], max_hamming=3
    )
    return report


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH banding S-curve (round-5; llmdata.lsh_recall_probe):
    exact all-pairs Jaccard vs band-candidate status on a deterministic
    100-doc md5-ordered sample, bucketed by Jaccard decile. recall_ppm
    is an exact integer division; the jaccard doubles are identical
    expression trees on both engines, so floor(j*10) buckets match
    bit-for-bit. The sample cross join is k^2 by design (plan_audit
    allowance) — never corpus-sized."""
    from pydi_spark.llmdata import lsh_recall_probe

    docs = _t(spark, sf_dir, "documents")
    return lsh_recall_probe(docs, sample_k=100, num_hashes=16, bands=4)


# ---------------------------------------------------------------- round-6
# session-2 additions (rotation queue for the r7 window)

# shared FS configuration: the micro log2 weights are derived ONCE here
# and inlined as literals in the oracle (the ann_lsh injected-artifact
# pattern) — scoring is an exact integer aggregate on both engines
def _fs_weights():
    from pydi_spark.matching import fs_weights_from_mu

    return fs_weights_from_mu([0.9, 0.85, 0.8], [0.1, 0.2, 0.3])


def q_match_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic linkage over the nation-blocked
    supplier x customer pairs: three binary gammas (name levenshtein,
    acctbal within-range, phone levenshtein) weighted by injected
    integer-micro log2 m/u weights — score_micro is an exact integer
    sum (matching/fellegi_sunter.py; EM training is pytest-only like
    the k-means trainers)."""
    from pydi_spark.blocking import StandardBlocker
    from pydi_spark.functions.comparators import (
        NumericComparator,
        StringComparator,
    )
    from pydi_spark.matching import FellegiSunterMatcher

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"), F.col("s_nationkey").alias("k"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"), F.col("c_nationkey").alias("k"),
    )
    pairs = StandardBlocker(on=["k"]).block(supp, cust, id_column="rid")
    matcher = FellegiSunterMatcher(
        features=[
            (StringComparator("name", "levenshtein"), 0.3),
            (NumericComparator("bal", method="within_range",
                               max_difference=1000.0), 0.5),
            # second comparator on the same attribute exercises the
            # gamma-name dedup (-> gamma_bal_2)
            (NumericComparator("bal", method="relative_difference"), 0.9),
        ],
        weights=_fs_weights(),
    )
    return matcher.match(supp, cust, pairs, id_column="rid")


def q_blocking_phonetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PhoneticBlocker: part self-join on the Soundex of the first
    p_name token (functions/phonetic.py — the expression-chain Soundex
    whose SQL text is shared verbatim with the oracle builder)."""
    from pydi_spark.functions import PhoneticBlocker

    part = _t(spark, sf_dir, "part")
    return PhoneticBlocker(column="p_name", first_token_only=True).block(
        part, id_column="p_partkey"
    )


def q_join_grid_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed euclidean radius join (functions/joins.py
    grid_distance_join): integer micro-coordinates derived
    deterministically from md5 so the exact-integer dist2 replays in
    SQL; the oracle is the brute-force pair definition — an independent
    characterization, not a replay."""
    from pydi_spark.functions import grid_distance_join

    def pts(df, key, tag):
        kid = F.col(key).cast("string")
        def coord(axis):
            h = F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{tag}{axis}:"), kid).cast("binary")),
                    1, 6,
                ), 16, 10,
            ).cast("long")
            return (h % 1000000).alias(axis)
        return df.select(kid.alias("id"), coord("x"), coord("y"))

    cust = pts(_t(spark, sf_dir, "customer"), "c_custkey", "c")
    supp = pts(_t(spark, sf_dir, "supplier"), "s_suppkey", "s")
    return grid_distance_join(cust, supp, "x", "y", 50000, id_column="id")


def q_io_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (io/diff.py table_diff): new = orders with keys
    %13==0 removed, o_orderstatus overwritten for %7==0, and %11==0
    rows re-added under shifted keys — statuses added/removed/changed
    out of a keyed full-outer digest compare."""
    from pydi_spark.io import table_diff

    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    orders = _t(spark, sf_dir, "orders").select(*cols)
    key = F.col("o_orderkey")
    base = orders.where(key % 13 != 0).withColumn(
        "o_orderstatus",
        F.when(key % 7 == 0, F.lit("X")).otherwise(F.col("o_orderstatus")),
    )
    added = orders.where(key % 11 == 0).select(
        (key + 100000000).alias("o_orderkey"),
        "o_orderstatus", "o_orderpriority",
    )
    new = base.unionByName(added)
    return table_diff(orders, new, "o_orderkey")


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle containment |A∩B| / min(|A|,|B|)
    (llmdata/dedup.py ngram_containment_duplicates) — catches
    subset/wrapper duplication that Jaccard misses."""
    from pydi_spark.llmdata import ngram_containment_duplicates

    docs = _t(spark, sf_dir, "documents")
    out = ngram_containment_duplicates(
        docs, shingle_size=3, containment_threshold=0.6,
        max_shingle_frequency=None,
    )
    return out.select("id1", "id2", F.round("containment", 6).alias("containment"))


_FD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_profile_fds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact functional-dependency check over ordered column pairs of
    orders (profiling/dependencies.py discover_fds — TANE-style
    characterization n_det == n_pair, ONE aggregation pass for all
    pairs; o_orderkey is the key so its FDs hold, the rest don't)."""
    from pydi_spark.profiling import discover_fds

    return discover_fds(_t(spark, sf_dir, "orders"), _FD_COLS)


def q_profile_inds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency candidates across tables
    (profiling/dependencies.py discover_inds — SPIDER-style distinct
    domains + anti-join): FK-shaped pairs hold, reversed/cross pairs
    report their missing-value counts."""
    from pydi_spark.profiling import discover_inds

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return discover_inds(
        [
            (orders, "o_custkey", cust, "c_custkey"),
            (supp, "s_suppkey", cust, "c_custkey"),
            (cust, "c_custkey", supp, "s_suppkey"),
            (nation, "n_nationkey", region, "r_regionkey"),
        ],
        names=[
            ("orders.o_custkey", "customer.c_custkey"),
            ("supplier.s_suppkey", "customer.c_custkey"),
            ("customer.c_custkey", "supplier.s_suppkey"),
            ("nation.n_nationkey", "region.r_regionkey"),
        ],
    )


def q_normalize_fd_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FD-violation repair by majority vote (normalization/repair.py):
    enforce o_custkey -> o_orderpriority on orders; the winner is
    (count DESC, value ASC) — a total order, so the repair is
    deterministic and SQL-replayable."""
    from pydi_spark.normalization import repair_fd_violations

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    out = repair_fd_violations(orders, "o_custkey", "o_orderpriority")
    return out.select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.col("__repaired").alias("repaired"),
    )


def q_profile_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key (unique column combination) discovery over orders
    column combos up to size 2 (profiling/dependencies.py
    discover_keys — one aggregation pass; nulls compare equal)."""
    from pydi_spark.profiling import discover_keys

    return discover_keys(_t(spark, sf_dir, "orders"), _FD_COLS, max_size=2)


def q_io_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against SCD2 history (io/cdc.py
    point_in_time_join — the consumption twin of io_scd2): each order
    (fact, at = its orderkey version) joins the per-customer status
    version valid at that point; facts landing on a delete-closed or
    pre-first-version point keep null dimension columns. SCD2
    intervals partition the timeline -> exactly one output row per
    fact."""
    from pydi_spark.io import point_in_time_join, scd2_history

    orders = _t(spark, sf_dir, "orders")
    changes = orders.select(
        "o_custkey", "o_orderstatus",
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 19 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
    )
    hist = scd2_history(changes, "o_custkey").select(
        "o_custkey", F.col("o_orderstatus").alias("status_at"),
        "valid_from", "valid_to",
    )
    facts = orders.select(
        "o_orderkey", "o_custkey",
        F.col("o_orderkey").cast("long").alias("at"),
    )
    out = point_in_time_join(facts, hist, "o_custkey", "at")
    return out.select(
        "o_orderkey", "o_custkey", "status_at",
        F.coalesce("valid_from", F.lit(-1)).alias("valid_from"),
        F.coalesce("valid_to", F.lit(-1)).alias("valid_to"),
    )


def q_io_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals from a change stream (io/cdc.py
    scd2_history): orders as per-customer status changes versioned by
    o_orderkey; %19 keys are deletes and close their interval."""
    from pydi_spark.io import scd2_history

    changes = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus",
        F.col("o_orderkey").alias("version"),
        F.when(F.col("o_orderkey") % 19 == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
    )
    return scd2_history(changes, "o_custkey")


def q_io_schema_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligned union of drifted sources (io/schema_align.py):
    supplier/customer projections with disjoint columns union on the
    merged schema with null fill + lineage column."""
    from pydi_spark.io import align_and_union

    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("rid"), F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return align_and_union(
        [supp, cust], source_col="src",
        source_names=["supplier", "customer"],
    )


def q_join_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered q-gram edit-distance self-join on customer names
    (functions/joins.py edit_distance_join, ED-Join family). The
    oracle is the brute-force pair definition — an independent
    characterization, not a replay of the pruning."""
    from pydi_spark.functions import edit_distance_join

    return edit_distance_join(
        _t(spark, sf_dir, "customer"), None, "c_name",
        max_distance=1, id_column="c_custkey",
    )


def q_join_edit_distance_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edit_distance_join with the hot-gram skew cap (VERDICT r6 #4):
    grams with global frequency > 100 are deterministically dropped
    from the gram universe before prefix ranking (functions/joins.py
    max_gram_frequency — TokenBlocker's max_token_frequency analogue
    for digit-heavy/tiny-vocabulary corpora). Unlike the uncapped
    query's brute-force characterization oracle, this oracle REPLAYS
    the pruning (grams -> capped freq -> rank-3 prefix -> candidate
    equi-join -> verify), because the cap intentionally trades recall."""
    from pydi_spark.functions import edit_distance_join

    return edit_distance_join(
        _t(spark, sf_dir, "customer"), None, "c_name",
        max_distance=1, id_column="c_custkey", max_gram_frequency=100,
    )


def q_profile_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem numerics
    (profiling/profiler.py correlation_matrix): exact decimal(18,2)
    sufficient statistics in ONE pass, corr as a single left-to-right
    double expression -> floor micro ints. scale=2 keeps every stored
    sum below 2^53 so the decimal->double casts are correctly rounded
    on both engines (columns are 2-decimal by generation)."""
    from pydi_spark.profiling import correlation_matrix

    return correlation_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_discount", "l_tax"], scale=2,
    )


def q_profile_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity dispersion per categorical column
    (profiling/profiler.py categorical_dispersion): exact integer
    counts, one double division per column."""
    from pydi_spark.profiling import categorical_dispersion

    return categorical_dispersion(
        _t(spark, sf_dir, "orders"),
        ["o_orderstatus", "o_orderpriority", "o_custkey"],
    )


def q_profile_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles (percentile_disc semantics) per
    lineitem measure (profiling/profiler.py exact_quantiles):
    value-histogram cumsum, all-integer rank arithmetic, answers are
    COLUMN ELEMENTS so doubles pass through bit-identical."""
    from pydi_spark.profiling import exact_quantiles

    return exact_quantiles(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_discount", "l_tax"],
        ps=(0.25, 0.5, 0.75, 0.95),
    )


def q_normalize_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group missing-value imputation (normalization/impute.py):
    deterministic synthesized nulls, then mean (exact decimal sums,
    one IEEE division) / median (histogram cumsum) / mode (count DESC,
    value ASC) fills within l_linestatus groups."""
    from pydi_spark.normalization import impute_missing

    base = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_linestatus",
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(F.col("l_quantity")).alias("qty"),
        F.when(F.col("l_orderkey") % 11 == 0, None)
        .otherwise(F.col("l_discount")).alias("disc"),
        F.when(F.col("l_orderkey") % 13 == 0, None)
        .otherwise(F.col("l_returnflag")).alias("flag"),
    )
    return impute_missing(
        base,
        {"qty": "mean", "disc": "median", "flag": "mode"},
        group_by=["l_linestatus"],
        scale=2,
    )


def q_profile_join_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-flight join diagnostics orders x lineitem on orderkey
    (profiling/profiler.py join_cardinality_report): key-cardinality-
    bounded groupBys + one key join, never materializes the join."""
    from pydi_spark.profiling import join_cardinality_report

    return join_cardinality_report(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem"),
        "o_orderkey", "l_orderkey",
    )


def q_normalize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize lineitem measures to their exact [p5, p95] discrete
    quantiles (normalization/robust.py clip_outliers): bounds are
    column elements collected as scalars and re-inlined as literals —
    the clip pass is a pure map-side when-chain."""
    from pydi_spark.normalization import clip_outliers

    base = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )
    return clip_outliers(
        base, ["l_quantity", "l_discount"], lower=0.05, upper=0.95
    )


def q_normalize_rare_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse customer keys rarer than 0.1% of orders into __other__
    (normalization/robust.py collapse_rare_categories): exact integer
    cross-multiplied share threshold, broadcast KEEP-set join."""
    from pydi_spark.normalization import collapse_rare_categories

    base = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return collapse_rare_categories(base, "o_custkey", min_share_ppm=1000)


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table
    (llmdata/kmeans.py kmeans_cluster, k=4, ONE iteration): micro-int
    quantization makes init (k lowest ids), the argmin assignment
    (exact bigint dist2, ties -> lowest cluster), and the centroid
    update (floor((2S+n)/(2n)), exact-at-test-scale doubles) all
    SQL-replayable — the full fit+assign replays in the oracle, not
    just the assignment under injected centroids."""
    from pydi_spark.llmdata import kmeans_cluster

    return kmeans_cluster(
        _t(spark, sf_dir, "embeddings"), k=4, n_iter=1,
        id_col="vec_id", vec_col="embedding",
    )


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit dHash over the real PNG/JPEG codec paths
    (llmdata/multimodal.py perceptual_hash + png_decoder;
    llmdata/jpeg.py jpeg_decoder): five deterministic synthetic
    payloads built inline — a 12x16 RGB gradient PNG, a checkerboard
    PNG, the gradient 2x-nearest-upscaled, the gradient JPEG-re-encoded
    (quality 90), and a corrupt non-image. The oracle replays the
    frozen expected values as a literal table (the phrase_match
    refusal-style construction — VERDICT r9 #5): any drift in the PNG
    inflate/unfilter path, the JPEG huffman/IDCT path, the
    grayscale/resample math, or the bit packing flips the row red. The
    upscaled and re-encoded variants additionally pin dHash's
    scale/re-encode INVARIANCE (both equal the original's hash
    -1103840346886; the checkerboard differs), and the corrupt row
    pins per-record failure isolation (phash 0 + error marker, no
    task failure). ``sf_dir`` is unused: codec correctness is
    data-independent, and the binary testdata tables carry no real
    image payloads (TESTDATA.md)."""
    import numpy as np

    from pydi_spark.llmdata.jpeg import jpeg_encode
    from pydi_spark.llmdata.multimodal import (
        perceptual_hash, png_encode, resize_array,
    )

    r = np.arange(12).reshape(12, 1, 1)
    c = np.arange(16).reshape(1, 16, 1)
    k = np.arange(3).reshape(1, 1, 3)
    grad = ((r * 7 + c * 13 + k * 29) % 256).astype(np.uint8)
    checker = (
        (((r // 4 + c // 4) % 2) * 255) * np.ones((1, 1, 3))
    ).astype(np.uint8)
    up = resize_array(grad, 24, 32).astype(np.uint8)
    rows = [
        ("img_png_gradient", png_encode(grad)),
        ("img_png_checker", png_encode(checker)),
        ("img_png_upscaled", png_encode(up)),
        ("img_jpeg_gradient", jpeg_encode(grad, quality=90)),
        ("img_corrupt", b"GIF89a not really an image"),
    ]
    media = spark.createDataFrame(rows, "media_id string, payload binary")
    return perceptual_hash(media)


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity audit (llmdata/graph.py
    modularity_score) of the TRUE 4-clique assignment over the
    clique+bridge graph: communities = the (nation, block) cliques
    themselves, so Q is high and only the stride-4 bridges count
    against it. Exact integers end to end (q_num/q_den BIGINTs via
    2*D*Σe_c - Σd_c² over decimal(38,0) products); the only float is
    the one final division q = q_num/q_den (the bcubed F1 policy) —
    both engines divide the same two exact integers."""
    from pydi_spark.llmdata import modularity_score

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    comm = cust.withColumn("rk", F.row_number().over(w)).select(
        F.col("c_custkey").alias("id"),
        F.concat_ws(
            ":", F.col("c_nationkey"), F.expr("(rk - 1) div 4")
        ).alias("community"),
    )
    return modularity_score(_clique_bridge_edges(spark, sf_dir), comm)


def q_graph_feature_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN-style numeric feature smoothing (llmdata/graph.py
    feature_propagation): 2 synchronous rounds of self-inclusive
    neighbour-mean over the clique+bridge graph, features = customer
    account balance in offset cents (floor(c_acctbal*100) + 100000 —
    the offset keeps values non-negative, the operator's integer-div
    portability contract). Every round is one edge⋈state join + one
    (sum, count) aggregate + one truncating integer division, replayed
    verbatim by the oracle (DuckDB SUM cast to BIGINT, the r3 rule)."""
    from pydi_spark.llmdata import feature_propagation

    cust = _t(spark, sf_dir, "customer")
    feats = cust.select(
        F.col("c_custkey").alias("id"),
        (
            F.expr("CAST(floor(c_acctbal * 100) AS BIGINT)") + F.lit(100000)
        ).cast("long").alias("value_micro"),
    )
    return feature_propagation(
        _clique_bridge_edges(spark, sf_dir), feats, n_iter=2
    )


def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (llmdata/graph.py degree_assortativity)
    of the clique+bridge graph: over the symmetrized edge list the two
    endpoint-degree marginals are identical, so Newman's r needs NO
    square root — r = (M*Σxy - S1²) / (M*Σx² - S1²) over exact
    decimal(38,0) sums, emitted as r_num/r_den BIGINTs plus the one
    final double division (the bcubed F1 policy)."""
    from pydi_spark.llmdata import degree_assortativity

    return degree_assortativity(_clique_bridge_edges(spark, sf_dir))


def q_events_bots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation detection (events/ops.py bot_report): exact median
    inter-event gap per user in integer milliseconds, is_bot = 1 when
    >= 10 events AND median gap <= 1 hour. The median of an even gap
    count is floor((lo+hi)/2) — one non-negative integer division;
    which tied row holds the middle RANK is arbitrary but the middle
    VALUES of the sorted multiset are not, so the oracle replays with
    an arbitrary-tie row_number."""
    from pydi_spark.events import bot_report

    return bot_report(
        _events(spark, sf_dir), min_events=10,
        max_median_gap_ms=3_600_000,
    )


def q_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic PPS sample (llmdata/sampling.py
    pps_systematic_sample): 50 selection points on the cumulative
    length-weighted line in md5(doc_id) order; sum(n_hits) == 50
    exactly, heavy docs absorb multiple hits. Weight = length+1
    (positive-integral contract). The oracle replays the running sum
    and the floor-crossing arithmetic over the same md5 walk."""
    from pydi_spark.llmdata import pps_systematic_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.length("text") + F.lit(1)).cast("long").alias("w")
    )
    return pps_systematic_sample(docs, 50, "w", "doc_id")


def q_text_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit (llmdata/textstats.py
    encoding_quality_report): exact integer counts of U+FFFD
    replacement chars, C1 controls, curated UTF-8-as-latin1 mojibake
    digraphs, and stray C0 controls per document, plus a 0/1 flag.
    Pure codegen'd regex counts; patterns stick to literal
    alternations and \\x char-class escapes — the subset Java regex
    and RE2 interpret identically (verified row-by-row on synthetic
    mojibake in the unit test)."""
    from pydi_spark.llmdata import encoding_quality_report

    return encoding_quality_report(_t(spark, sf_dir, "documents"))


def q_profile_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration table (profiling/profiler.py lorenz_curve)
    of per-customer order counts, 10 buckets: cum_value_ppm = exact
    integer ppm share owned by the poorest k deciles. Tie groups may
    straddle bucket boundaries, but tied rows carry EQUAL values, so
    bucket sums and counts are tie-order-free — the oracle replays
    with an arbitrary-tie row_number and must agree."""
    from pydi_spark.profiling import lorenz_curve

    per_cust = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    return lorenz_curve(per_cust, "n_orders", n_buckets=10)


def q_fusion_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fusion.analysis.analyze_attribute_coverage (reference
    fusion/analysis.py:22-130) over two null-injected orders splits —
    the fusion-analysis family's first oracle row (VERDICT r10 #2;
    previously pytest-only). Nulls are injected deterministically so
    coverage is non-trivially < 1; coverage = int/int division,
    bit-identical cross-engine (the profile_coverage precedent)."""
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.fusion.analysis import analyze_attribute_coverage

    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 50000, F.col("o_totalprice")).alias(
            "o_totalprice"
        ),
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("o_orderstatus"),
    )
    b = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias(
            "o_orderpriority"
        ),
    )
    return analyze_attribute_coverage(
        [Dataset.wrap(a, "orders_even"), Dataset.wrap(b, "orders_odd")]
    )


def q_fusion_conflict_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detect_attribute_conflicts over the SPLIT orders datasets — the
    multi-dataset union path (unionByName + per-dataset id tagging)
    that fusion_conflicts' single-dataset construction never exercises.
    Groups = per-customer order chains; timestamp values count as
    distinct via their string cast (injective, so count(DISTINCT)
    matches exactly)."""
    from pydi_spark.fusion.analysis import detect_attribute_conflicts

    datasets, edges = _orders_datasets(spark, sf_dir, split=True)
    out = detect_attribute_conflicts(
        datasets, edges, attributes=["o_orderpriority", "o_orderdate"]
    )
    return out.select(
        "attribute", "conflicting_groups", "n_groups", "conflict_rate"
    )


def q_fusion_rule_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """suggest_fusion_rules (reference fusion/reporting.py) — resolver
    suggestion per attribute: numerics -> average, timestamps ->
    most_recent, strings by conflict rate (> 0.3 -> voting, else
    first_non_null). The dict is output-sized (one row per attribute);
    the oracle replays the dtype branch as literals (the table schema
    is static) and the conflict-rate branch from the same group
    construction."""
    from pydi_spark.fusion.analysis import suggest_fusion_rules

    datasets, edges = _orders_datasets(spark, sf_dir, split=True)
    rules = suggest_fusion_rules(datasets, edges)
    return spark.createDataFrame(
        sorted(rules.items()), "attribute string, resolver string"
    )


def q_profile_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitters sketch (profiling/sketches.py
    heavy_hitters_sketch) pinned in its EXACT regime: the key domain
    (c_nationkey, 25 values) is below k=64, so no partition ever sheds
    a counter and the sketch provably equals the exact counts with
    max_undercount = 0 — deterministic under ANY partitioning and any
    Arrow batch split, which is what makes the approx family
    oracle-able at all (VERDICT r10 #6). The shed path (distinct > k)
    stays property-tested in pytest, where the MG bound — not an exact
    value — is the contract."""
    from pydi_spark.profiling import heavy_hitters_sketch

    cust = _t(spark, sf_dir, "customer")
    return heavy_hitters_sketch(cust, "c_nationkey", k=64, top_n=20)


def q_sample_proportional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional stratified sample (llmdata/sampling.py
    proportional_stratified_sample): a 120-doc budget apportioned across languages
    by exact largest-remainder (Hamilton) integer arithmetic, each
    stratum's quota then picked by md5(doc_id) order (the exact_k
    rule). The oracle replays the floor/remainder quota vector and the
    per-stratum rank from (counts, K) alone — exactly 120 rows, every
    language within 1 of its proportional share."""
    from pydi_spark.llmdata import proportional_stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = proportional_stratified_sample(docs, 120, "doc_id", "lang")
    return out.select("doc_id", "lang", "quota", "sample_rank")


def q_sample_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (llmdata/sampling.py pareto_front): parts
    not dominated on (p_size, p_retailprice), both maximized — the
    multi-criteria data-selection primitive. Distributed shape: one
    groupBy to the distinct-size table, one exclusive prefix max over
    it in size-DESC order (functions/ranks.py global_running_max:
    range partition + broadcast offsets, never a single-partition
    window), one equi-join back. The oracle replays the same dominance
    rule with a plain SQL window over the 50-row distinct-size
    table."""
    from pydi_spark.llmdata import pareto_front

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    return pareto_front(part, "p_size", "p_retailprice")


def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level MinHash similarity between sources
    (llmdata/dedup.py corpus_minhash_similarity): one 16-lane
    signature per source over its token VOCABULARY — min per affine
    lane, fully map-side combinable, duplicate-insensitive — then
    pairwise lane agreement as the vocabulary-Jaccard estimate. The
    oracle replays the identical Carter-Wegman lanes per group in SQL
    and counts agreeing lanes per pair."""
    from pydi_spark.llmdata import corpus_minhash_similarity

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return corpus_minhash_similarity(docs, "text", "source", num_hashes=16)


# Round-13 WINDOW PLAN (second optimization round). The r12 queue held
# 51 entries; r13 additionally touched TokenBlocker (min-shared-token
# emission), evaluate_blocking (count-only join), the LSH dedup family
# (min-shared-band/shingle dedup filters), dedup_method_agreement
# (shared tokenize), clustering_coefficients + rfm_segments (checkpoint
# reverts) and the CC/hierarchical/bipartite driver-collect caps —
# adding 9 re-check obligations not already queued (blocking_token,
# blocking_token_capped, dedup_minhash, dedup_lsh_recall,
# graph_pagerank, dedup_canonical, dedup_keep_best, eval_bcubed,
# text_corpus_cleanup). 60 total obligations > 47 usable slots, so:
#   1-12  the r13 pair-set-construction re-checks FIRST (highest risk:
#         the blocker/LSH emission shapes changed this round).
#   13-15 canaries + probes at pinned positions (unchanged mechanism).
#   16-35 remaining r13 material-change re-checks: the simhash/minhash
#         consumers, the checkpoint reverts, the evaluator callers and
#         the CC-cap clustering family.
#   33-34 (within that run) the two never-checked r12 queries
#         sample_pareto_front / text_source_overlap get their FIRST
#         driver rows.
#   36-50 stalest r12-queue entries that fit (edit-distance pair,
#         graph/blocking/meta/fusion re-checks).
# The 13 r12-queue entries that do not fit stay in
# tests/roster.py::ROTATION_QUEUE for the next window (all are
# lower-risk r12 touches — opt-in-off blocker knobs, matcher seams —
# re-verified green under BOTH local gates at r13 close).
_R13_WINDOW = [
    # 1-12: r13 pair-set-construction re-checks
    "blocking_token",
    "eval_blocking",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_ngram_prefix",
    "dedup_agreement",
    "dedup_incremental",
    "blocking_token_capped",
    "movies_parity",
    "dedup_lsh_recall",
    # 13-15: canaries + probes (pinned positions)
    "canary_hash_safe",
    "canary_hash_risky",
    "probe_corpus_echo",
    # 16-35: remaining r13 material-change re-checks
    "sample_split_leakage_safe",
    "sample_contrastive",
    "graph_pagerank",
    "dedup_canonical",
    "dedup_keep_best",
    "eval_bcubed",
    "text_corpus_cleanup",
    "graph_clustering_coef",
    "events_rfm",
    "eval_matching",
    "normalize_canonicalize",
    "cluster_connected_components",
    "cluster_consistency",
    "cluster_size_dist",
    "cluster_incremental",
    "cluster_hierarchical",
    "cluster_max_bipartite",
    "sample_pareto_front",
    "text_source_overlap",
    "join_edit_distance",
    # 36-50: stalest r12-queue entries that fit
    "join_edit_distance_capped",
    "graph_hits",
    "blocking_meta",
    "blocking_meta_cnp",
    "blocking_progressive",
    "graph_triangles",
    "graph_assortativity",
    "profile_fds",
    "fusion_lists",
    "fusion_custom_resolver",
    "fusion_accuracy",
    "fusion_trust",
    "fusion_most_complete",
    "events_funnel",
    "text_span_dedup",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {name: _ALL_QUERIES[name] for name in _R13_WINDOW}
    for name, fn in _ALL_QUERIES.items():
        if name not in out:
            out[name] = fn
    return out


# The full registry (name -> callable). Window membership/order lives
# in _R13_WINDOW above; here insertion order only decides the past-50
# tail order, so entries stay grouped by the round that added them.
_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "events_attribution": q_events_attribution,
        "profile_histogram": q_profile_histogram,
        "events_active_users": q_events_active_users,
        "normalize_encode": q_normalize_encode,
        "normalize_urls": q_normalize_urls,
        "blocking_key_report": q_blocking_key_report,
        "streaming_distinct_users": q_streaming_distinct_users,
        "graph_triangles": q_graph_triangles,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "blocking_sorted_neighbourhood": q_blocking_snb,
        "cluster_consistency": q_cluster_consistency,
        "canary_hash_safe": q_canary_hash_safe,
        "canary_hash_risky": q_canary_hash_risky,
        "probe_corpus_echo": q_probe_corpus_echo,
        "cluster_hierarchical": q_cluster_hierarchical,
        "cluster_size_dist": q_cluster_size_dist,
        "eval_threshold_sweep": q_eval_threshold_sweep,
        "fusion_most_complete": q_fusion_most_complete,
        "fusion_trust": q_fusion_trust,
        "normalize_transforms": q_normalize_transforms,
        "schema_duplicate_based": q_schema_duplicate_based,
        "schema_instance_based": q_schema_instance_based,
        "text_fingerprint": q_text_fingerprint,
        "tpch_rollup": q_tpch_rollup,
        "dedup_embedding": q_dedup_embedding,
        "dedup_ngram_prefix": q_dedup_ngram_prefix,
        "eval_ie": q_eval_ie,
        "fusion_accuracy": q_fusion_accuracy,
        "io_id_injection": q_io_id_injection,
        "join_asof": q_join_asof,
        "join_range": q_join_range,
        "join_skew_salted": q_join_skew_salted,
        "match_llm_fake": q_match_llm_fake,
        "match_plm_fake": q_match_plm_fake,
        "movies_parity": q_movies_parity,
        "normalize_text": q_normalize_text,
        "outlier_bounds": q_outlier_bounds,
        "profile_coverage": q_profile_coverage,
        "sample_stratified": q_sample_stratified,
        "streaming_join": q_streaming_join,
        "text_chunk": q_text_chunk,
        "text_decontaminate": q_text_decontaminate,
        "text_pack": q_text_pack,
        "text_pii": q_text_pii,
        "text_quality_filter": q_text_quality_filter,
        "text_repetition": q_text_repetition,
        "text_span_dedup": q_text_span_dedup,
        "text_temperature_mix": q_text_temperature_mix,
        "translate_rename": q_translate_rename,
        "match_fellegi_sunter": q_match_fellegi_sunter,
        "blocking_phonetic": q_blocking_phonetic,
        "join_grid_radius": q_join_grid_radius,
        "io_table_diff": q_io_table_diff,
        "dedup_containment": q_dedup_containment,
        "profile_fds": q_profile_fds,
        "profile_inds": q_profile_inds,
        "normalize_fd_repair": q_normalize_fd_repair,
        "profile_keys": q_profile_keys,
        "io_scd2": q_io_scd2,
        "io_schema_union": q_io_schema_union,
        "join_edit_distance": q_join_edit_distance,
        "profile_corr": q_profile_corr,
        "profile_dispersion": q_profile_dispersion,
        "embed_kmeans": q_embed_kmeans,
        "profile_quantiles": q_profile_quantiles,
        "normalize_impute": q_normalize_impute,
        "profile_join_fanout": q_profile_join_fanout,
        "normalize_clip": q_normalize_clip,
        "normalize_rare_collapse": q_normalize_rare_collapse,
        "events_paths": q_events_paths,
        "events_resample": q_events_resample,
        "profile_sequence_gaps": q_profile_sequence_gaps,
        "events_anomalies": q_events_anomalies,
        "io_compaction_plan": q_io_compaction_plan,
        "sample_mixture_plan": q_sample_mixture_plan,
        "sample_epoch_expand": q_sample_epoch_expand,
        "normalize_canonicalize": q_normalize_canonicalize,
        "eval_ari": q_eval_ari,
        "eval_calibration": q_eval_calibration,
        "profile_null_patterns": q_profile_null_patterns,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "events_sessionize_batch": q_events_sessionize_batch,
        "streaming_sessionize": q_streaming_sessionize,
        "join_edit_distance_capped": q_join_edit_distance_capped,
        "fusion_custom_resolver": q_fusion_custom_resolver,
        "blocking_cross": q_blocking_cross,
        "blocking_stats": q_blocking_stats,
        "cluster_centre": q_cluster_centre,
        "cluster_greedy_one_to_one": q_cluster_greedy_one_to_one,
        "cluster_stable_matching": q_cluster_stable_matching,
        "dedup_canonical": q_dedup_canonical,
        "eval_blocking": q_eval_blocking,
        "fusion_lists": q_fusion_lists,
        "match_date_numeric": q_match_date_numeric,
        "validators_quality": q_validators_quality,
        "text_span_remove": q_text_span_remove,
        "blocking_progressive": q_blocking_progressive,
        "io_pickle_roundtrip": q_io_pickle_roundtrip,
        "text_corpus_cleanup": q_text_corpus_cleanup,
        "dedup_lsh_recall": q_dedup_lsh_recall,
        "fusion_debug": q_fusion_debug,
        "profile_compare": q_profile_compare,
        "tpch_cube": q_tpch_cube,
        "tpch_pivot": q_tpch_pivot,
        "units_convert": q_units_convert,
        "units_normalize": q_units_normalize,
        "dedup_incremental": q_dedup_incremental,
        "canary_hugeint": q_canary_hugeint,
        "dedup_bloom_incremental": q_dedup_bloom_incremental,
        "io_zorder_key": q_io_zorder_key,
        "profile_cms_words": q_profile_cms_words,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "blocking_standard": q_blocking_standard,
        "blocking_token": q_blocking_token,
        "match_rule_based": q_match_rule_based,
        "cluster_cc_distributed": q_cluster_cc_distributed,
        "fusion_selection": q_fusion_selection,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "text_stats": q_text_stats,
        "text_langid": q_text_langid,
        "ann_topk": q_ann_topk,
        "eval_matching": q_eval_matching,
        "normalize_parsers": q_normalize_parsers,
        "type_detection": q_type_detection,
        "profile_summary": q_profile_summary,
        "io_excel_roundtrip": q_io_excel_roundtrip,
        "io_html_roundtrip": q_io_html_roundtrip,
        "normalize_locale": q_normalize_locale,
        "text_clean": q_text_clean,
        "text_vocabulary": q_text_vocabulary,
        "streaming_windowed": q_streaming_windowed,
        "schema_label_based": q_schema_label_based,
        "extract_rules": q_extract_rules,
        "io_roundtrip": q_io_roundtrip,
        "fusion_numeric": q_fusion_numeric,
        "cluster_connected_components": q_cluster_connected_components,
        "match_ml_linear": q_match_ml_linear,
        "text_search_bm25": q_text_search_bm25,
        "sample_dsir": q_sample_dsir,
        "text_clean_multiline": q_text_clean_multiline,
        "text_budget_select": q_text_budget_select,
        "text_inverted_index": q_text_inverted_index,
        "text_lm_score": q_text_lm_score,
        "text_line_dedup": q_text_line_dedup,
        "text_search_hybrid": q_text_search_hybrid,
        "text_bpe_segment": q_text_bpe_segment,
        "sample_exact_k": q_sample_exact_k,
        "profile_key_skew": q_profile_key_skew,
        "io_orc_roundtrip": q_io_orc_roundtrip,
        "text_rerank": q_text_rerank,
        "dedup_agreement": q_dedup_agreement,
        "text_vocab_coverage": q_text_vocab_coverage,
        "tpch_grouping_sets": q_tpch_grouping_sets,
        "events_json": q_events_json,
        "graph_pagerank": q_graph_pagerank,
        "io_cdc_upsert": q_io_cdc_upsert,
        "text_bpe_fertility": q_text_bpe_fertility,
        "text_gram_duplication": q_text_gram_duplication,
        "sample_split_leakage_safe": q_sample_split_leakage_safe,
        "sample_contrastive": q_sample_contrastive,
        "match_uncertainty": q_match_uncertainty,
        "text_blocklist": q_text_blocklist,
        "embed_quantize": q_embed_quantize,
        "embed_mean_pool": q_embed_mean_pool,
        "extract_code": q_extract_code,
        "io_explode_delimited": q_io_explode_delimited,
        "io_fwf_roundtrip": q_io_fwf_roundtrip,
        "schema_llm_fake": q_schema_llm_fake,
        "text_tfidf": q_text_tfidf,
        "tpch_q9": q_tpch_q9,
        "tpch_q15": q_tpch_q15,
        "tpch_q17": q_tpch_q17,
        "dedup_semantic": q_dedup_semantic,
        "match_features": q_match_features,
        "io_feather_roundtrip": q_io_feather_roundtrip,
        "sample_quality_weighted": q_sample_quality_weighted,
        "blocking_standard_capped": q_blocking_standard_capped,
        "blocking_token_capped": q_blocking_token_capped,
        "match_text_format": q_match_text_format,
        "text_zipf": q_text_zipf,
        "text_contamination_matrix": q_text_contamination_matrix,
        "streaming_dedup": q_streaming_dedup,
        "embed_pq_encode": q_embed_pq_encode,
        "embed_pq_topk": q_embed_pq_topk,
        "embed_ivfpq_topk": q_embed_ivfpq_topk,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q16": q_tpch_q16,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "tpch_q2": q_tpch_q2,
        "io_list_to_string": q_io_list_to_string,
        "match_vector_features": q_match_vector_features,
        "extract_llm_fake": q_extract_llm_fake,
        "blocking_meta": q_blocking_meta,
        "blocking_meta_cnp": q_blocking_meta_cnp,
        "text_quality_classifier": q_text_quality_classifier,
        "streaming_enrich": q_streaming_enrich,
        "streaming_stateful_ttl": q_streaming_stateful_ttl,
        "fusion_conflicts": q_fusion_conflicts,
        "schema_eval": q_schema_eval,
        "cluster_incremental": q_cluster_incremental,
        "tpch_q7": q_tpch_q7,
        "tpch_q22": q_tpch_q22,
        "tpch_window": q_tpch_window,
        "tpch_q4": q_tpch_q4,
        "tpch_q5": q_tpch_q5,
        "tpch_q6": q_tpch_q6,
        "tpch_q8": q_tpch_q8,
        "tpch_q13": q_tpch_q13,
        "tpch_q10": q_tpch_q10,
        "tpch_q14": q_tpch_q14,
        "tpch_q18": q_tpch_q18,
        "tpch_q19": q_tpch_q19,
        # -- round-8 additions past the window (r9 rotation queue)
        "graph_clustering_coef": q_graph_clustering_coef,
        "graph_kcore": q_graph_kcore,
        "events_session_report": q_events_session_report,
        "text_novelty": q_text_novelty,
        "dedup_keep_best": q_dedup_keep_best,
        "text_script_detect": q_text_script_detect,
        "streaming_sliding": q_streaming_sliding,
        "profile_benford": q_profile_benford,
        "cluster_max_bipartite": q_cluster_max_bipartite,
        "io_pit_join": q_io_pit_join,
        "events_cohort_value": q_events_cohort_value,
        "profile_drift": q_profile_drift,
        "eval_bcubed": q_eval_bcubed,
        "normalize_mask": q_normalize_mask,
        "events_conversion_lag": q_events_conversion_lag,
        # -- round-9 additions past the window (r10 rotation queue —
        # -- tests/roster.py)
        "cluster_hierarchical_max": q_cluster_hierarchical_max,
        "cluster_hierarchical_avg": q_cluster_hierarchical_avg,
        "graph_label_prop": q_graph_label_prop,
        "io_rendezvous_shards": q_io_rendezvous_shards,
        "text_search_phrase": q_text_search_phrase,
        "graph_ppr": q_graph_ppr,
        "profile_numeric_drift": q_profile_numeric_drift,
        "graph_link_pred": q_graph_link_pred,
        "join_interval_overlap": q_join_interval_overlap,
        "events_rfm": q_events_rfm,
        "graph_bfs": q_graph_bfs,
        "normalize_kanonymity": q_normalize_kanonymity,
        "normalize_value_clusters": q_normalize_value_clusters,
        "events_cooccurrence": q_events_cooccurrence,
        "profile_value_runs": q_profile_value_runs,
        "profile_changepoint": q_profile_changepoint,
        "events_experiment": q_events_experiment,
        "graph_hits": q_graph_hits,
        "graph_pagerank_weighted": q_graph_pagerank_weighted,
        "normalize_rank": q_normalize_rank,
        "profile_topk_per_group": q_profile_topk_per_group,
        "io_orc_roundtrip": q_io_orc_roundtrip,
        "profile_gini": q_profile_gini,
        "events_new_users": q_events_new_users,
        # --- round-10 additions (queued in tests/roster.py) ---
        "multimodal_phash": q_multimodal_phash,
        "graph_modularity": q_graph_modularity,
        "graph_feature_prop": q_graph_feature_prop,
        "graph_assortativity": q_graph_assortativity,
        "profile_lorenz": q_profile_lorenz,
        "events_bots": q_events_bots,
        "sample_pps": q_sample_pps,
        "text_encoding": q_text_encoding,
        # --- round-11 additions (queued in tests/roster.py) ---
        "fusion_coverage": q_fusion_coverage,
        "fusion_conflict_detect": q_fusion_conflict_detect,
        "fusion_rule_suggest": q_fusion_rule_suggest,
        "profile_heavy_hitters": q_profile_heavy_hitters,
        "sample_proportional": q_sample_proportional,
        "sample_pareto_front": q_sample_pareto_front,
        "text_source_overlap": q_text_source_overlap,
    }


# ======================================================================
# oracles (DuckDB SQL over pre-registered views)
# ======================================================================

_TOK_SQL = (
    "list_filter(regexp_split_to_array(lower({col}), '[^\\p{{L}}\\p{{N}}#'']+'), x -> x != '')"
)

# instance-based schema matcher tokenization ([^\p{L}\p{N}]+ on
# lower(trim(value)) — schemamatching/instance_based.py:86)
_IB_TOK_SQL = (
    "list_filter(regexp_split_to_array(lower(trim(CAST({col} AS VARCHAR))), "
    "'[^\\p{{L}}\\p{{N}}]+'), x -> x != '')"
)


def _minhash_sig_sql(num_hashes: int) -> str:
    """s0..s{n-1} aggregate expressions: affine lanes over the shared
    31-bit token hash (h31 = (th // 2^28) mod P, the Carter-Wegman
    family) — exact int64 arithmetic on both engines (a, h31 < 2^31
    => a*h31 + b < 2^62). ONE generator emits the engine's literal
    constants (llmdata.dedup.MINHASH_AB), so the families can never
    drift."""
    from pydi_spark.llmdata.dedup import MINHASH_AB, MINHASH_PRIME

    return ",\n    ".join(
        f"min(({a} * ((th // 268435456) % {MINHASH_PRIME}) + {b})"
        f" % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
    )


def _minhash_band_sql(num_hashes: int, bands: int) -> str:
    """b0..b{bands-1} band-key expressions over integer signature
    lanes (decimal-string render, the engine's concat_ws form)."""
    rows = num_hashes // bands
    return ",\n    ".join(
        "'%d:' || md5(%s) AS b%d"
        % (
            b,
            " || ',' || ".join(
                f"CAST(s{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
            b,
        )
        for b in range(bands)
    )


def _corpus_overlap_sql(num_hashes: int) -> str:
    """text_source_overlap oracle: per-SOURCE vocabulary signatures
    (same Carter-Wegman lanes as _minhash_sig_sql, grouped by source
    instead of doc_id) + pairwise lane agreement. agreeing_lanes is
    CAST to INT (a bare DuckDB integer sum is HUGEINT — the r03/r04
    class)."""
    from pydi_spark.llmdata.dedup import MINHASH_AB, MINHASH_PRIME

    sig_cols = ",\n    ".join(
        f"min(({a} * ((th // 268435456) % {MINHASH_PRIME}) + {b})"
        f" % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_AB[:num_hashes])
    )
    toks = _TOK_SQL.format(col="text")
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    agree = " + ".join(
        f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
WITH tok_rows AS (
  SELECT source AS grp, unnest(list_distinct({toks})) AS tok
  FROM documents WHERE source IS NOT NULL
),
th_rows AS (
  SELECT grp, ({hex2int}) AS th
  FROM (SELECT grp, md5(tok) AS md5h FROM tok_rows)
),
sigs AS (SELECT grp, {sig_cols} FROM th_rows GROUP BY grp)
SELECT a.grp AS group_a, b.grp AS group_b,
       CAST({agree} AS INT) AS agreeing_lanes,
       round(CAST({agree} AS DOUBLE) / {float(num_hashes)}, 6) AS est_jaccard
FROM sigs a JOIN sigs b ON a.grp < b.grp
"""


def _minhash_sql(num_hashes: int, bands: int, threshold: float) -> str:
    sig_cols = _minhash_sig_sql(num_hashes)
    band_exprs = _minhash_band_sql(num_hashes, bands)
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, b{b} AS band_key FROM bands" for b in range(bands)
    )
    toks = _TOK_SQL.format(col="text")
    # verification runs on 60-bit md5-prefix token hashes (the SimHash
    # hex->int construction) — mirrors the engine exactly, so collisions
    # (if any) strike both sides identically
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
WITH tok_rows AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents
),
th_rows AS (
  SELECT doc_id, tok, ({hex2int}) AS th
  FROM (SELECT doc_id, tok, md5(tok) AS md5h FROM tok_rows)
),
sigs AS (
  SELECT doc_id, {sig_cols}, list_distinct(list(th)) AS tok_set
  FROM th_rows GROUP BY doc_id
),
bands AS (
  SELECT doc_id, {band_exprs} FROM sigs
),
band_rows AS ({band_union}),
cands AS (
  SELECT DISTINCT CAST(a.doc_id AS VARCHAR) id1, CAST(b.doc_id AS VARCHAR) id2
  FROM band_rows a JOIN band_rows b USING (band_key)
  WHERE CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
),
verified AS (
  SELECT id1, id2,
    CASE WHEN len(list_distinct(list_concat(ta.tok_set, tb.tok_set))) > 0
      THEN len(list_intersect(ta.tok_set, tb.tok_set))::DOUBLE
           / len(list_distinct(list_concat(ta.tok_set, tb.tok_set)))
      ELSE 1.0 END AS jaccard
  FROM cands
  JOIN sigs ta ON CAST(ta.doc_id AS VARCHAR) = id1
  JOIN sigs tb ON CAST(tb.doc_id AS VARCHAR) = id2
)
SELECT id1, id2, round(jaccard, 6) AS jaccard FROM verified WHERE jaccard >= {threshold}
"""


def _ngram_jaccard_sql(n: int, threshold: float, max_freq: int | None = None) -> str:
    toks = _TOK_SQL.format(col="text")
    # shingles are carried as 60-bit md5-prefix ints on BOTH engines (the
    # SimHash hex->int construction) — collisions, if any, strike both
    # sides identically
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    freq_filter = (
        f"""kept AS (
  SELECT shingle FROM sh_rows GROUP BY shingle HAVING count(*) <= {max_freq}
),
sh_cand AS (SELECT doc_id, shingle FROM sh_rows WHERE shingle IN (SELECT shingle FROM kept)),"""
        if max_freq
        else "sh_cand AS (SELECT doc_id, shingle FROM sh_rows),"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tok FROM documents
),
sh_str AS (
  SELECT doc_id,
    CASE WHEN len(tok) < {n} THEN [array_to_string(tok, ' ')]
    ELSE list_distinct([array_to_string(tok[i:i+{n - 1}], ' ')
                        for i in range(1, len(tok) - {n - 2})])
    END AS sh_set_str
  FROM toks
),
sh_rows AS (
  SELECT doc_id, ({hex2int}) AS shingle
  FROM (SELECT doc_id, md5(unnest(sh_set_str)) AS md5h FROM sh_str)
),
sh AS (
  SELECT doc_id, list_distinct(list(shingle)) AS sh_set FROM sh_rows GROUP BY doc_id
),
{freq_filter}
cands AS (
  SELECT DISTINCT CAST(a.doc_id AS VARCHAR) id1, CAST(b.doc_id AS VARCHAR) id2
  FROM sh_cand a JOIN sh_cand b USING (shingle)
  WHERE CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
),
verified AS (
  SELECT id1, id2,
    CASE WHEN len(list_distinct(list_concat(sa.sh_set, sb.sh_set))) > 0
      THEN len(list_intersect(sa.sh_set, sb.sh_set))::DOUBLE
           / len(list_distinct(list_concat(sa.sh_set, sb.sh_set)))
      ELSE 1.0 END AS jaccard
  FROM cands
  JOIN sh sa ON CAST(sa.doc_id AS VARCHAR) = id1
  JOIN sh sb ON CAST(sb.doc_id AS VARCHAR) = id2
)
SELECT id1, id2, round(jaccard, 6) AS jaccard FROM verified WHERE jaccard >= {threshold}
"""


def _ngram_containment_sql(n: int, threshold: float) -> str:
    """Containment variant of _ngram_jaccard_sql: same shingle-block
    candidates, verification = |A∩B| / min(|A|,|B|) (llmdata/dedup.py
    ngram_containment_duplicates)."""
    toks = _TOK_SQL.format(col="text")
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tok FROM documents
),
sh_str AS (
  SELECT doc_id,
    CASE WHEN len(tok) < {n} THEN [array_to_string(tok, ' ')]
    ELSE list_distinct([array_to_string(tok[i:i+{n - 1}], ' ')
                        for i in range(1, len(tok) - {n - 2})])
    END AS sh_set_str
  FROM toks
),
sh_rows AS (
  SELECT doc_id, ({hex2int}) AS shingle
  FROM (SELECT doc_id, md5(unnest(sh_set_str)) AS md5h FROM sh_str)
),
sh AS (
  SELECT doc_id, list_distinct(list(shingle)) AS sh_set FROM sh_rows GROUP BY doc_id
),
cands AS (
  SELECT DISTINCT CAST(a.doc_id AS VARCHAR) id1, CAST(b.doc_id AS VARCHAR) id2
  FROM sh_rows a JOIN sh_rows b USING (shingle)
  WHERE CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
),
verified AS (
  SELECT id1, id2,
    len(list_intersect(sa.sh_set, sb.sh_set))::DOUBLE
      / least(len(sa.sh_set), len(sb.sh_set)) AS containment
  FROM cands
  JOIN sh sa ON CAST(sa.doc_id AS VARCHAR) = id1
  JOIN sh sb ON CAST(sb.doc_id AS VARCHAR) = id2
)
SELECT id1, id2, round(containment, 6) AS containment
FROM verified WHERE containment >= {threshold}
"""


def _coverage_sql() -> str:
    tables = {
        "supplier": (
            "SELECT s_suppkey, s_name, s_nationkey, "
            "CASE WHEN s_acctbal >= 0 THEN s_acctbal END AS s_acctbal FROM supplier",
            ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        ),
        "customer": (
            "SELECT c_custkey, c_name, c_nationkey, "
            "CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS c_acctbal, "
            "c_mktsegment FROM customer",
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        ),
    }
    selects = []
    for name, (src, cols) in tables.items():
        for c in cols:
            selects.append(
                f"SELECT '{name}' AS dataset, '{c}' AS attribute,\n"
                f"  count({c}) AS non_null, count(*) AS total,\n"
                f"  count({c})::DOUBLE / count(*) AS coverage\n"
                f"FROM ({src})"
            )
    return "\nUNION ALL\n".join(selects)


def _simhash_sql(max_hamming: int) -> str:
    toks = _TOK_SQL.format(col="text")
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    bits_sums = ",\n    ".join(
        f"sum(((h60 >> {j}) & 1)*2 - 1) AS v{j}" for j in range(60)
    )
    fp_expr = " + ".join(
        f"((CASE WHEN v{j} >= 0 THEN 1 ELSE 0 END)::BIGINT << {j})" for j in range(60)
    )
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({toks}) tok_set FROM documents),
tr AS (SELECT doc_id, unnest(tok_set) tok FROM toks),
hx AS (SELECT doc_id, md5(tok) AS md5h FROM tr),
h60s AS (SELECT doc_id, ({hex2int}) AS h60 FROM hx),
votes AS (SELECT doc_id, {bits_sums} FROM h60s GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp_expr}) AS f FROM votes)
SELECT CAST(a.doc_id AS VARCHAR) id1, CAST(b.doc_id AS VARCHAR) id2,
       bit_count(xor(a.f, b.f)) AS hamming
FROM fp a JOIN fp b ON CAST(a.doc_id AS VARCHAR) < CAST(b.doc_id AS VARCHAR)
WHERE bit_count(xor(a.f, b.f)) <= {max_hamming}
"""


def _type_detection_sql() -> str:
    from pydi_spark.normalization.detectors import NULL_TOKENS
    from pydi_spark.normalization.typedetect import TYPE_PATTERNS

    null_list = ", ".join("'" + t.replace("'", "''") + "'" for t in NULL_TOKENS)
    col_exprs = {
        "k": "CAST(c_custkey AS VARCHAR)",
        "name": "c_name",
        "bal": "CAST(c_acctbal AS VARCHAR)",
        "seg": "c_mktsegment",
    }
    selects = []
    for col, expr in col_exprs.items():
        for tname, (pat, _) in TYPE_PATTERNS.items():
            p = pat.replace("'", "''").replace("\\", "\\")
            selects.append(
                f"SELECT '{col}' AS column_name, '{tname}' AS type_name,\n"
                f"  round(count(*) FILTER (WHERE regexp_matches(lower(trim({expr})), '{p}'))::DOUBLE\n"
                f"        / nullif(count(*) FILTER (WHERE {expr} IS NOT NULL AND lower(trim({expr})) NOT IN ({null_list})), 0), 6) AS match_rate\n"
                f"FROM customer WHERE {expr} IS NOT NULL AND lower(trim({expr})) NOT IN ({null_list})"
            )
    return "\nUNION ALL\n".join(selects)


# exact cosine top-10 (self excluded): oracle for ann_topk AND for
# ann_ivf, whose contract query probes every cell (nprobe = n_centroids)
# and must therefore reproduce the exact result
_ANN_EXACT_SQL = """
WITH q AS (SELECT CAST(vec_id AS VARCHAR) query_id, embedding qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT CAST(vec_id AS VARCHAR) neighbor_id, embedding cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         list_cosine_similarity(qv::DOUBLE[], cv::DOUBLE[]) AS cos
  FROM q CROSS JOIN c WHERE query_id != neighbor_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 10
"""


def _incremental_minhash_sql(num_hashes: int, bands: int, threshold: float) -> str:
    """Replay of q_dedup_incremental: same signature/band/verify CTEs as
    _minhash_sql, split into store (doc_id % 5 != 0) and batch, then the
    dedup_canonical transitive-closure walk over the surviving batch
    pairs."""
    sig_cols = _minhash_sig_sql(num_hashes)
    band_exprs = _minhash_band_sql(num_hashes, bands)
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, b{b} AS band_key FROM bands" for b in range(bands)
    )
    toks = _TOK_SQL.format(col="text")
    hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    jac = """CASE WHEN len(list_distinct(list_concat(sa.tok_set, sb.tok_set))) > 0
      THEN len(list_intersect(sa.tok_set, sb.tok_set))::DOUBLE
           / len(list_distinct(list_concat(sa.tok_set, sb.tok_set)))
      ELSE 1.0 END"""
    return f"""
WITH RECURSIVE tok_rows AS (
  SELECT doc_id, unnest(list_distinct({toks})) AS tok FROM documents
),
th_rows AS (
  SELECT doc_id, tok, ({hex2int}) AS th
  FROM (SELECT doc_id, tok, md5(tok) AS md5h FROM tok_rows)
),
sigs AS (
  SELECT doc_id, {sig_cols}, list_distinct(list(th)) AS tok_set
  FROM th_rows GROUP BY doc_id
),
bands AS (
  SELECT doc_id, {band_exprs} FROM sigs
),
band_rows AS ({band_union}),
br AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, doc_id % 5 = 0 AS is_new, band_key
  FROM band_rows
),
cross_cands AS (
  SELECT DISTINCT n.id AS new_id, o.id AS old_id
  FROM br n JOIN br o USING (band_key)
  WHERE n.is_new AND NOT o.is_new
),
matched AS (
  SELECT DISTINCT new_id AS id
  FROM cross_cands c
  JOIN sigs sa ON CAST(sa.doc_id AS VARCHAR) = c.new_id
  JOIN sigs sb ON CAST(sb.doc_id AS VARCHAR) = c.old_id
  WHERE {jac} >= {threshold}
),
surv AS (
  SELECT CAST(doc_id AS VARCHAR) AS id FROM documents
  WHERE doc_id % 5 = 0
    AND CAST(doc_id AS VARCHAR) NOT IN (SELECT id FROM matched)
),
batch_pairs AS (
  SELECT DISTINCT n.id AS id1, o.id AS id2
  FROM br n JOIN br o USING (band_key)
  JOIN sigs sa ON CAST(sa.doc_id AS VARCHAR) = n.id
  JOIN sigs sb ON CAST(sb.doc_id AS VARCHAR) = o.id
  WHERE n.is_new AND o.is_new AND n.id < o.id
    AND n.id IN (SELECT id FROM surv) AND o.id IN (SELECT id FROM surv)
    AND {jac} >= {threshold}
),
sym AS (SELECT id1 AS a, id2 AS b FROM batch_pairs
        UNION ALL SELECT id2, id1 FROM batch_pairs),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) n
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
SELECT s.id, 0 AS matched_store,
       coalesce(c.cluster_id, s.id) AS canonical_id,
       CAST(coalesce(c.cluster_id, s.id) = s.id AS INT) AS kept
FROM surv s LEFT JOIN comp c ON c.id = s.id
UNION ALL
SELECT id, 1 AS matched_store, '' AS canonical_id, 0 AS kept FROM matched
"""


def _bpe_oracle_sql() -> str:
    """Replay of q_text_bpe_segment: the same fixed merge table applied
    as the same 3-pass literal replace chain (leftmost-non-overlapping
    replace is identical in Spark and DuckDB), over the same
    word-frequency table."""
    expr = "'  ' || regexp_replace(word, '(.)', '\\1  ', 'g')"
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
WITH tok AS (SELECT unnest({{TOK}}) AS word FROM documents),
wf AS (
  SELECT word, count(*) AS freq FROM tok
  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY word
),
seg AS (SELECT word, freq, replace(trim({expr}), '  ', ' ') AS pieces FROM wf),
px AS (
  SELECT word, freq, unnest(string_split(pieces, ' ')) AS piece FROM seg
),
st AS (
  SELECT piece, count(DISTINCT word) AS n_words,
         CAST(sum(freq) AS BIGINT) AS total_count
  FROM px GROUP BY piece
)
SELECT piece, n_words, total_count,
       CAST(row_number() OVER (ORDER BY total_count DESC, piece) AS INT) AS rank
FROM st QUALIFY rank <= 40
""".replace("{TOK}", _TOK_SQL.format(col="text"))


def _ann_lsh_oracle_sql() -> str:
    """SQL replay of EmbeddingBlocker(method='lsh', lsh_bits=12,
    lsh_bands=6, seed=42) + lsh_topk(k=10): the hyperplanes depend only
    on (seed, bits, dim=64), so they are regenerated here with the same
    numpy code path and inlined as double literals. Signature -> band
    equi-join -> exact cosine re-score -> blocker top-k (unrounded order)
    -> final rank (rounded order), exactly like the Spark plan."""
    import numpy as np

    bits, bands, seed, dim, k = 12, 6, 42, 64, 10
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bits, dim))
    bit_exprs = []
    for j in range(bits):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[j]) + "]"
        bit_exprs.append(
            f"CASE WHEN list_dot_product(e, {lit}) >= 0 THEN '1' ELSE '0' END AS b{j}"
        )
    split = np.array_split(np.arange(bits), bands)
    band_exprs = ", ".join(
        "'" + str(bi) + ":' || " + " || ".join(f"b{j}" for j in band)
        for bi, band in enumerate(split)
    )
    return f"""
WITH v AS (SELECT CAST(vec_id AS VARCHAR) rid, vec_id < 5 AS is_q, embedding::DOUBLE[] e FROM embeddings),
sig AS (SELECT rid, is_q, e, {", ".join(bit_exprs)} FROM v),
bnd AS (SELECT rid, is_q, unnest([{band_exprs}]) AS band_key FROM sig),
cand AS (
  SELECT DISTINCT q.rid AS query_id, c.rid AS neighbor_id
  FROM bnd q JOIN bnd c USING (band_key)
  WHERE q.is_q
),
scored AS (
  SELECT query_id, neighbor_id, list_cosine_similarity(qv.e, cv.e) AS cos
  FROM cand
  JOIN v qv ON qv.rid = cand.query_id
  JOIN v cv ON cv.rid = cand.neighbor_id
  WHERE list_cosine_similarity(qv.e, cv.e) >= 0.0
),
blocked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
  FROM scored
  QUALIFY rk <= {k}
)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
       row_number() OVER (PARTITION BY query_id ORDER BY round(cos, 6) DESC, neighbor_id) AS rank
FROM blocked
"""


def oracle_sql() -> dict[str, str]:
    toks_text = _TOK_SQL.format(col="text")
    out = {
        "sample_pareto_front": """
WITH t AS (SELECT p_partkey, p_size, p_retailprice FROM part
           WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL),
g AS (SELECT p_size, max(p_retailprice) AS gy FROM t GROUP BY p_size),
p AS (SELECT p_size, gy,
             max(gy) OVER (ORDER BY p_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pm
      FROM g)
SELECT t.p_partkey, t.p_size, t.p_retailprice
FROM t JOIN p USING (p_size)
WHERE NOT (COALESCE(pm >= t.p_retailprice, FALSE) OR gy > t.p_retailprice)
""",
        "text_source_overlap": _corpus_overlap_sql(16),
        "blocking_standard": """
SELECT CAST(s_suppkey AS VARCHAR) id1, CAST(c_custkey AS VARCHAR) id2,
       CAST(s_nationkey AS VARCHAR) block_key
FROM supplier JOIN customer ON s_nationkey = c_nationkey
""",
        "match_text_format": """
SELECT CAST(s_suppkey AS BIGINT) s_suppkey,
       printf('%s (nation %s)',
              coalesce(s_name, '[MISSING]'),
              coalesce(CAST(CASE WHEN s_suppkey % 7 = 0 THEN NULL
                                 ELSE s_nationkey END AS VARCHAR), '[MISSING]')
       ) AS text
FROM supplier
""",
        "match_features": """
WITH s AS (SELECT CAST(s_suppkey AS VARCHAR) id1, s_name n1, s_acctbal b1, s_nationkey k FROM supplier),
     c AS (SELECT CAST(c_custkey AS VARCHAR) id2, c_name n2, c_acctbal b2, c_nationkey k FROM customer)
SELECT id1, id2,
       round(1.0 - levenshtein(n1, n2)::DOUBLE / greatest(length(n1), length(n2)), 6) AS feat_name,
       round(greatest(0.0, 1.0 - abs(b1 - b2) / 5000.0), 6) AS feat_bal
FROM s JOIN c USING (k)
""",
        "io_feather_roundtrip": """
SELECT CAST(n_nationkey AS INT) n_nationkey, n_name,
       CAST(n_regionkey AS INT) n_regionkey
FROM nation
""",
        "blocking_standard_capped": """
WITH l AS (SELECT CAST(s_suppkey AS VARCHAR) id1,
                  CAST(s_nationkey AS VARCHAR) block_key FROM supplier),
r AS (SELECT CAST(c_custkey AS VARCHAR) id2,
             CAST(c_nationkey AS VARCHAR) block_key FROM customer),
keep AS (
  SELECT ln.block_key
  FROM (SELECT block_key, count(*) nl FROM l GROUP BY 1) ln
  JOIN (SELECT block_key, count(*) nr FROM r GROUP BY 1) rn USING (block_key)
  WHERE nl * nr <= 400
)
SELECT id1, id2, block_key
FROM l JOIN r USING (block_key) JOIN keep USING (block_key)
""",
        "blocking_token_capped": """
WITH tok AS (
  SELECT p_partkey, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(p_name), '[^\\p{L}\\p{N}#'']+'), x -> x != '')
  )) AS t FROM part
),
keep AS (SELECT t FROM tok GROUP BY t HAVING count(*) <= 250)
SELECT CAST(a.p_partkey AS VARCHAR) id1, CAST(b.p_partkey AS VARCHAR) id2,
       min(a.t) AS block_key
FROM tok a JOIN keep USING (t) JOIN tok b ON a.t = b.t
WHERE a.p_partkey < b.p_partkey
GROUP BY 1, 2
""",
        "blocking_token": """
WITH tok AS (
  SELECT p_partkey, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(p_name), '[^\\p{L}\\p{N}#'']+'), x -> x != '')
  )) AS t FROM part
)
SELECT CAST(a.p_partkey AS VARCHAR) id1, CAST(b.p_partkey AS VARCHAR) id2,
       min(a.t) AS block_key
FROM tok a JOIN tok b ON a.t = b.t
WHERE a.p_partkey < b.p_partkey
GROUP BY 1, 2
""",
        "blocking_sorted_neighbourhood": """
WITH ranked AS (
  SELECT CAST(c_custkey AS VARCHAR) rid,
         row_number() OVER (ORDER BY lower(c_name), CAST(c_custkey AS VARCHAR)) rn
  FROM customer
)
SELECT DISTINCT least(a.rid, b.rid) id1, greatest(a.rid, b.rid) id2, 'snb' block_key
FROM ranked a JOIN ranked b ON b.rn > a.rn AND b.rn <= a.rn + 3
""",
        "blocking_cross": """
SELECT CAST(r_regionkey AS VARCHAR) id1, CAST(n_nationkey AS VARCHAR) id2, '*' block_key
FROM region CROSS JOIN nation
""",
        "match_rule_based": f"""
WITH j AS ({_RULE_CORR_SQL})
SELECT id1, id2, round(score, 6) AS score FROM j WHERE score >= 0.3
""",
        "cluster_connected_components": """
WITH edges AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) id1,
         CAST(o_orderkey AS VARCHAR) id2, o_custkey
  FROM orders
  QUALIFY id1 IS NOT NULL
),
nodes AS (
  SELECT DISTINCT id, o_custkey FROM (
    SELECT id1 AS id, o_custkey FROM edges
    UNION ALL SELECT id2, o_custkey FROM edges
  )
)
SELECT id AS record_id, min(id) OVER (PARTITION BY o_custkey) AS cluster_id FROM nodes
""",
        "cluster_stable_matching": f"""
WITH corr AS (SELECT id1, id2, round(score, 6) AS score FROM ({_RULE_CORR_SQL})),
b1 AS (SELECT * FROM corr QUALIFY row_number() OVER (PARTITION BY id1 ORDER BY score DESC, id2) = 1),
b2 AS (SELECT * FROM corr QUALIFY row_number() OVER (PARTITION BY id2 ORDER BY score DESC, id1) = 1)
SELECT corr.id1, corr.id2, corr.score FROM corr
JOIN b1 ON corr.id1 = b1.id1 AND corr.id2 = b1.id2
JOIN b2 ON corr.id1 = b2.id1 AND corr.id2 = b2.id2
""",
        "fusion_numeric": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey)
SELECT g.group_id,
       list_sum(list_sort(list(o_totalprice))) / count(*) AS tp_avg,
       median(o_totalprice) AS tp_med,
       max(o_totalprice) AS tp_max,
       min(o_totalprice) AS tp_min,
       list_sum(list_sort(list(o_totalprice))) AS tp_sum,
       count(*) AS group_size
FROM orders o JOIN g ON o.o_custkey = g.o_custkey
GROUP BY g.group_id
""",
        "profile_compare": """
WITH sa AS (SELECT count(*) n, count(s_suppkey) nn_key, count(s_name) nn_name,
                   count(s_nationkey) nn_nk FROM supplier),
sb AS (SELECT count(*) n, count(c_custkey) nn_key, count(c_name) nn_name,
              count(c_mktsegment) nn_seg FROM customer)
SELECT 'key' AS column_name, 'shared' AS membership,
       sa.nn_key AS a_non_null, sa.n - sa.nn_key AS a_nulls,
       sb.nn_key AS b_non_null, sb.n - sb.nn_key AS b_nulls
FROM sa, sb
UNION ALL
SELECT 'name', 'shared', sa.nn_name, sa.n - sa.nn_name,
       sb.nn_name, sb.n - sb.nn_name FROM sa, sb
UNION ALL
SELECT 'nk', 'only_a', sa.nn_nk, sa.n - sa.nn_nk, -1, -1 FROM sa
UNION ALL
SELECT 'seg', 'only_b', -1, -1, sb.nn_seg, sb.n - sb.nn_seg FROM sb
""",
        "fusion_debug": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey),
base AS (SELECT g.group_id, o.* FROM orders o JOIN g ON o.o_custkey = g.o_custkey),
vote AS (
  SELECT group_id, val AS value, round(CAST(c AS DOUBLE) / total, 6) AS confidence
  FROM (
    SELECT group_id, o_orderpriority AS val, count(*) AS c,
           sum(count(*)) OVER (PARTITION BY group_id) AS total
    FROM base GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY c DESC, val) = 1
),
lng AS (
  SELECT group_id, o_orderpriority AS value FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY length(o_orderpriority) DESC, o_orderpriority) = 1
)
SELECT group_id, 'pri_vote' AS attribute, value, confidence, 'voting' AS rule FROM vote
UNION ALL
SELECT group_id, 'pri_long', value, 0.7, 'longest_string' FROM lng
""",
        "fusion_selection": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey),
base AS (SELECT g.group_id, o.* FROM orders o JOIN g ON o.o_custkey = g.o_custkey),
vote AS (
  SELECT group_id, o_orderpriority AS pri_vote FROM (
    SELECT group_id, o_orderpriority, count(*) c FROM base GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY c DESC, o_orderpriority) = 1
),
lng AS (
  SELECT group_id, o_orderpriority AS pri_long FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY length(o_orderpriority) DESC, o_orderpriority) = 1
),
shrt AS (
  SELECT group_id, o_orderpriority AS pri_short FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY length(o_orderpriority), o_orderpriority) = 1
),
fst AS (
  SELECT group_id, o_orderstatus AS st_first FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY CAST(o_orderkey AS VARCHAR)) = 1
),
dts AS (
  SELECT group_id,
         CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS dt_recent,
         CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS dt_early
  FROM base GROUP BY group_id
)
SELECT vote.group_id, pri_vote, pri_long, pri_short, st_first, dt_recent, dt_early
FROM vote JOIN lng USING (group_id) JOIN shrt USING (group_id)
JOIN fst USING (group_id) JOIN dts USING (group_id)
""",
        "fusion_custom_resolver": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id,
                  count(*) AS group_size
           FROM orders GROUP BY o_custkey),
d AS (SELECT DISTINCT o_custkey, o_orderpriority FROM orders),
r AS (
  SELECT o_custkey, o_orderpriority,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderpriority DESC) AS rk,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM d
)
SELECT g.group_id, r.o_orderpriority AS pri_second,
       CAST(1.0 AS DOUBLE) / n AS conf, g.group_size
FROM r JOIN g USING (o_custkey)
WHERE rk = CASE WHEN n > 1 THEN 2 ELSE 1 END
""",
        "fusion_trust": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey),
base AS (
  SELECT g.group_id, o.*, CAST(o.o_orderkey AS VARCHAR) AS rid,
         CASE WHEN o.o_orderkey % 2 = 0 THEN 0.9 ELSE 0.4 END AS trust,
         CASE WHEN o.o_orderkey % 2 = 0 THEN 'orders_a' ELSE 'orders_b' END AS ds
  FROM orders o JOIN g ON o.o_custkey = g.o_custkey
),
trustpick AS (
  SELECT group_id, o_orderpriority AS pri_trust FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY trust DESC, rid DESC) = 1
),
wvote AS (
  SELECT group_id, o_orderstatus AS st_wvote FROM (
    SELECT group_id, o_orderstatus, sum(trust) w FROM base GROUP BY 1, 2
  ) QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY w DESC, o_orderstatus) = 1
),
favour AS (
  SELECT group_id, o_orderstatus AS st_favour FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id
    ORDER BY CASE WHEN ds = 'orders_b' THEN 0 ELSE 1 END, rid) = 1
),
rnd AS (
  SELECT group_id, o_orderpriority AS pri_rand FROM base
  QUALIFY row_number() OVER (PARTITION BY group_id ORDER BY md5(rid || ':7')) = 1
),
srcs AS (
  SELECT group_id, array_to_string(list_sort(list_distinct(list(ds))), ',') AS sources
  FROM base GROUP BY group_id
)
SELECT trustpick.group_id, pri_trust, st_wvote, st_favour, pri_rand, sources
FROM trustpick JOIN wvote USING (group_id) JOIN favour USING (group_id)
JOIN rnd USING (group_id) JOIN srcs USING (group_id)
""",
        "fusion_lists": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey),
base AS (SELECT g.group_id, o.* FROM orders o JOIN g ON o.o_custkey = g.o_custkey),
uni AS (
  SELECT group_id, array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS st_union
  FROM base GROUP BY group_id
),
inter AS (
  SELECT group_id,
    coalesce(array_to_string(list_sort(list(o_orderstatus) FILTER (WHERE cnt = total)), ','), '') AS st_inter
  FROM (
    SELECT group_id, o_orderstatus,
           count(*) AS cnt,
           (SELECT count(*) FROM base b2 WHERE b2.group_id = b1.group_id) AS total
    FROM base b1 GROUP BY group_id, o_orderstatus
  ) GROUP BY group_id
),
k2 AS (
  SELECT group_id,
    coalesce(array_to_string(list_sort(list(o_orderpriority) FILTER (WHERE cnt >= 2)), ','), '') AS pri_k2
  FROM (
    SELECT group_id, o_orderpriority, count(*) AS cnt
    FROM (SELECT DISTINCT group_id, o_orderkey, o_orderpriority FROM base)
    GROUP BY group_id, o_orderpriority
  ) GROUP BY group_id
)
SELECT uni.group_id, st_union, st_inter, pri_k2
FROM uni JOIN inter USING (group_id) JOIN k2 USING (group_id)
""",
        "eval_blocking": """
WITH tok AS (
  SELECT p_partkey, unnest(list_distinct(
    list_filter(regexp_split_to_array(lower(p_name), '[^\\p{L}\\p{N}#'']+'), x -> x != '')
  )) AS t FROM part
),
cands AS (
  SELECT DISTINCT CAST(a.p_partkey AS VARCHAR) id1, CAST(b.p_partkey AS VARCHAR) id2
  FROM tok a JOIN tok b ON a.t = b.t
  WHERE a.p_partkey < b.p_partkey
),
gold AS (
  SELECT DISTINCT CAST(a.p_partkey AS VARCHAR) id1, CAST(b.p_partkey AS VARCHAR) id2
  FROM part a JOIN part b ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey
),
m AS (
  SELECT (SELECT count(*) FROM cands) n_cand,
         (SELECT count(*) FROM gold) n_gold,
         (SELECT count(*) FROM gold JOIN cands USING (id1, id2)) n_found
)
SELECT round(n_found::DOUBLE / n_gold, 6) pair_completeness,
       round(n_found::DOUBLE / n_cand, 6) pair_quality,
       n_cand AS total_candidates,
       n_found AS true_positives_found,
       n_gold AS total_true_pairs
FROM m
""",
        "eval_matching": f"""
WITH corr AS (SELECT id1, id2 FROM ({_RULE_CORR_SQL}) WHERE score >= 0.75),
gold AS (
  SELECT CAST(s_suppkey AS VARCHAR) id1, CAST(c_custkey AS VARCHAR) id2,
         CASE WHEN abs(s_acctbal - c_acctbal) < 2000 THEN 1 ELSE 0 END AS lbl
  FROM supplier JOIN customer ON s_nationkey = c_nationkey
),
m AS (
  SELECT
    (SELECT count(*) FROM gold JOIN corr USING (id1, id2) WHERE lbl = 1) tp,
    (SELECT count(*) FROM gold JOIN corr USING (id1, id2) WHERE lbl = 0) fp,
    (SELECT count(*) FROM gold WHERE lbl = 1
       AND NOT EXISTS (SELECT 1 FROM corr WHERE corr.id1 = gold.id1 AND corr.id2 = gold.id2)) fn,
    (SELECT count(*) FROM gold WHERE lbl = 0
       AND NOT EXISTS (SELECT 1 FROM corr WHERE corr.id1 = gold.id1 AND corr.id2 = gold.id2)) tn
)
SELECT round(tp::DOUBLE / nullif(tp + fp, 0), 6) AS "precision",
       round(tp::DOUBLE / nullif(tp + fn, 0), 6) AS recall,
       round(2.0 * tp / nullif(2 * tp + fp + fn, 0), 6) AS f1,
       tp, fp, fn, tn
FROM m
""",
        "dedup_exact": """
WITH h AS (SELECT CAST(doc_id AS VARCHAR) id, md5(text) content_hash FROM documents),
c AS (SELECT content_hash, min(id) canonical_id FROM h GROUP BY 1)
SELECT id, h.content_hash, canonical_id,
       CASE WHEN id != canonical_id THEN 1 ELSE 0 END is_duplicate
FROM h JOIN c USING (content_hash)
""",
        "dedup_minhash": _minhash_sql(8, 4, 0.7),
        "dedup_ngram_jaccard": _ngram_jaccard_sql(3, 0.5),
        "text_stats": f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x != '') AS ws,
         {toks_text} AS tok
  FROM documents
)
SELECT doc_id,
       len(ws) AS n_tokens_ws,
       len(list_distinct(tok)) AS n_tokens_distinct,
       round(CASE WHEN len(tok) > 0
         THEN list_sum(list_transform(tok, x -> length(x)))::DOUBLE / len(tok)
         ELSE 0 END, 6) AS mean_token_len,
       round(CASE WHEN len(tok) > 0
         THEN len(list_filter(tok, x -> list_contains(
            ['the','and','of','to','a','in','is','that','it','for'], x)))::DOUBLE / len(tok)
         ELSE 0 END, 6) AS stopword_ratio
FROM t
""",
        "text_langid": f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id, list_distinct({toks_text}) AS tok
  FROM documents
),
scores AS (
  SELECT doc_id, tok, lang, len(list_intersect(tok, markers)) AS score
  FROM t CROSS JOIN (
    SELECT * FROM (VALUES
      ('de', ['der','die','das','und','ist','nicht','ein','mit','von','zu']),
      ('en', ['the','and','of','to','a','in','is','that','it','for']),
      ('es', ['el','la','de','que','y','en','un','es','por','con']),
      ('fr', ['le','la','de','et','est','un','une','dans','que','pour']),
      ('zh', ['de','shi','le','bu','wo','ni','ta','men','zai','you'])
    ) AS m(lang, markers)
  )
)
SELECT doc_id, lang AS predicted_lang,
       round(CASE WHEN len(tok) > 0 THEN score::DOUBLE / len(tok) ELSE 0 END, 6) AS lang_score
FROM scores
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1
""",
        "text_fingerprint": f"""
SELECT CAST(doc_id AS VARCHAR) doc_id,
       md5(array_to_string(list_sort(list_distinct({toks_text})), '|')) AS fingerprint
FROM documents
""",
        "ann_topk": _ANN_EXACT_SQL,
        "ann_ivf": _ANN_EXACT_SQL,
        "ann_lsh": _ann_lsh_oracle_sql(),
        "tpch_q5": """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
        "tpch_q9": """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
        "tpch_q15": """
WITH revenue AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) total_revenue
FROM revenue
JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
        "tpch_q17": """
WITH brand_li AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
), avg_qty AS (
  SELECT l_partkey AS ak,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty
  FROM brand_li GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM brand_li JOIN avg_qty ON l_partkey = ak
WHERE l_quantity < 0.2 * avg_qty
""",
        "tpch_q18": """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) o_orderdate,
       o_totalprice, CAST(sum_qty AS DOUBLE) sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
        "tpch_q1": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity), 6) avg_qty,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(l_discount), 6) avg_disc,
       count(*) count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
        "tpch_q3": """
SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) o_orderdate,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
        "match_date_numeric": """
WITH edges AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) id1,
         CAST(o_orderkey AS VARCHAR) id2
  FROM orders
  QUALIFY id1 IS NOT NULL
),
o AS (SELECT CAST(o_orderkey AS VARCHAR) rid, o_orderdate, o_totalprice FROM orders),
scored AS (
  SELECT e.id1, e.id2,
         0.6 * greatest(0.0, 1.0 - abs(date_diff('day', CAST(b.o_orderdate AS DATE),
                                                  CAST(a.o_orderdate AS DATE)))::DOUBLE / 365.0)
       + 0.4 * (CASE WHEN greatest(abs(a.o_totalprice), abs(b.o_totalprice)) = 0 THEN 1.0
                ELSE greatest(0.0, 1.0 - abs(a.o_totalprice - b.o_totalprice)
                              / greatest(abs(a.o_totalprice), abs(b.o_totalprice))) END)
         AS score
  FROM edges e JOIN o a ON e.id1 = a.rid JOIN o b ON e.id2 = b.rid
)
SELECT id1, id2, score FROM scored WHERE score >= 0.5
""",
        "match_uncertainty": """
WITH edges AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) id1,
         CAST(o_orderkey AS VARCHAR) id2
  FROM orders
  QUALIFY id1 IS NOT NULL
),
o AS (SELECT CAST(o_orderkey AS VARCHAR) rid, o_orderdate, o_totalprice FROM orders),
scored AS (
  SELECT e.id1, e.id2,
         0.6 * greatest(0.0, 1.0 - abs(date_diff('day', CAST(b.o_orderdate AS DATE),
                                                  CAST(a.o_orderdate AS DATE)))::DOUBLE / 365.0)
       + 0.4 * (CASE WHEN greatest(abs(a.o_totalprice), abs(b.o_totalprice)) = 0 THEN 1.0
                ELSE greatest(0.0, 1.0 - abs(a.o_totalprice - b.o_totalprice)
                              / greatest(abs(a.o_totalprice), abs(b.o_totalprice))) END)
         AS score
  FROM edges e JOIN o a ON e.id1 = a.rid JOIN o b ON e.id2 = b.rid
),
banded AS (
  SELECT id1, id2, score, abs(score - 0.5) AS margin
  FROM scored WHERE score >= 0.0 AND abs(score - 0.5) <= 0.1
)
SELECT id1, id2, score, margin,
       CAST(row_number() OVER (ORDER BY margin, id1, id2) AS INT) AS rank
FROM banded QUALIFY rank <= 100
""",
        "dedup_simhash": _simhash_sql(3),
        "dedup_canonical": f"""
WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ({_simhash_sql(3)}) q),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs
        UNION ALL SELECT id2, id1 FROM pairs),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) n
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id)
SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
       coalesce(c.cluster_id, CAST(d.doc_id AS VARCHAR)) AS canonical_id,
       CAST(coalesce(c.cluster_id, CAST(d.doc_id AS VARCHAR))
         = CAST(d.doc_id AS VARCHAR) AS INT) AS is_canonical
FROM documents d LEFT JOIN comp c ON c.id = CAST(d.doc_id AS VARCHAR)
""",
        "dedup_keep_best": f"""
WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ({_simhash_sql(3)}) q),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs
        UNION ALL SELECT id2, id1 FROM pairs),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) n
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
scored AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         coalesce(c.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id,
         length(d.text) AS q
  FROM documents d LEFT JOIN comp c ON c.id = CAST(d.doc_id AS VARCHAR)
),
winners AS (
  SELECT cluster_id, doc_id AS keep_id
  FROM (SELECT cluster_id, doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY q DESC, doc_id ASC) AS rk
        FROM scored)
  WHERE rk = 1
)
SELECT s.doc_id, s.cluster_id, w.keep_id,
       CAST(s.doc_id = w.keep_id AS INT) AS is_kept
FROM scored s JOIN winners w USING (cluster_id)
""",
        "eval_bcubed": f"""
WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ({_simhash_sql(3)}) q),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs
        UNION ALL SELECT id2, id1 FROM pairs),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) n
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
pred AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS rid,
         coalesce(c.cluster_id, CAST(d.doc_id AS VARCHAR)) AS pc
  FROM documents d LEFT JOIN comp c ON c.id = CAST(d.doc_id AS VARCHAR)
),
gold AS (
  SELECT CAST(doc_id AS VARCHAR) AS rid, md5(text) AS gc FROM documents
),
j AS (SELECT pred.rid, pc, gc FROM pred JOIN gold USING (rid)),
cell AS (SELECT pc, gc, count(*) AS c FROM j GROUP BY 1, 2),
psz AS (SELECT pc, count(*) AS ps FROM j GROUP BY 1),
gsz AS (SELECT gc, count(*) AS gs FROM j GROUP BY 1),
per AS (
  SELECT (c * CAST(1000000 AS BIGINT)) // ps AS p_ppm,
         (c * CAST(1000000 AS BIGINT)) // gs AS r_ppm
  FROM j JOIN cell USING (pc, gc) JOIN psz USING (pc) JOIN gsz USING (gc)
),
agg AS (
  -- HUGEINT intermediates are fine (only OUTPUT columns are dtype-
  -- gated); DECIMAL // here would ROUND during the scale-limited
  -- decimal division before flooring (off-by-one at .744)
  SELECT count(*) AS n, sum(p_ppm) AS sp, sum(r_ppm) AS sr FROM per
)
SELECT CAST(n AS BIGINT) AS n_records,
       CAST(sp // n AS BIGINT) AS precision_ppm,
       CAST(sr // n AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN CAST(sp // n AS BIGINT)
                    + CAST(sr // n AS BIGINT) = 0 THEN 0.0
            ELSE CAST(2 AS DOUBLE) * CAST(sp // n AS BIGINT)
            * CAST(sr // n AS BIGINT)
            / (CAST(sp // n AS BIGINT)
            + CAST(sr // n AS BIGINT)) / 1000000 END
            AS DOUBLE) AS f1
FROM agg
""",
        "type_detection": _type_detection_sql(),
        "normalize_transforms": """
SELECT CAST(p_partkey AS VARCHAR) pk,
       upper(trim(regexp_replace(trim('  ' || p_name || '   x '), '\\s+', ' ', 'g'))) AS name,
       lower(upper(p_type)) AS ptype,
       try_cast(replace(CAST(p_size AS VARCHAR) || ',' || CAST(p_partkey AS VARCHAR) || '.5', ',', '') AS DOUBLE) AS price
FROM part
""",
        "units_normalize": """
SELECT CAST(p_partkey AS VARCHAR) pk,
       p_size::DOUBLE * 0.01 AS q_len_value,
       'm' AS q_len_unit,
       'length' AS q_len_category,
       (p_size::DOUBLE - 32.0) * 5.0 / 9.0 AS q_temp_value,
       '°c' AS q_temp_unit,
       'temperature' AS q_temp_category,
       p_size::DOUBLE * 3600000.0 AS q_energy_value,
       'j' AS q_energy_unit,
       'energy' AS q_energy_category,
       p_size::DOUBLE * 100000.0 AS q_press_value,
       'pa' AS q_press_unit,
       'pressure' AS q_press_category,
       p_size::DOUBLE * 0.0174533 AS q_angle_value,
       'rad' AS q_angle_unit,
       'angle' AS q_angle_category
FROM part
""",
        "extract_rules": """
SELECT CAST(o_orderkey AS VARCHAR) ok,
       try_cast(replace(CAST(o_totalprice AS VARCHAR), ',', '') AS DOUBLE) AS money,
       round(45.0 / 100.0, 6) AS percent,
       'shop.example.com' AS domain
FROM orders
""",
        "validators_quality": """
SELECT 'range:c_acctbal' AS "check",
       count(c_acctbal) AS n_checked,
       count(*) FILTER (WHERE c_acctbal IS NOT NULL
                        AND NOT (c_acctbal >= 0.0 AND c_acctbal <= 9000.0)) AS n_violations,
       count(*) FILTER (WHERE c_acctbal IS NOT NULL
                        AND NOT (c_acctbal >= 0.0 AND c_acctbal <= 9000.0))::DOUBLE
         / count(c_acctbal) AS violation_rate
FROM customer
UNION ALL
SELECT 'pattern:c_name', count(c_name),
       count(*) FILTER (WHERE c_name IS NOT NULL AND NOT regexp_matches(c_name, '^Customer#[0-9]+$')),
       count(*) FILTER (WHERE c_name IS NOT NULL AND NOT regexp_matches(c_name, '^Customer#[0-9]+$'))::DOUBLE
         / count(c_name)
FROM customer
UNION ALL
SELECT 'completeness:c_nationkey', count(*),
       count(*) FILTER (WHERE c_nationkey IS NULL),
       count(*) FILTER (WHERE c_nationkey IS NULL)::DOUBLE / count(*)
FROM customer
""",
        "schema_duplicate_based": """
WITH corr AS (
  SELECT CAST(c_custkey AS VARCHAR) id FROM customer WHERE c_custkey % 3 = 0
),
n AS (SELECT count(*) nc FROM corr),
s AS (
  SELECT CAST(c_custkey AS VARCHAR) id, 'cust_name' col, c_name v
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT CAST(c_custkey AS VARCHAR), 'segment', c_mktsegment
  FROM customer WHERE c_custkey % 3 = 0
),
t AS (
  SELECT CAST(c_custkey AS VARCHAR) id, 'customer_name' col, c_name v
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT CAST(c_custkey AS VARCHAR), 'market_segment', c_mktsegment
  FROM customer WHERE c_custkey % 3 = 0
),
votes AS (
  SELECT s.col sc, t.col tc, count(DISTINCT s.id) votes
  FROM s JOIN t USING (id)
  WHERE lower(trim(s.v)) = lower(trim(t.v))
    AND s.v IS NOT NULL AND trim(s.v) != '' AND s.v != '0'
    AND t.v IS NOT NULL AND trim(t.v) != '' AND t.v != '0'
  GROUP BY 1, 2
)
SELECT sc AS source_column, tc AS target_column,
       round(votes::DOUBLE / nc, 6) AS score
FROM votes, n
WHERE votes >= 2 AND votes::DOUBLE / nc >= 0.5
""",
        "streaming_windowed": """
SELECT CAST(CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP) AS VARCHAR) window_start,
       event_type, count(*) n_events
FROM events
GROUP BY 1, 2
""",
        "profile_coverage": _coverage_sql(),
        "streaming_join": """
WITH c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT CAST(c.user_id AS VARCHAR) user_id,
       CAST(c.ts AS VARCHAR) click_ts,
       CAST(p.ts AS VARCHAR) purchase_ts,
       c.value AS click_value,
       p.value AS purchase_value
FROM c JOIN p ON c.user_id = p.user_id
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
        "tpch_cube": """
SELECT coalesce(l_returnflag, 'ALL') returnflag,
       coalesce(l_linestatus, 'ALL') linestatus,
       count(*) n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
        "tpch_pivot": """
SELECT o_orderpriority AS priority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS f_n,
       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 0.0) AS f_sum,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS o_n,
       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     FILTER (WHERE o_orderstatus = 'O') AS DOUBLE), 0.0) AS o_sum,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS p_n,
       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     FILTER (WHERE o_orderstatus = 'P') AS DOUBLE), 0.0) AS p_sum
FROM orders GROUP BY 1
""",
        "tpch_rollup": """
SELECT coalesce(l_returnflag, 'ALL') returnflag,
       coalesce(l_linestatus, 'ALL') linestatus,
       count(*) n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "normalize_parsers": """
SELECT CAST(c_custkey AS VARCHAR) k,
       CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS b,
       round((c_custkey % 97)::DOUBLE / 100.0, 6) AS pct,
       'shop' || CAST(c_custkey % 7 AS VARCHAR) || '.example.com' AS domain,
       '+15550' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '22' AS phone
FROM customer
""",
        "eval_threshold_sweep": f"""
WITH corr AS (SELECT id1, id2, round(score, 6) AS score FROM ({_RULE_CORR_SQL})),
gold AS (
  SELECT CAST(s_suppkey AS VARCHAR) id1, CAST(c_custkey AS VARCHAR) id2,
         CASE WHEN abs(s_acctbal - c_acctbal) < 2000 THEN 1 ELSE 0 END AS lbl
  FROM supplier JOIN customer ON s_nationkey = c_nationkey
),
scored AS (
  SELECT g.lbl, c.score FROM gold g LEFT JOIN corr c USING (id1, id2)
),
th AS (SELECT CAST(unnest([0.0, 0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS threshold),
agg AS (
  SELECT threshold,
         count(*) FILTER (WHERE score >= threshold AND lbl = 1) AS tp,
         count(*) FILTER (WHERE score >= threshold AND lbl = 0) AS fp
  FROM th CROSS JOIN scored GROUP BY threshold
),
npos AS (SELECT count(*) AS n FROM gold WHERE lbl = 1)
SELECT threshold, tp, fp, (n - tp) AS fn,
       round(CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END, 6) AS "precision",
       round(CASE WHEN n > 0 THEN tp::DOUBLE / n END, 6) AS recall,
       round(CASE WHEN tp + fp > 0 AND n > 0 AND (tp::DOUBLE/(tp+fp) + tp::DOUBLE/n) > 0
             THEN 2 * (tp::DOUBLE/(tp+fp)) * (tp::DOUBLE/n)
                  / ((tp::DOUBLE/(tp+fp)) + (tp::DOUBLE/n)) END, 6) AS f1
FROM agg, npos
""",
        "blocking_stats": """
SELECT CAST(k AS VARCHAR) block_key, ns * nc AS pair_count
FROM (SELECT s_nationkey k, count(*) ns FROM supplier GROUP BY 1) s
JOIN (SELECT c_nationkey k, count(*) nc FROM customer GROUP BY 1) c USING (k)
""",
        "fusion_most_complete": """
WITH g AS (SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id FROM orders GROUP BY o_custkey),
base AS (
  SELECT g.group_id, trim(regexp_replace(o_orderpriority, '\\s+', ' ', 'g')) AS v
  FROM orders o JOIN g ON o.o_custkey = g.o_custkey
)
SELECT group_id, v AS pri_complete FROM base
QUALIFY row_number() OVER (
  PARTITION BY group_id
  ORDER BY len(string_split(v, ' ')) DESC, length(v) DESC, v
) = 1
""",
        "streaming_sessionize": """
WITH s AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_s
  FROM events
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
)
SELECT CAST(min(ts) AS VARCHAR) session_start,
       CAST(max(ts) + INTERVAL 30 MINUTE AS VARCHAR) session_end,
       user_id, count(*) n_events,
       round(list_sum(list_sort(list(value))), 4) AS sum_value
FROM g GROUP BY user_id, sid
""",
        "profile_summary": """
SELECT 'c_custkey' column_name, count(*) n_rows, count(c_custkey) non_null, count(DISTINCT c_custkey) n_distinct FROM customer
UNION ALL
SELECT 'c_name', count(*), count(c_name), count(DISTINCT c_name) FROM customer
UNION ALL
SELECT 'c_nationkey', count(*), count(c_nationkey), count(DISTINCT c_nationkey) FROM customer
UNION ALL
SELECT 'c_acctbal', count(*), count(c_acctbal), count(DISTINCT c_acctbal) FROM customer
UNION ALL
SELECT 'c_mktsegment', count(*), count(c_mktsegment), count(DISTINCT c_mktsegment) FROM customer
""",
        # greedy 1:1 == iterated mutual-best under the same strict total
        # order (score desc, id1, id2): an edge is accepted by the
        # sequential sweep iff it is the order-minimum among remaining
        # edges sharing either endpoint
        "cluster_greedy_one_to_one": f"""
WITH RECURSIVE corr AS (
  SELECT id1, id2, round(score, 6) AS score FROM ({_RULE_CORR_SQL}) WHERE score >= 0.5
),
st AS (
  SELECT id1, id2, score, FALSE AS acc FROM corr
  UNION ALL
  SELECT * FROM (
    WITH r AS (SELECT id1, id2, score FROM st WHERE NOT acc),
    b AS (
      SELECT e.* FROM r e
      WHERE NOT EXISTS (SELECT 1 FROM r o WHERE o.id1 = e.id1 AND (o.score > e.score OR (o.score = e.score AND o.id2 < e.id2)))
        AND NOT EXISTS (SELECT 1 FROM r o WHERE o.id2 = e.id2 AND (o.score > e.score OR (o.score = e.score AND o.id1 < e.id1)))
    )
    SELECT id1, id2, score, TRUE FROM b
    UNION ALL
    SELECT r.id1, r.id2, r.score, FALSE FROM r
    WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.id1 = r.id1 OR b.id2 = r.id2)
  )
)
SELECT id1, id2, score FROM st WHERE acc
""",
        # CENTER: direct state-machine replay, one ranked edge per
        # recursive iteration (assignments carried forward each step)
        "cluster_centre": f"""
WITH RECURSIVE e AS (
  SELECT id1, id2, row_number() OVER (ORDER BY score DESC, id1, id2) AS i
  FROM (SELECT id1, id2, round(score, 6) AS score FROM ({_rule_corr_prefixed_sql()}) WHERE score >= 0.7)
),
st AS (
  SELECT 0::BIGINT AS step, NULL::VARCHAR AS record_id, NULL::VARCHAR AS cluster_id, FALSE AS is_center
  UNION ALL
  SELECT * FROM (
    WITH prev AS (SELECT * FROM st),
    s AS (SELECT max(step) AS s FROM prev),
    cur AS (SELECT e.id1, e.id2 FROM e, s WHERE e.i = s.s + 1),
    asg AS (SELECT record_id, cluster_id, is_center FROM prev WHERE record_id IS NOT NULL),
    flags AS (
      SELECT cur.id1, cur.id2,
        (SELECT cluster_id FROM asg WHERE record_id = cur.id1) AS c1,
        coalesce((SELECT is_center FROM asg WHERE record_id = cur.id1), FALSE) AS ic1,
        (SELECT cluster_id FROM asg WHERE record_id = cur.id2) AS c2,
        coalesce((SELECT is_center FROM asg WHERE record_id = cur.id2), FALSE) AS ic2
      FROM cur
    ),
    adds AS (
      SELECT id1 AS record_id, id1 AS cluster_id, TRUE AS is_center FROM flags WHERE c1 IS NULL AND c2 IS NULL
      UNION ALL
      SELECT id2, id1, FALSE FROM flags WHERE c1 IS NULL AND c2 IS NULL
      UNION ALL
      SELECT id2, id1, FALSE FROM flags WHERE c1 IS NOT NULL AND ic1 AND c2 IS NULL
      UNION ALL
      SELECT id1, id2, FALSE FROM flags WHERE c2 IS NOT NULL AND ic2 AND c1 IS NULL
    )
    SELECT s.s + 1, p.record_id, p.cluster_id, p.is_center FROM prev p, s WHERE EXISTS (SELECT 1 FROM cur)
    UNION ALL
    SELECT s.s + 1, a.record_id, a.cluster_id, a.is_center FROM adds a, s
  )
)
SELECT record_id, cluster_id FROM st
WHERE step = (SELECT count(*) FROM e) AND record_id IS NOT NULL
""",
        # single linkage at threshold t == connected components of the
        # >= t edge subgraph (independent characterization of the
        # sequential agglomerative loop)
        "cluster_hierarchical": f"""
WITH RECURSIVE corr AS (
  SELECT id1, id2, round(score, 6) AS score FROM ({_rule_corr_prefixed_sql(3)}) WHERE score >= 0.5
),
nodes AS (SELECT DISTINCT id FROM (SELECT id1 AS id FROM corr UNION ALL SELECT id2 FROM corr)),
me AS (SELECT id1, id2 FROM corr WHERE score >= 0.65),
sym AS (SELECT id1 AS a, id2 AS b FROM me UNION SELECT id2, id1 FROM me),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT n.id AS record_id, least(n.id, coalesce(min(r.b), n.id)) AS cluster_id
FROM nodes n LEFT JOIN reach r ON r.a = n.id
GROUP BY n.id
""",
        # forced-unique-merge-order triangle fixture (see
        # _hier_triangle_corr): the oracle states the exact expected
        # partition per regime m. MAX merges the full triangle only at
        # m=0; stops at the top pair for m=1-3; singletons at m=4.
        "cluster_hierarchical_max": """
WITH r AS (
  SELECT c_custkey, c_nationkey,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rk
  FROM customer
), rr AS (
  SELECT printf('C%07d', c_custkey) AS id, c_nationkey,
         CAST((rk - 1) // 3 AS INTEGER) AS blk, (rk - 1) % 3 AS pos
  FROM r WHERE rk <= 6
), tri AS (
  SELECT c_nationkey, blk,
         min(CASE WHEN pos = 0 THEN id END) AS a,
         min(CASE WHEN pos = 1 THEN id END) AS b,
         min(CASE WHEN pos = 2 THEN id END) AS c
  FROM rr GROUP BY c_nationkey, blk HAVING count(*) = 3
), t2 AS (SELECT a, b, c, (c_nationkey * 2 + blk) % 5 AS m FROM tri)
SELECT a AS record_id, a AS cluster_id FROM t2
UNION ALL
SELECT b AS record_id, CASE WHEN m <= 3 THEN a ELSE b END AS cluster_id FROM t2
UNION ALL
SELECT c AS record_id, CASE WHEN m = 0 THEN a ELSE c END AS cluster_id FROM t2
""",
        # AVG diverges from MAX exactly at m=2 (avg .5625 > t while
        # min .3125 < t) — the merged-vs-stopped regime the oracle pins.
        "cluster_hierarchical_avg": """
WITH r AS (
  SELECT c_custkey, c_nationkey,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rk
  FROM customer
), rr AS (
  SELECT printf('C%07d', c_custkey) AS id, c_nationkey,
         CAST((rk - 1) // 3 AS INTEGER) AS blk, (rk - 1) % 3 AS pos
  FROM r WHERE rk <= 6
), tri AS (
  SELECT c_nationkey, blk,
         min(CASE WHEN pos = 0 THEN id END) AS a,
         min(CASE WHEN pos = 1 THEN id END) AS b,
         min(CASE WHEN pos = 2 THEN id END) AS c
  FROM rr GROUP BY c_nationkey, blk HAVING count(*) = 3
), t2 AS (SELECT a, b, c, (c_nationkey * 2 + blk) % 5 AS m FROM tri)
SELECT a AS record_id, a AS cluster_id FROM t2
UNION ALL
SELECT b AS record_id, CASE WHEN m <= 3 THEN a ELSE b END AS cluster_id FROM t2
UNION ALL
SELECT c AS record_id, CASE WHEN m IN (0, 2) THEN a ELSE c END AS cluster_id FROM t2
""",
        "cluster_consistency": """
WITH g AS (
  SELECT o_custkey, count(*) AS n, min(CAST(o_orderkey AS VARCHAR)) AS gid
  FROM orders GROUP BY o_custkey HAVING count(*) >= 2
)
SELECT gid AS cluster_id, n AS n_entities, n - 1 AS n_edges,
       (n - 1) / (n * (n - 1) / 2) AS consistency
FROM g
""",
        "cluster_size_dist": """
WITH g AS (SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey HAVING count(*) >= 2)
SELECT n AS cluster_size, count(*) AS n_clusters FROM g GROUP BY n
""",
        "schema_label_based": """
WITH sc AS (SELECT name FROM pragma_table_info('supplier') WHERE name <> 's_suppkey'),
tc AS (SELECT name FROM pragma_table_info('customer') WHERE name <> 'c_custkey'),
st AS (SELECT name, list_distinct(regexp_extract_all(lower(name), '[a-z]+')) AS t FROM sc),
tt AS (SELECT name, list_distinct(regexp_extract_all(lower(name), '[a-z]+')) AS t FROM tc),
pairs AS (
  SELECT s.name AS sn, c.name AS tn,
         len(list_intersect(s.t, c.t))::DOUBLE / len(list_distinct(s.t || c.t)) AS score
  FROM st s CROSS JOIN tt c
)
SELECT sn AS source_column, tn AS target_column, round(score, 6) AS score
FROM pairs WHERE score >= 0.1
""",
        "schema_eval": """
WITH sc AS (SELECT name FROM pragma_table_info('supplier') WHERE name <> 's_suppkey'),
tc AS (SELECT name FROM pragma_table_info('customer') WHERE name <> 'c_custkey'),
st AS (SELECT name, list_distinct(regexp_extract_all(lower(name), '[a-z]+')) AS t FROM sc),
tt AS (SELECT name, list_distinct(regexp_extract_all(lower(name), '[a-z]+')) AS t FROM tc),
pred AS (
  SELECT s.name AS sn, c.name AS tn
  FROM st s CROSS JOIN tt c
  WHERE len(list_intersect(s.t, c.t))::DOUBLE / len(list_distinct(s.t || c.t)) >= 0.1
),
gold(sn, tn) AS (
  VALUES ('s_name', 'c_name'), ('s_nationkey', 'c_nationkey'),
         ('s_acctbal', 'c_acctbal'), ('s_suppkey', 'c_custkey')
),
m AS (
  SELECT
    (SELECT count(*) FROM pred p
     WHERE EXISTS (SELECT 1 FROM gold g WHERE g.sn = p.sn AND g.tn = p.tn)) AS tp,
    (SELECT count(*) FROM pred p
     WHERE NOT EXISTS (SELECT 1 FROM gold g WHERE g.sn = p.sn AND g.tn = p.tn)) AS fp,
    (SELECT count(*) FROM gold g
     WHERE NOT EXISTS (SELECT 1 FROM pred p WHERE p.sn = g.sn AND p.tn = g.tn)) AS fn_
)
SELECT CAST(tp AS INT) AS tp, CAST(fp AS INT) AS fp, CAST(fn_ AS INT) AS fn,
  CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) END AS precision,
  CASE WHEN tp + fn_ > 0 THEN tp::DOUBLE / (tp + fn_) END AS recall,
  CASE WHEN tp + fp > 0 AND tp + fn_ > 0
        AND tp::DOUBLE / (tp + fp) > 0 AND tp::DOUBLE / (tp + fn_) > 0
       THEN 2 * (tp::DOUBLE / (tp + fp)) * (tp::DOUBLE / (tp + fn_))
            / ((tp::DOUBLE / (tp + fp)) + (tp::DOUBLE / (tp + fn_)))
       ELSE 0.0 END AS f1
FROM m
""",
        "schema_instance_based": f"""
WITH sl AS (
  SELECT 'p_name' AS col, unnest({_IB_TOK_SQL.format(col="p_name")}) AS term FROM part
  UNION ALL SELECT 'p_brand', unnest({_IB_TOK_SQL.format(col="p_brand")}) FROM part
  UNION ALL SELECT 'p_type', unnest({_IB_TOK_SQL.format(col="p_type")}) FROM part
),
tl AS (
  SELECT 'c_name' AS col, unnest({_IB_TOK_SQL.format(col="c_name")}) AS term FROM customer
  UNION ALL SELECT 'c_mktsegment', unnest({_IB_TOK_SQL.format(col="c_mktsegment")}) FROM customer
),
sv AS (SELECT col, term, count(*)::DOUBLE AS c FROM sl GROUP BY 1, 2),
tv AS (SELECT col, term, count(*)::DOUBLE AS c FROM tl GROUP BY 1, 2),
s_norm AS (SELECT col, sqrt(sum(c * c)) AS n FROM sv GROUP BY col),
t_norm AS (SELECT col, sqrt(sum(c * c)) AS n FROM tv GROUP BY col),
d AS (
  SELECT s.col AS scol, t.col AS tcol, sum(s.c * t.c) AS dot
  FROM sv s JOIN tv t USING (term) GROUP BY 1, 2
)
SELECT s_norm.col AS source_column, t_norm.col AS target_column,
       round(coalesce(d.dot, 0) / (s_norm.n * t_norm.n), 6) AS score
FROM s_norm CROSS JOIN t_norm
LEFT JOIN d ON d.scol = s_norm.col AND d.tcol = t_norm.col
""",
        "match_ml_linear": """
WITH s AS (SELECT CAST(s_suppkey AS VARCHAR) id1, s_name n1, s_acctbal b1, s_nationkey k FROM supplier),
c AS (SELECT CAST(c_custkey AS VARCHAR) id2, c_name n2, c_acctbal b2, c_nationkey k FROM customer),
f AS (SELECT id1, id2,
        1.0 - levenshtein(n1, n2)::DOUBLE / greatest(length(n1), length(n2)) AS f1,
        greatest(0.0, 1.0 - abs(b1 - b2) / 5000.0) AS f2
      FROM s JOIN c USING (k)),
p AS (SELECT id1, id2, 1.0 / (1.0 + exp(-(2.0 * f1 + 1.0 * f2 - 1.5))) AS score FROM f)
SELECT id1, id2, round(score, 6) AS score FROM p WHERE score >= 0.5
""",
        "eval_ie": r"""
WITH base AS (
  SELECT c_custkey AS k,
         'contact user' || CAST(c_custkey % 50 AS VARCHAR) ||
         CASE WHEN c_custkey % 5 <> 0 THEN '@mail.example.com' ELSE ' at mail' END ||
         ' ref ' || CAST(c_custkey % 997 AS VARCHAR) AS text
  FROM customer
),
pred AS (
  SELECT k,
         nullif(regexp_extract(text, '(\S+@\S+\.[a-z]+)', 1), '') AS email,
         nullif(regexp_extract(text, 'ref (\d+)', 1), '') AS ref_code
  FROM base
),
gold AS (
  SELECT k,
         CASE WHEN k % 10 = 0 THEN 'missing@gold.example'
              WHEN k % 5 = 0 THEN NULL
              WHEN k % 9 = 0 THEN 'wrong@example.org'
              ELSE 'user' || CAST(k % 50 AS VARCHAR) || '@mail.example.com' END AS email,
         CASE WHEN k % 7 = 0 THEN '-1' ELSE CAST(k % 997 AS VARCHAR) END AS ref_code
  FROM base
),
j AS (SELECT p.email pe, g.email ge, p.ref_code pr, g.ref_code gr FROM pred p JOIN gold g ON p.k = g.k),
att AS (
  SELECT 'email' AS attribute,
    count(*) FILTER (WHERE pe IS NOT NULL AND ge IS NOT NULL AND pe = ge) AS tp,
    count(*) FILTER (WHERE pe IS NOT NULL AND (ge IS NULL OR pe <> ge)) AS fp,
    count(*) FILTER (WHERE pe IS NULL AND ge IS NOT NULL) AS fn
  FROM j
  UNION ALL
  SELECT 'ref_code',
    count(*) FILTER (WHERE pr IS NOT NULL AND gr IS NOT NULL AND pr = gr),
    count(*) FILTER (WHERE pr IS NOT NULL AND (gr IS NULL OR pr <> gr)),
    count(*) FILTER (WHERE pr IS NULL AND gr IS NOT NULL)
  FROM j
),
m AS (
  SELECT attribute, tp, fp, fn,
    CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS precision,
    CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END AS recall
  FROM att
),
mf AS (
  SELECT attribute, tp, fp, fn, precision, recall,
    CASE WHEN coalesce(precision, 0) <> 0 AND coalesce(recall, 0) <> 0
         THEN 2 * precision * recall / (precision + recall) ELSE 0.0 END AS f1
  FROM m
),
mi AS (
  SELECT 'micro' AS attribute, sum(tp)::BIGINT AS tp, sum(fp)::BIGINT AS fp, sum(fn)::BIGINT AS fn FROM att
),
mim AS (
  SELECT attribute, tp, fp, fn,
    CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS precision,
    CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END AS recall
  FROM mi
)
SELECT attribute, tp, fp, fn, precision, recall, f1 FROM mf
UNION ALL
SELECT attribute, tp, fp, fn, precision, recall,
  CASE WHEN coalesce(precision, 0) <> 0 AND coalesce(recall, 0) <> 0
       THEN 2 * precision * recall / (precision + recall) ELSE 0.0 END
FROM mim
UNION ALL
SELECT 'macro', NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE, NULL::DOUBLE,
       (SELECT sum(f1) / 2 FROM mf)
""",
        "outlier_bounds": """
WITH stats AS (
  SELECT avg(c_acctbal) AS m, stddev_pop(c_acctbal) AS s, median(c_acctbal) AS med FROM customer
),
mad AS (SELECT median(abs(c_acctbal - (SELECT med FROM stats))) AS v FROM customer)
SELECT 'zscore' AS method, round(m - 2.0 * s, 4) AS lo, round(m + 2.0 * s, 4) AS hi,
       (SELECT count(*) FROM customer WHERE c_acctbal < m - 2.0 * s OR c_acctbal > m + 2.0 * s) AS n_outliers
FROM stats
UNION ALL
SELECT 'modified_zscore', round(med - 3.5 * (1.4826 * v), 4), round(med + 3.5 * (1.4826 * v), 4),
       (SELECT count(*) FROM customer WHERE c_acctbal < med - 3.5 * (1.4826 * v) OR c_acctbal > med + 3.5 * (1.4826 * v))
FROM stats, mad
""",
        "movies_parity": f"""
WITH base(i, title) AS (VALUES
  (0, 'The Matrix'), (1, 'Heat'), (2, 'Blade Runner'),
  (3, 'Alien'), (4, 'Casablanca'), (5, 'Goodfellas')),
a AS (SELECT 'actors-' || lpad(CAST(i AS VARCHAR), 4, '0') AS id,
             trim(regexp_replace(lower(title), '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS tn
      FROM base WHERE i < 4),
b AS (SELECT 'awards-' || lpad(CAST(i AS VARCHAR), 4, '0') AS id,
             trim(regexp_replace(lower(upper(title) || '!'), '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) AS tn
      FROM base),
cand AS (SELECT a.id AS id1, b.id AS id2, a.tn AS t1, b.tn AS t2
         FROM a JOIN b ON substr(a.tn, 1, 4) = substr(b.tn, 1, 4)),
scored AS (SELECT id1, id2,
             len(list_intersect(list_distinct({_TOK_SQL.format(col="t1")}), list_distinct({_TOK_SQL.format(col="t2")})))::DOUBLE
             / len(list_distinct(list_distinct({_TOK_SQL.format(col="t1")}) || list_distinct({_TOK_SQL.format(col="t2")}))) AS score
           FROM cand),
pred AS (SELECT id1, id2 FROM scored WHERE score >= 0.7),
gold(id1, id2, label) AS (VALUES
  ('actors-0000', 'awards-0000', 1), ('actors-0001', 'awards-0001', 1),
  ('actors-0002', 'awards-0002', 1), ('actors-0003', 'awards-0003', 1),
  ('actors-0000', 'awards-0001', 0), ('actors-0001', 'awards-0002', 0),
  ('actors-0002', 'awards-0003', 0), ('actors-0003', 'awards-0004', 0)),
counts AS (
  SELECT
    (SELECT count(*) FROM cand) AS n_cand,
    (SELECT count(*) FROM gold WHERE label = 1) AS n_gold,
    (SELECT count(*) FROM gold g JOIN cand c ON g.id1 = c.id1 AND g.id2 = c.id2 WHERE g.label = 1) AS n_found,
    (SELECT count(*) FROM gold g JOIN pred p ON g.id1 = p.id1 AND g.id2 = p.id2 WHERE g.label = 1) AS tp,
    (SELECT count(*) FROM gold g JOIN pred p ON g.id1 = p.id1 AND g.id2 = p.id2 WHERE g.label = 0) AS fp,
    (SELECT count(*) FROM gold g WHERE g.label = 1
       AND NOT EXISTS (SELECT 1 FROM pred p WHERE p.id1 = g.id1 AND p.id2 = g.id2)) AS fn
),
metrics AS (
  SELECT CAST(n_found AS DOUBLE) / n_gold AS pair_completeness,
         1.0 - CAST(n_cand AS DOUBLE) / 24 AS reduction_ratio,
         n_cand AS total_candidates,
         CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS precision,
         CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END AS recall,
         tp, fp, fn
  FROM counts
)
SELECT pair_completeness, reduction_ratio, total_candidates, precision, recall,
       CASE WHEN coalesce(precision, 0) <> 0 AND coalesce(recall, 0) <> 0 AND precision + recall > 0
            THEN 2 * precision * recall / (precision + recall)
            WHEN precision IS NOT NULL AND recall IS NOT NULL THEN 0.0
            END AS f1
FROM metrics
""",
    }
    out["cluster_cc_distributed"] = out["cluster_connected_components"]
    out["dedup_embedding"] = _dedup_embedding_oracle_sql()
    out["dedup_semantic"] = _dedup_semantic_oracle_sql()
    out["streaming_stateful_ttl"] = "SELECT DISTINCT user_id FROM events"
    out["fusion_conflicts"] = """
WITH edges AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) id1,
         CAST(o_orderkey AS VARCHAR) id2, o_custkey
  FROM orders
  QUALIFY id1 IS NOT NULL
),
members AS (
  SELECT DISTINCT o_custkey, id FROM (
    SELECT o_custkey, id1 AS id FROM edges
    UNION ALL SELECT o_custkey, id2 FROM edges
  )
),
grp AS (
  SELECT m.o_custkey g, o.o_orderstatus st, o.o_orderpriority pri, o.o_totalprice tp
  FROM members m JOIN orders o ON CAST(o.o_orderkey AS VARCHAR) = m.id
),
per AS (
  SELECT g,
         count(DISTINCT st) > 1 AS c_st,
         count(DISTINCT pri) > 1 AS c_pri,
         count(DISTINCT tp) > 1 AS c_tp
  FROM grp GROUP BY g
)
SELECT 'o_orderstatus' AS attribute,
       count(*) FILTER (WHERE c_st) AS conflicting_groups,
       count(*) AS n_groups,
       count(*) FILTER (WHERE c_st)::DOUBLE / count(*) AS conflict_rate
FROM per
UNION ALL
SELECT 'o_orderpriority',
       count(*) FILTER (WHERE c_pri), count(*),
       count(*) FILTER (WHERE c_pri)::DOUBLE / count(*)
FROM per
UNION ALL
SELECT 'o_totalprice',
       count(*) FILTER (WHERE c_tp), count(*),
       count(*) FILTER (WHERE c_tp)::DOUBLE / count(*)
FROM per
"""
    out["join_skew_salted"] = """
SELECT s_nationkey, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
"""
    # winning mapping fully determined by the literal correspondence
    # table in q_translate_rename: s_name -> label (0.9 tie, lexicographic
    # target tie-break), s_acctbal -> balance (0.8 > 0.5); ghost/other-
    # dataset rows dropped
    out["translate_rename"] = """
SELECT CAST(s_suppkey AS VARCHAR) AS supp_id, s_name AS label,
       s_acctbal AS balance, s_nationkey
FROM supplier
"""
    # chain edges over the odd-key (new) subset connect ALL new orders of
    # a customer, so adoption collapses to: min old id string if the
    # customer has any even-key order, else min new id string
    out["cluster_incremental"] = """
WITH o AS (SELECT CAST(o_orderkey AS VARCHAR) id, o_orderkey k, o_custkey c FROM orders),
olds AS (SELECT * FROM o WHERE k % 2 = 0),
news AS (SELECT * FROM o WHERE k % 2 = 1),
oldmin AS (SELECT c, min(id) cl FROM olds GROUP BY c),
newmin AS (SELECT c, min(id) cl FROM news GROUP BY c)
SELECT n.id AS record_id, coalesce(om.cl, nm.cl) AS cluster_id
FROM news n
LEFT JOIN oldmin om ON n.c = om.c
JOIN newmin nm ON n.c = nm.c
"""
    out["normalize_text"] = r"""
WITH base AS (
  SELECT CAST(p_partkey AS VARCHAR) AS part_id,
         '<b>' || p_name || '</b> &amp; [' || p_brand || '] ' || p_type AS raw,
         p_name || ' (' || p_brand || ')' AS raw2,
         p_brand, p_name
  FROM part
),
tok AS (
  -- stopword filter BEFORE stemming, mirroring
  -- stem_light(remove_stopwords(toks)) in q_normalize_text
  SELECT part_id,
         list_transform(
           list_filter(
             list_filter(regexp_split_to_array(lower(p_name), '[^\p{L}\p{N}#'']+'), x -> x != ''),
             t2 -> NOT list_contains(['a','an','and','are','as','at','be','by',
               'for','from','has','he','in','is','it','its','of','on','that',
               'the','to','was','were','will','with'], t2)),
           t -> CASE
             WHEN regexp_matches(t, '(sses)$') THEN regexp_replace(t, 'sses$', 'ss')
             WHEN regexp_matches(t, '(ies)$') THEN regexp_replace(t, 'ies$', 'y')
             WHEN regexp_matches(t, '[a-z]{3,}ing$') THEN regexp_replace(t, 'ing$', '')
             WHEN regexp_matches(t, '[a-z]{3,}ed$') THEN regexp_replace(t, 'ed$', '')
             WHEN regexp_matches(t, '[a-z]{2,}s$') AND NOT regexp_matches(t, 'ss$')
               THEN regexp_replace(t, 's$', '')
             ELSE t END
         ) AS stems
  FROM base
)
SELECT b.part_id,
  trim(regexp_replace(regexp_replace(
    lower(replace(replace(replace(replace(replace(replace(
      regexp_replace(b.raw, '<[^>]+>', ' ', 'g'),
      '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&nbsp;', ' '),
      '&quot;', '"'), '&#39;', '''')),
    '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS clean,
  trim(regexp_replace(b.raw2, '\s*[(\[{][^)\]}]*[)\]}]', '', 'g')) AS no_brackets,
  regexp_extract(b.raw2, '[(\[{]([^)\]}]*)[)\]}]', 1) AS bracketed,
  regexp_replace(regexp_replace(regexp_replace(
    lower(regexp_replace(b.p_brand, '([a-z0-9])([A-Z])', '\1_\2', 'g')),
    '[^a-z0-9]+', '_', 'g'), '_+', '_', 'g'), '^_|_$', '', 'g') AS header,
  array_to_string(t.stems, ' ') AS stemmed
FROM base b JOIN tok t USING (part_id)
"""
    out["match_llm_fake"] = r"""
WITH s AS (
  SELECT CAST(s_suppkey AS VARCHAR) id1,
         CAST(regexp_extract(s_name, '(\d+)$', 1) AS BIGINT) a,
         s_nationkey k
  FROM supplier
),
c AS (
  SELECT CAST(c_custkey AS VARCHAR) id2,
         CAST(regexp_extract(c_name, '(\d+)$', 1) AS BIGINT) b,
         c_nationkey k
  FROM customer WHERE c_custkey % 10 = 0
),
j AS (
  SELECT id1, id2, 1.0 / (1.0 + abs(a - b) / 1000.0) AS score
  FROM s JOIN c USING (k)
)
SELECT id1, id2, round(score, 6) AS score FROM j WHERE score >= 0.5
"""
    out["match_plm_fake"] = """
WITH a AS (
  SELECT CAST(c_custkey AS VARCHAR) id1,
         length(c_name || ' ' || c_mktsegment) la, c_nationkey k
  FROM customer WHERE c_custkey < 4000 AND c_custkey % 2 = 0
),
b AS (
  SELECT CAST(c_custkey AS VARCHAR) id2,
         length(c_name || ' ' || c_mktsegment) lb, c_nationkey k
  FROM customer WHERE c_custkey < 4000 AND c_custkey % 2 = 1
),
j AS (
  SELECT id1, id2, ((la + 7 + lb) % 97) / 96.0 AS score
  FROM a JOIN b USING (k)
)
SELECT id1, id2, round(score, 6) AS score FROM j WHERE score >= 0.3
"""
    # prefix filtering is lossless -> same oracle as dedup_ngram_jaccard
    out["dedup_ngram_prefix"] = _ngram_jaccard_sql(3, 0.5)
    out["extract_code"] = """
SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
       split_part(o_orderpriority, '-', 1) AS prio_num,
       o_orderstatus || '|' || o_orderpriority AS status_prio
FROM orders
"""
    out["join_asof"] = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error'
  GROUP BY user_id, ts
)
SELECT CAST(l.event_id AS VARCHAR) AS event_id,
       CAST(l.user_id AS VARCHAR) AS user_id,
       CAST(l.ts AS VARCHAR) AS ts,
       CAST(r.ts AS VARCHAR) AS matched_ts,
       r.err_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""
    out["join_range"] = """
WITH i AS (
  SELECT event_id AS incident_id, ts AS s, ts + INTERVAL 2 HOUR AS e
  FROM events WHERE event_id % 199 = 0
)
SELECT p.event_id, CAST(p.ts AS VARCHAR) AS ts, p.event_type, i.incident_id
FROM events p JOIN i ON p.ts >= i.s AND p.ts <= i.e
"""
    out["tpch_window"] = """
WITH w AS (
  SELECT o_custkey AS custkey, CAST(o_orderkey AS VARCHAR) AS order_id,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk,
         o_totalprice AS totalprice,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
              OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_spend
  FROM orders
)
SELECT custkey, order_id, rk, totalprice, run_spend FROM w WHERE rk <= 2
"""
    out["text_clean"] = r"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         text || chr(10) || 'share this article' || chr(10)
              || upper(source) || ' footer' AS raw
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest([{'pos': i, 'line': sp[i]} for i in range(1, len(sp) + 1)]) AS s
  FROM (SELECT doc_id, string_split(raw, chr(10)) AS sp FROM docs)
),
base AS (
  SELECT doc_id, s.pos AS pos, s.line AS line, trim(s.line) AS norm,
         len(list_filter(regexp_split_to_array(trim(s.line), '\s+'),
                         x -> x != '')) >= 3 AS keep
  FROM lines
),
hot AS (
  SELECT norm FROM base WHERE keep
  GROUP BY norm HAVING count(DISTINCT doc_id) > 100
),
final AS (
  SELECT b.doc_id, b.pos, b.line, (b.keep AND h.norm IS NULL) AS keep2
  FROM base b LEFT JOIN hot h ON b.norm = h.norm
)
SELECT doc_id,
       md5(coalesce(string_agg(CASE WHEN keep2 THEN line END, chr(10) ORDER BY pos), '')) AS clean_md5,
       CAST(length(coalesce(string_agg(CASE WHEN keep2 THEN line END, chr(10) ORDER BY pos), '')) AS INT) AS clean_len,
       CAST(sum(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       count(*) AS n_lines_total
FROM final GROUP BY doc_id
"""
    out["text_clean_multiline"] = r"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         substr(text, 1, 400) || '.' || chr(10)
         || 'subscribe to our newsletter today.' || chr(10)
         || substr(text, 401, 120) || '.' || chr(10)
         || 'share this article' || chr(10)
         || substr(text, 521, 120) || '?' || chr(10)
         || 'ok.' AS raw
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest([{'pos': i, 'line': sp[i]} for i in range(1, len(sp) + 1)]) AS s
  FROM (SELECT doc_id, string_split(raw, chr(10)) AS sp FROM docs)
),
base AS (
  SELECT doc_id, s.pos AS pos, s.line AS line, trim(s.line) AS norm,
         len(list_filter(regexp_split_to_array(trim(s.line), '\s+'),
                         x -> x != '')) AS wc
  FROM lines
),
flag AS (
  SELECT doc_id, pos, line, norm,
         (wc >= 2 AND wc <= 40 AND regexp_matches(norm, '[.!?"'']$')) AS keep
  FROM base
),
hot AS (
  SELECT norm FROM flag WHERE keep GROUP BY norm HAVING count(DISTINCT doc_id) > 50
),
final AS (
  SELECT f.doc_id, f.pos, f.line, (f.keep AND h.norm IS NULL) AS keep2
  FROM flag f LEFT JOIN hot h ON f.norm = h.norm
)
SELECT doc_id,
       md5(coalesce(string_agg(CASE WHEN keep2 THEN line END, chr(10) ORDER BY pos), '')) AS clean_md5,
       CAST(length(coalesce(string_agg(CASE WHEN keep2 THEN line END, chr(10) ORDER BY pos), '')) AS INT) AS clean_len,
       CAST(sum(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       count(*) AS n_lines_total
FROM final GROUP BY doc_id
"""
    out["text_line_dedup"] = r"""
WITH docs AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         substr(text, 1, 200) || chr(10)
         || 'footer for ' || source || chr(10)
         || substr(text, 201, 200) || chr(10)
         || 'share this article' AS raw
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest([{'pos': i, 'line': sp[i]} for i in range(1, len(sp) + 1)]) AS s
  FROM (SELECT doc_id, string_split(raw, chr(10)) AS sp FROM docs)
),
base AS (
  SELECT doc_id, s.pos AS pos, s.line AS line, trim(s.line) AS norm
  FROM lines
),
marked AS (
  SELECT doc_id, pos, line,
         (length(norm) < 1)
         OR (row_number() OVER (
               PARTITION BY CASE WHEN length(norm) >= 1 THEN md5(norm)
                                 ELSE doc_id || ':' || CAST(pos AS VARCHAR) END
               ORDER BY doc_id, pos) = 1) AS keep
  FROM base
)
SELECT doc_id,
       md5(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')) AS clean_md5,
       CAST(length(coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '')) AS INT) AS clean_len,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept,
       count(*) AS n_lines_total
FROM marked GROUP BY doc_id
"""
    out["io_roundtrip"] = """
SELECT CAST(s_suppkey AS INT) AS s_suppkey, s_name, n_name, r_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""
    out["io_fwf_roundtrip"] = """
SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name FROM nation
"""
    out["schema_llm_fake"] = """
WITH src AS (
  SELECT c_mktsegment AS seg_a, c_name AS name_a
  FROM (SELECT * FROM customer ORDER BY c_custkey LIMIT 5)
),
tgt AS (
  SELECT c_mktsegment AS seg_b, c_name AS name_b
  FROM (SELECT * FROM customer ORDER BY c_custkey DESC LIMIT 5)
),
cols AS (
  SELECT 'seg_a' AS sc, list_distinct(list(seg_a)) AS sv FROM src
  UNION ALL SELECT 'name_a', list_distinct(list(name_a)) FROM src
),
colt AS (
  SELECT 'seg_b' AS tc, list_distinct(list(seg_b)) AS tv FROM tgt
  UNION ALL SELECT 'name_b', list_distinct(list(name_b)) FROM tgt
),
pairs AS (
  SELECT sc AS source_column, tc AS target_column,
         round(len(list_intersect(sv, tv))::DOUBLE
               / len(list_distinct(sv || tv)), 4) AS score
  FROM cols CROSS JOIN colt
)
SELECT source_column, target_column, score FROM pairs WHERE score >= 0.05
"""
    out["io_id_injection"] = """
SELECT printf('supplier-%04d', row_number() OVER (ORDER BY s_suppkey) - 1) AS sid,
       CAST(s_suppkey AS INT) AS s_suppkey, s_name
FROM supplier
"""
    out["io_explode_delimited"] = r"""
SELECT CAST(p_partkey AS INT) AS pk,
       trim(unnest(regexp_split_to_array(
         p_name || ';' || p_brand || ' and ' || p_type, '\s+and\s+|,|;'))) AS vals
FROM part
"""
    out["text_repetition"] = f"""
WITH t AS (SELECT CAST(doc_id AS VARCHAR) doc_id, {toks_text} AS tok FROM documents),
words AS (SELECT doc_id, unnest(tok) AS w FROM t),
pw AS (SELECT doc_id, w, count(*) c FROM words GROUP BY doc_id, w),
ws AS (SELECT doc_id, max(c) max_c, sum(c) n_words, count(*) n_distinct
       FROM pw GROUP BY doc_id),
gs AS (SELECT doc_id, len(grams) n_grams, len(list_distinct(grams)) n_distinct_grams
       FROM (SELECT doc_id, [tok[i] || ' ' || tok[i+1] for i in range(1, len(tok))] AS grams FROM t))
SELECT t.doc_id,
  CASE WHEN coalesce(ws.n_words, 0) > 0
       THEN ws.max_c::DOUBLE / ws.n_words ELSE 0.0 END AS top_word_frac,
  CASE WHEN coalesce(gs.n_grams, 0) > 0
       THEN 1.0 - gs.n_distinct_grams::DOUBLE / gs.n_grams ELSE 0.0 END AS dup_2gram_frac,
  CASE WHEN coalesce(ws.n_words, 0) > 0
       THEN ws.n_distinct::DOUBLE / ws.n_words ELSE 1.0 END AS distinct_word_ratio
FROM t LEFT JOIN ws USING (doc_id) LEFT JOIN gs USING (doc_id)
"""
    from pydi_spark.llmdata.textstats import PII_EMAIL, PII_IPV4, PII_PHONE

    out["text_pii"] = f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-123-4567 host 192.168.0.1 end' AS t
  FROM documents
),
e AS (SELECT doc_id, len(regexp_extract_all(t, '{PII_EMAIL}')) n_emails,
             regexp_replace(t, '{PII_EMAIL}', '<EMAIL>', 'g') t1 FROM d),
p AS (SELECT doc_id, n_emails, len(regexp_extract_all(t1, '{PII_PHONE}')) n_phones,
             regexp_replace(t1, '{PII_PHONE}', '<PHONE>', 'g') t2 FROM e),
i AS (SELECT doc_id, n_emails, n_phones, len(regexp_extract_all(t2, '{PII_IPV4}')) n_ips,
             regexp_replace(t2, '{PII_IPV4}', '<IP>', 'g') t3 FROM p)
SELECT doc_id, t3 AS redacted_text, n_emails, n_phones, n_ips FROM i
"""
    out["text_quality_filter"] = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}#'']+'), x -> x != '') AS tok
  FROM documents
),
per_row AS (
  SELECT doc_id,
    len(tok) AS n_tokens,
    len(tok) BETWEEN 30 AND 100000 AS ok_length,
    CASE WHEN len(tok) > 0
      THEN list_sum(list_transform(tok, x -> length(x)))::DOUBLE / len(tok)
      ELSE 0.0 END AS mtl,
    CASE WHEN len(tok) > 0
      THEN len(list_filter(tok, x -> list_contains(
        ['the','and','of','to','a','in','is','that','it','for'], x)))::DOUBLE / len(tok)
      ELSE 0.0 END AS sr,
    CASE WHEN length(text) > 0
      THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text)
      ELSE 0.0 END AS dr
  FROM t
),
words AS (SELECT doc_id, unnest(tok) AS w FROM t),
pw AS (SELECT doc_id, w, count(*) c FROM words GROUP BY doc_id, w),
ws AS (SELECT doc_id, max(c) max_c, sum(c) n_words FROM pw GROUP BY doc_id),
gs AS (SELECT doc_id, len(grams) n_grams, len(list_distinct(grams)) n_distinct_grams
       FROM (SELECT doc_id, [tok[i] || ' ' || tok[i+1] for i in range(1, len(tok))] AS grams FROM t)),
rep AS (
  SELECT t.doc_id,
    CASE WHEN coalesce(ws.n_words, 0) > 0
         THEN ws.max_c::DOUBLE / ws.n_words ELSE 0.0 END <= 0.15 AS ok_top_word,
    CASE WHEN coalesce(gs.n_grams, 0) > 0
         THEN 1.0 - gs.n_distinct_grams::DOUBLE / gs.n_grams ELSE 0.0 END <= 0.2 AS ok_dup_2gram
  FROM t LEFT JOIN ws USING (doc_id) LEFT JOIN gs USING (doc_id)
)
SELECT p.doc_id, p.n_tokens, CAST(p.ok_length AS INT) AS ok_length,
       CAST(p.mtl BETWEEN 3.0 AND 10.0 AS INT) AS ok_mean_token_len,
       CAST(p.sr >= 0.02 AS INT) AS ok_stopwords,
       CAST(p.dr <= 0.2 AS INT) AS ok_digits,
       CAST(r.ok_top_word AS INT) AS ok_top_word,
       CAST(r.ok_dup_2gram AS INT) AS ok_dup_2gram,
       CAST(p.ok_length AND p.mtl BETWEEN 3.0 AND 10.0 AND p.sr >= 0.02
         AND p.dr <= 0.2 AND r.ok_top_word AND r.ok_dup_2gram AS INT) AS keep
FROM per_row p JOIN rep r USING (doc_id)
"""
    out["text_vocabulary"] = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}#'']+'), x -> x != '') tok
  FROM documents
),
pd AS (SELECT doc_id, unnest(tok) AS token FROM t),
pc AS (SELECT doc_id, token, count(*) c FROM pd GROUP BY doc_id, token),
v AS (SELECT token, count(*) AS doc_freq, CAST(sum(c) AS BIGINT) AS n_occurrences
      FROM pc GROUP BY token)
SELECT md5(token) AS token_md5, doc_freq, n_occurrences FROM v
WHERE doc_freq >= 2
ORDER BY doc_freq DESC, token
LIMIT 100
"""
    out["text_tfidf"] = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}#'']+'), x -> x != '') tok
  FROM documents
),
pd AS (SELECT doc_id, unnest(tok) AS token FROM t),
pc AS (SELECT doc_id, token, count(*) c FROM pd GROUP BY doc_id, token),
dl AS (SELECT doc_id, sum(c) n_tok FROM pc GROUP BY doc_id),
v AS (SELECT token, count(*) AS doc_freq FROM pc GROUP BY token),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT pc.doc_id, pc.token,
         (pc.c::DOUBLE / dl.n_tok) * (n.n_docs / v.doc_freq) AS tf_idf
  FROM pc JOIN dl USING (doc_id) JOIN v USING (token), n
)
SELECT doc_id, token, tf_idf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tf_idf DESC, token) AS INT) AS rank
FROM scored
QUALIFY rank <= 3
"""
    _script_counts = "".join(
        f", length(text) - length(regexp_replace(text, '[{lo}-{hi}]', '', 'g')) AS n_{nm}\n"
        for nm, lo, hi in [
            ("latin", "A-Za-z", ""), ("cyrillic", "Ѐ", "ӿ"),
            ("greek", "Ͱ", "Ͽ"), ("cjk", "一", "鿿"),
            ("digit", "0-9", ""),
        ]
    ).replace("[A-Za-z-]", "[A-Za-z]").replace("[0-9-]", "[0-9]")
    out["text_script_detect"] = f"""
WITH synth AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id,
         CASE WHEN doc_id % 4 = 1 THEN translate(text, 'aeio', 'аеио')
              WHEN doc_id % 4 = 2 THEN translate(text, 'aeiost', 'αειοστ')
              WHEN doc_id % 4 = 3 THEN translate(text, 'ae', '亜恵')
              ELSE text END AS text
  FROM documents
),
counted AS (
  SELECT doc_id, coalesce(length(text), 0) AS n_chars
         {_script_counts}
  FROM synth
)
SELECT doc_id, CAST(n_chars AS BIGINT) n_chars,
       CAST(coalesce(n_latin, 0) AS BIGINT) n_latin,
       CAST(coalesce(n_cyrillic, 0) AS BIGINT) n_cyrillic,
       CAST(coalesce(n_greek, 0) AS BIGINT) n_greek,
       CAST(coalesce(n_cjk, 0) AS BIGINT) n_cjk,
       CAST(coalesce(n_digit, 0) AS BIGINT) n_digit,
       CASE WHEN n_latin >= greatest(n_cyrillic, n_greek, n_cjk) AND n_latin > 0 THEN 'latin'
            WHEN n_cyrillic >= greatest(n_greek, n_cjk) AND n_cyrillic > 0 THEN 'cyrillic'
            WHEN n_greek >= n_cjk AND n_greek > 0 THEN 'greek'
            WHEN n_cjk > 0 THEN 'cjk'
            ELSE 'other' END AS dominant_script
FROM counted
"""

    out["text_novelty"] = """

WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}#'']+'), x -> x != '') tok
  FROM documents
),
g AS (
  SELECT doc_id,
    CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')]
         ELSE list_distinct([array_to_string(tok[i:i+2], ' ') for i in range(1, len(tok) - 1)])
    END AS gset
  FROM toks
),
ref AS (SELECT DISTINCT unnest(gset) AS gram, 1 AS seen FROM g WHERE doc_id % 5 != 0),
b AS (SELECT CAST(doc_id AS VARCHAR) doc_id, unnest(gset) AS gram FROM g WHERE doc_id % 5 = 0),
agg AS (
  SELECT doc_id, count(*) AS n_ngrams,
         count(*) - CAST(sum(coalesce(seen, 0)) AS BIGINT) AS n_novel
  FROM b LEFT JOIN ref USING (gram)
  GROUP BY doc_id
)
SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST(n_novel * 1000000 // n_ngrams AS BIGINT) AS novelty_ppm
FROM agg
"""

    out["text_decontaminate"] = """
WITH toks AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}#'']+'), x -> x != '') tok
  FROM documents
),
g AS (
  SELECT doc_id,
    CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')]
         ELSE list_distinct([array_to_string(tok[i:i+2], ' ') for i in range(1, len(tok) - 1)])
    END AS gset
  FROM toks
),
ev AS (SELECT DISTINCT unnest(gset) AS gram, 1 AS hit FROM g WHERE doc_id % 47 = 0),
tr AS (SELECT CAST(doc_id AS VARCHAR) doc_id, unnest(gset) AS gram FROM g WHERE doc_id % 47 != 0),
agg AS (
  SELECT doc_id, count(*) AS n_ngrams,
         CAST(sum(coalesce(hit, 0)) AS BIGINT) AS n_overlap
  FROM tr LEFT JOIN ev USING (gram)
  GROUP BY doc_id
)
SELECT doc_id, n_ngrams, n_overlap,
       round(n_overlap::DOUBLE / n_ngrams, 6) AS contamination_ratio,
       CAST(n_overlap::DOUBLE / n_ngrams >= 0.05 AS INT) AS is_contaminated
FROM agg
"""
    out["embed_quantize"] = """
WITH t AS (
  SELECT CAST(vec_id AS VARCHAR) vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) v
  FROM embeddings
),
n AS (
  SELECT vec_id, v,
         sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(v, x -> x * x)), (a, b) -> a + b)) nrm
  FROM t
),
u AS (
  SELECT vec_id,
         CASE WHEN nrm > 0 THEN list_transform(v, x -> x / nrm) ELSE v END un
  FROM n
),
m AS (
  SELECT vec_id, un,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(un, x -> abs(x))), (a, b) -> greatest(a, b)) ma
  FROM u
)
SELECT vec_id,
       round(CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END, 6) AS scale,
       array_to_string(list_transform(un, x -> CAST(floor(x * (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END) + 0.5) AS INTEGER)), ',') AS qvec_csv
FROM m
"""
    out["embed_mean_pool"] = """
WITH e AS (
  SELECT label AS grp,
         unnest([{'dim': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
                 for i in range(1, len(embedding) + 1)]) AS s
  FROM embeddings
),
p AS (
  SELECT grp, s.dim AS dim,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(s.x))),
                     (a, b) -> a + b) AS st,
         count(*) AS n
  FROM e GROUP BY grp, dim
)
SELECT grp,
       array_to_string(
         list_transform(list_sort(list({'dim': dim, 'm': st / n})),
                        t -> CAST(CAST(floor(t.m * 1000000.0) AS BIGINT) AS VARCHAR)),
         ',') AS pooled_micro_csv,
       max(n) AS n_vectors
FROM p GROUP BY grp
"""
    out["text_lm_score"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id, unnest({toks_text}) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS c FROM t GROUP BY token),
tot AS (SELECT sum(c) AS N FROM counts),
per AS (
  SELECT doc_id, count(*) AS n_tokens, CAST(0 AS BIGINT) AS n_oov,
         CAST(sum(c) AS BIGINT) AS sum_count
  FROM t JOIN counts USING (token) GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_oov, sum_count,
       CAST(sum_count AS DOUBLE) / n_tokens / CAST(N AS DOUBLE) AS mean_token_freq
FROM per CROSS JOIN tot
"""
    out["sample_quality_weighted"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id, {toks_text} AS tok FROM documents
),
w AS (
  SELECT doc_id,
         CAST(floor(1000000.0 * greatest(0.0, least(1.0,
              len(list_distinct(tok))::DOUBLE / len(tok)))) AS BIGINT) AS weight_ppm,
         list_sum([(strpos('0123456789abcdef', substr(md5(doc_id), i, 1)) - 1)
                   * 16.0 ** (8 - i) for i in range(1, 9)])
         / 4294967296.0 AS frac
  FROM t
),
tot AS (SELECT count(*) AS n, sum(weight_ppm) AS sw FROM w)
SELECT doc_id, weight_ppm,
       round(least(1.0, 0.4 * CAST(n AS DOUBLE) * CAST(weight_ppm AS DOUBLE)
                        / CAST(sw AS DOUBLE)), 6) AS rate,
       CASE WHEN frac < least(1.0, 0.4 * CAST(n AS DOUBLE)
                              * CAST(weight_ppm AS DOUBLE) / CAST(sw AS DOUBLE))
            THEN 1 ELSE 0 END AS selected
FROM w CROSS JOIN tot
"""
    out["sample_stratified"] = """
WITH t AS (
  SELECT CAST(o_orderkey AS VARCHAR) rid, o_orderpriority,
         list_sum([(strpos('0123456789abcdef',
                    substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 1)
                   * 16.0 ** (8 - i) for i in range(1, 9)])
         / 4294967296.0 AS frac
  FROM orders
)
SELECT rid, o_orderpriority FROM t
WHERE frac < CASE WHEN o_orderpriority = '1-URGENT' THEN 0.5 ELSE 0.1 END
"""
    out["fusion_accuracy"] = """
WITH groups AS (
  SELECT o_custkey, min(CAST(o_orderkey AS VARCHAR)) AS group_id
  FROM orders GROUP BY o_custkey
),
fused AS (
  SELECT g.group_id, max(o.o_totalprice) AS price_max,
         min(o.o_orderdate) AS dt_early
  FROM orders o JOIN groups g ON o.o_custkey = g.o_custkey
  GROUP BY g.group_id
),
gold AS (
  SELECT g.group_id,
         CAST(floor(max(o.o_totalprice) / 10000) * 10000 AS DOUBLE) AS price_max,
         min(o.o_orderdate) AS dt_early
  FROM orders o JOIN groups g ON o.o_custkey = g.o_custkey
  GROUP BY g.group_id
),
j AS (
  SELECT f.price_max AS fp, g2.price_max AS gp,
         f.dt_early AS fd, g2.dt_early AS gd
  FROM fused f JOIN gold g2 USING (group_id)
),
per AS (
  SELECT
    count(*) FILTER (WHERE fp IS NOT NULL AND gp IS NOT NULL) AS n_p,
    count(*) FILTER (WHERE fp IS NOT NULL AND gp IS NOT NULL
      AND abs(fp - gp) / greatest(abs(fp), abs(gp), 1e-12) <= 0.01) AS c_p,
    count(*) FILTER (WHERE fd IS NOT NULL AND gd IS NOT NULL) AS n_d,
    count(*) FILTER (WHERE fd IS NOT NULL AND gd IS NOT NULL
      AND year(fd) = year(gd)) AS c_d
  FROM j
)
SELECT 'price_max' AS attribute, n_p AS n_compared, c_p AS n_correct,
       c_p::DOUBLE / n_p AS accuracy FROM per
UNION ALL
SELECT 'dt_early', n_d, c_d, c_d::DOUBLE / n_d FROM per
UNION ALL
SELECT '__overall__', n_p + n_d, c_p + c_d,
       (c_p + c_d)::DOUBLE / (n_p + n_d) FROM per
"""
    out["text_temperature_mix"] = """
WITH counts AS (
  SELECT source, count(*) AS n_source FROM documents GROUP BY source
),
w AS (
  SELECT source, n_source, sqrt(CAST(n_source AS DOUBLE)) AS w FROM counts
),
tot AS (
  SELECT sum(n_source) AS n_total, list_sum(list_sort(list(w))) AS sw FROM w
),
rates AS (
  SELECT source, n_source,
         least(1.0, (0.25 * CAST(n_total AS DOUBLE)) * w / sw
                    / CAST(n_source AS DOUBLE)) AS rate
  FROM w, tot
),
d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         list_sum([(strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                   * 16.0 ** (8 - i) for i in range(1, 9)])
         / 4294967296.0 AS frac
  FROM documents
)
SELECT d.doc_id, d.source, r.n_source, r.rate,
       CAST(CASE WHEN d.frac < r.rate THEN 1 ELSE 0 END AS INT) AS selected
FROM d JOIN rates r ON d.source = r.source
"""
    out["tpch_q4"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
    out["tpch_q6"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""
    out["tpch_q10"] = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""
    out["tpch_q14"] = """
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""
    out["tpch_q19"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""
    out["tpch_q13"] = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderpriority <> '1-URGENT') o
    ON c_custkey = o.o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""
    out["tpch_q22"] = """
WITH cust AS (
  SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
  FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
),
avg_bal AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
       / CAST(count(*) AS DOUBLE) AS avg_bal
  FROM cust WHERE c_acctbal > 0
)
SELECT cntrycode, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM cust, avg_bal
WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
ORDER BY cntrycode
"""
    out["tpch_q7"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name <> n2.n_name
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""
    out["tpch_q8"] = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
     / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""
    out["text_chunk"] = """
WITH off AS (
  SELECT doc_id, text,
         CAST(unnest(range(0, greatest(length(text), 1), 96)) AS INT) AS chunk_start
  FROM documents
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY chunk_start) - 1 AS INT) AS chunk_index,
       chunk_start,
       substring(text, chunk_start + 1, 120) AS chunk_text,
       count(*) OVER (PARTITION BY doc_id) AS n_chunks
FROM off
"""
    out["text_budget_select"] = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
         list_sum([(strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                   * 16.0 ** (8 - i) for i in range(1, 9)])
         / 4294967296.0 AS frac
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY frac, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens,
       CAST(cum_tokens <= 800 AS INT) AS selected FROM c
"""
    # constants are written as the same source literals Spark folds
    # ((1.2 + 1.0), (1.0 - 0.75)) so each IEEE op sees identical operands
    out["text_search_bm25"] = """
WITH tok AS (
  SELECT doc_id, unnest({TOK}) AS token FROM documents
),
pd AS (
  SELECT doc_id, count(*) AS dl,
         count(*) FILTER (WHERE token = 'stream') AS tf_0,
         count(*) FILTER (WHERE token = 'hash') AS tf_1,
         count(*) FILTER (WHERE token = 'customer') AS tf_2
  FROM tok GROUP BY doc_id
),
st AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         count(*) FILTER (WHERE tf_0 > 0) AS df_0,
         count(*) FILTER (WHERE tf_1 > 0) AS df_1,
         count(*) FILTER (WHERE tf_2 > 0) AS df_2
  FROM pd
),
sc AS (
  SELECT doc_id,
      ((n_docs::DOUBLE - df_0::DOUBLE + 0.5) / (df_0::DOUBLE + 0.5))
        * (tf_0::DOUBLE * (1.2 + 1.0) / (tf_0::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    + ((n_docs::DOUBLE - df_1::DOUBLE + 0.5) / (df_1::DOUBLE + 0.5))
        * (tf_1::DOUBLE * (1.2 + 1.0) / (tf_1::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    + ((n_docs::DOUBLE - df_2::DOUBLE + 0.5) / (df_2::DOUBLE + 0.5))
        * (tf_2::DOUBLE * (1.2 + 1.0) / (tf_2::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    AS score
  FROM pd, st
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM sc WHERE score > 0
QUALIFY rank <= 25
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    # hybrid RRF = bm25 top-50 (same CTEs as text_search_bm25) + cosine
    # top-50 vs embedding 0, fused by 1/(60+rank) fixed-order sums —
    # list_cosine_similarity == the Spark float64 fold (NOTES.md)
    out["text_gram_duplication"] = """
WITH t AS (
  SELECT source, {TOKS} AS tok FROM documents
),
g AS (
  SELECT source, unnest([array_to_string(tok[i:i+1], ' ')
                         for i in range(1, len(tok))]) AS gram
  FROM t WHERE len(tok) >= 2
),
gh AS (
  SELECT source, ((strpos('0123456789abcdef', substr(gh15,1,1))-1)*72057594037927936 + (strpos('0123456789abcdef', substr(gh15,2,1))-1)*4503599627370496 + (strpos('0123456789abcdef', substr(gh15,3,1))-1)*281474976710656 + (strpos('0123456789abcdef', substr(gh15,4,1))-1)*17592186044416 + (strpos('0123456789abcdef', substr(gh15,5,1))-1)*1099511627776 + (strpos('0123456789abcdef', substr(gh15,6,1))-1)*68719476736 + (strpos('0123456789abcdef', substr(gh15,7,1))-1)*4294967296 + (strpos('0123456789abcdef', substr(gh15,8,1))-1)*268435456 + (strpos('0123456789abcdef', substr(gh15,9,1))-1)*16777216 + (strpos('0123456789abcdef', substr(gh15,10,1))-1)*1048576 + (strpos('0123456789abcdef', substr(gh15,11,1))-1)*65536 + (strpos('0123456789abcdef', substr(gh15,12,1))-1)*4096 + (strpos('0123456789abcdef', substr(gh15,13,1))-1)*256 + (strpos('0123456789abcdef', substr(gh15,14,1))-1)*16 + (strpos('0123456789abcdef', substr(gh15,15,1))-1)*1) AS h
  FROM (SELECT source, substr(md5(gram), 1, 15) AS gh15 FROM g)
)
SELECT source AS grp, count(*) AS total_grams,
       count(DISTINCT h) AS distinct_grams,
       (count(*) - count(DISTINCT h)) * CAST(1000000 AS BIGINT) // count(*)
         AS dup_mass_ppm
FROM gh GROUP BY source
""".replace("{TOKS}", _TOK_SQL.format(col="text"))
    out["text_blocklist"] = """
SELECT CAST(doc_id AS VARCHAR) AS id,
       CAST(len(list_intersect(list_distinct({TOK}),
                               ['error', 'skew', 'slow'])) AS INT) AS n_hits,
       CAST(len(list_intersect(list_distinct({TOK}),
                               ['error', 'skew', 'slow'])) = 0 AS INT) AS keep
FROM documents
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    out["text_bpe_segment"] = _bpe_oracle_sql()
    _fert_expr = "'  ' || regexp_replace(word, '(.)', '\\1  ', 'g')"
    for _a, _b in _BPE_MERGES:
        _fert_expr = f"replace({_fert_expr}, ' {_a}  {_b} ', ' {_a}{_b} ')"
    out["text_bpe_fertility"] = f"""
WITH tok AS (
  SELECT source AS grp, unnest({{TOK}}) AS word FROM documents
),
wf AS (
  SELECT grp, word, count(*) AS freq FROM tok
  WHERE regexp_matches(word, '^[a-z]+$') GROUP BY grp, word
),
seg AS (
  SELECT grp, freq,
         CAST(len(string_split(trim({_fert_expr}), '  ')) AS BIGINT)
           AS n_pieces
  FROM wf
)
SELECT grp, CAST(sum(freq) AS BIGINT) AS total_words,
       CAST(sum(freq * n_pieces) AS BIGINT) AS total_pieces,
       CAST(sum(freq * n_pieces) AS BIGINT) * CAST(1000000 AS BIGINT)
         // CAST(sum(freq) AS BIGINT) AS fertility_ppm
FROM seg GROUP BY grp
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    out["dedup_incremental"] = _incremental_minhash_sql(8, 4, 0.7)
    out["tpch_grouping_sets"] = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""
    out["events_cohort_value"] = """
WITH ev AS (SELECT user_id, event_type, ts, value FROM events),
su AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
       FROM ev WHERE event_type = 'signup' GROUP BY user_id),
j AS (
  SELECT e.user_id, su.cw,
         CAST(datediff('day', su.cw, date_trunc('week', e.ts)) // 7 AS INT)
           AS wk_off,
         CAST(floor(coalesce(e.value, 0) * 1000000) AS BIGINT) AS vm
  FROM ev e JOIN su ON su.user_id = e.user_id
  WHERE e.ts >= su.cw
)
SELECT CAST(CAST(cw AS DATE) AS VARCHAR) AS cohort_week, wk_off,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(vm) AS BIGINT) AS value_micro
FROM j GROUP BY 1, 2
"""

    out["profile_drift"] = """
WITH src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 31 = 0 THEN NULL
              WHEN o_orderkey % 37 = 0 THEN 'LEGACY'
              ELSE o_orderpriority END AS pri
  FROM orders
),
mid AS (SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY o_orderkey) AS m
        FROM src),
a AS (SELECT CAST(pri AS VARCHAR) AS value, count(*) AS n_a
      FROM src, mid WHERE o_orderkey <= m GROUP BY 1),
b AS (SELECT CAST(pri AS VARCHAR) AS value, count(*) AS n_b
      FROM src, mid WHERE o_orderkey > m GROUP BY 1),
ta AS (SELECT count(*) AS t FROM src, mid WHERE o_orderkey <= m),
tb AS (SELECT count(*) AS t FROM src, mid WHERE o_orderkey > m),
m0 AS (
  SELECT coalesce(a.value, b.value) AS value,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM a FULL OUTER JOIN b
    ON a.value IS NOT DISTINCT FROM b.value
)
SELECT value, n_a, n_b,
       CAST(CASE WHEN ta.t = 0 THEN 0 ELSE n_a * 1000000 // ta.t END
            AS BIGINT) AS share_a_ppm,
       CAST(CASE WHEN tb.t = 0 THEN 0 ELSE n_b * 1000000 // tb.t END
            AS BIGINT) AS share_b_ppm,
       CAST((CASE WHEN tb.t = 0 THEN 0 ELSE n_b * 1000000 // tb.t END)
          - (CASE WHEN ta.t = 0 THEN 0 ELSE n_a * 1000000 // ta.t END)
            AS BIGINT) AS delta_ppm
FROM m0, ta, tb
"""

    out["events_retention"] = """

WITH ev AS (SELECT user_id, event_type, ts FROM events),
su AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
       FROM ev WHERE event_type = 'signup' GROUP BY user_id),
act AS (
  SELECT DISTINCT e.user_id, su.cw,
         CAST(datediff('day', su.cw, date_trunc('week', e.ts)) // 7 AS INT)
           AS wk_off
  FROM ev e JOIN su ON su.user_id = e.user_id
  WHERE e.ts >= su.cw
)
SELECT CAST(CAST(cw AS DATE) AS VARCHAR) AS cohort_week, wk_off,
       count(*) AS n_users
FROM act GROUP BY 1, 2
"""
    out["events_sessionize_batch"] = """
WITH ev AS (SELECT user_id, event_id, ts FROM events),
flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
FROM sess GROUP BY user_id, session_id
"""
    out["events_session_report"] = """
WITH ev AS (SELECT user_id, event_id, event_type, ts FROM events),
flagged AS (
  SELECT user_id, event_id, event_type, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, event_type, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM flagged
),
typed AS (
  SELECT user_id, session_id, ts,
         first_value(event_type) OVER ws AS entry_type,
         last_value(event_type) OVER
           (PARTITION BY user_id, session_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS exit_type
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT user_id, session_id,
       count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
       min(entry_type) AS entry_type,
       min(exit_type) AS exit_type,
       CAST(CASE WHEN count(*) = 1 THEN 1 ELSE 0 END AS INT) AS is_bounce
FROM typed GROUP BY user_id, session_id
"""

    out["events_json"] = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type
"""
    out["events_funnel"] = """
WITH ev AS (SELECT user_id, event_type, ts FROM events),
v AS (SELECT user_id, min(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click
      FROM ev e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
        AND e.ts <= v.t_view + INTERVAL 24 HOUR GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM ev e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        AND e.ts <= c.t_click + INTERVAL 24 HOUR GROUP BY e.user_id),
staged AS (
  SELECT CASE WHEN p.t_purchase IS NOT NULL THEN 3
              WHEN c.t_click IS NOT NULL THEN 2
              ELSE 1 END AS stage
  FROM v LEFT JOIN c ON c.user_id = v.user_id
         LEFT JOIN p ON p.user_id = v.user_id
)
SELECT stage, count(*) AS n_users FROM staged GROUP BY stage
"""
    vocab_list = ", ".join(f"'{w}'" for w in _COVERAGE_VOCAB)
    out["text_vocab_coverage"] = f"""
WITH tok AS (
  SELECT source, unnest({{TOK}}) AS tok FROM documents
)
SELECT source AS grp, count(*) AS n_tokens,
       count(*) FILTER (WHERE tok IN ({vocab_list})) AS n_in_vocab,
       count(DISTINCT CASE WHEN tok NOT IN ({vocab_list}) THEN tok END)
         AS n_oov_types,
       (count(*) FILTER (WHERE tok IN ({vocab_list})))
         * CAST(1000000 AS BIGINT) // count(*) AS coverage_ppm
FROM tok GROUP BY source
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    out["sample_split_leakage_safe"] = """
WITH RECURSIVE pairs AS (SELECT id1, id2 FROM ({SIM}) q),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs
        UNION ALL SELECT id2, id1 FROM pairs),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) n
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
asg AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS id,
         coalesce(c.cluster_id, CAST(d.doc_id AS VARCHAR)) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = CAST(d.doc_id AS VARCHAR)
),
fr AS (SELECT id, cluster_id, list_sum([(strpos('0123456789abcdef', substr(md5(cluster_id), i, 1)) - 1) * 16.0 ** (8 - i) for i in range(1, 9)]) / 4294967296.0 AS frac FROM asg)
SELECT id, cluster_id,
       CASE WHEN frac < 0.8 THEN 'train'
            WHEN frac < 0.9 THEN 'valid'
            ELSE 'test' END AS split
FROM fr
""".replace("{SIM}", _simhash_sql(3))
    out["sample_contrastive"] = _contrastive_oracle_sql()
    out["graph_pagerank"] = _pagerank_oracle_sql(5, 850000)
    out["graph_ppr"] = _ppr_oracle_sql(5, 850000)
    out["graph_pagerank_weighted"] = _wpr_oracle_sql(5, 850000)

    # numeric drift: edges = exact discrete quantiles of the BASELINE
    # (rank arithmetic identical to profile_quantiles), bin = #edges
    # strictly below, shares exact integer ppm off derived totals
    out["profile_numeric_drift"] = """
WITH av AS (
  SELECT l_quantity AS v FROM lineitem
  WHERE l_shipdate < TIMESTAMP '1998-06-01' AND l_quantity IS NOT NULL
),
bv AS (
  SELECT l_quantity AS v FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-06-01' AND l_quantity <= 30
    AND l_quantity IS NOT NULL
),
cum AS (
  SELECT val,
         SUM(c) OVER (ORDER BY val ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS n
  FROM (SELECT v AS val, COUNT(*) AS c FROM av GROUP BY 1)
),
edges AS MATERIALIZED (
  SELECT ip.i,
         MIN(CASE WHEN c.cum >= (ip.p * c.n + 999999) // 1000000
             THEN c.val END) AS e
  FROM cum c CROSS JOIN (
    SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS i,
           unnest([125000, 250000, 375000, 500000,
                   625000, 750000, 875000]) AS p) ip
  GROUP BY ip.i
),
acnt AS (
  SELECT bin, COUNT(*) AS n_a FROM (
    SELECT (SELECT COUNT(*) FROM edges e WHERE e.e < a.v) AS bin FROM av a
  ) GROUP BY bin
),
bcnt AS (
  SELECT bin, COUNT(*) AS n_b FROM (
    SELECT (SELECT COUNT(*) FROM edges e WHERE e.e < b.v) AS bin FROM bv b
  ) GROUP BY bin
),
tots AS (SELECT (SELECT COUNT(*) FROM av) AS ta,
                (SELECT COUNT(*) FROM bv) AS tb),
grid AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS bin)
SELECT g.bin, lo.e AS lo, hi.e AS hi,
       CAST(COALESCE(a.n_a, 0) AS BIGINT) AS n_a,
       CAST(COALESCE(b.n_b, 0) AS BIGINT) AS n_b,
       CAST(CASE WHEN t.ta = 0 THEN 0
            ELSE COALESCE(a.n_a, 0) * 1000000 // t.ta END AS BIGINT)
         AS share_a_ppm,
       CAST(CASE WHEN t.tb = 0 THEN 0
            ELSE COALESCE(b.n_b, 0) * 1000000 // t.tb END AS BIGINT)
         AS share_b_ppm,
       CAST((CASE WHEN t.tb = 0 THEN 0
             ELSE COALESCE(b.n_b, 0) * 1000000 // t.tb END)
          - (CASE WHEN t.ta = 0 THEN 0
             ELSE COALESCE(a.n_a, 0) * 1000000 // t.ta END) AS BIGINT)
         AS delta_ppm
FROM grid g CROSS JOIN tots t
LEFT JOIN acnt a ON a.bin = g.bin
LEFT JOIN bcnt b ON b.bin = g.bin
LEFT JOIN edges lo ON lo.i = g.bin
LEFT JOIN edges hi ON hi.i = g.bin + 1
"""
    out["io_cdc_upsert"] = """
WITH base AS (
  SELECT CAST(c_custkey AS VARCHAR) AS rid, c_name AS name,
         c_acctbal AS bal, CAST(-1 AS BIGINT) AS v, 'B' AS op
  FROM customer
),
ch AS (
  SELECT CAST(c_custkey AS VARCHAR), c_name, c_acctbal + 100.0,
         CAST(c_custkey AS BIGINT), 'U'
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT CAST(c_custkey AS VARCHAR), c_name, c_acctbal,
         CAST(c_custkey AS BIGINT), 'D'
  FROM customer WHERE c_custkey % 7 = 1
  UNION ALL
  SELECT CAST(c_custkey + 1000000 AS VARCHAR), 'Customer#new', c_acctbal,
         CAST(c_custkey AS BIGINT), 'I'
  FROM customer WHERE c_custkey % 7 = 2
),
u AS (SELECT * FROM base UNION ALL SELECT * FROM ch),
r AS (
  SELECT rid, name, bal, op,
         row_number() OVER (PARTITION BY rid ORDER BY v DESC, op ASC) AS rk
  FROM u
)
SELECT rid, name, bal FROM r WHERE rk = 1 AND op != 'D'
"""
    out["dedup_agreement"] = f"""
WITH mh AS (SELECT id1, id2 FROM ({_minhash_sql(8, 4, 0.7)}) t),
sh AS (SELECT id1, id2 FROM ({_simhash_sql(3)}) t),
ng AS (SELECT id1, id2 FROM ({_ngram_jaccard_sql(3, 0.5)}) t),
allp AS (
  SELECT DISTINCT id1, id2 FROM (
    SELECT id1, id2 FROM mh
    UNION ALL SELECT id1, id2 FROM sh
    UNION ALL SELECT id1, id2 FROM ng) u
),
flags AS (
  SELECT p.id1, p.id2,
         CASE WHEN m.id1 IS NOT NULL THEN 1 ELSE 0 END AS minhash,
         CASE WHEN s.id1 IS NOT NULL THEN 1 ELSE 0 END AS simhash,
         CASE WHEN g.id1 IS NOT NULL THEN 1 ELSE 0 END AS ngram
  FROM allp p
  LEFT JOIN mh m ON m.id1 = p.id1 AND m.id2 = p.id2
  LEFT JOIN sh s ON s.id1 = p.id1 AND s.id2 = p.id2
  LEFT JOIN ng g ON g.id1 = p.id1 AND g.id2 = p.id2
)
SELECT minhash, simhash, ngram, count(*) AS n_pairs
FROM flags GROUP BY 1, 2, 3
"""
    out["text_rerank"] = """
WITH tok AS (
  SELECT doc_id, unnest({TOK}) AS token FROM documents
),
pd AS (
  SELECT doc_id, count(*) AS dl,
         count(*) FILTER (WHERE token = 'stream') AS tf_0,
         count(*) FILTER (WHERE token = 'hash') AS tf_1,
         count(*) FILTER (WHERE token = 'customer') AS tf_2
  FROM tok GROUP BY doc_id
),
st AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         count(*) FILTER (WHERE tf_0 > 0) AS df_0,
         count(*) FILTER (WHERE tf_1 > 0) AS df_1,
         count(*) FILTER (WHERE tf_2 > 0) AS df_2
  FROM pd
),
sc AS (
  SELECT doc_id,
      ((n_docs::DOUBLE - df_0::DOUBLE + 0.5) / (df_0::DOUBLE + 0.5))
        * (tf_0::DOUBLE * (1.2 + 1.0) / (tf_0::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    + ((n_docs::DOUBLE - df_1::DOUBLE + 0.5) / (df_1::DOUBLE + 0.5))
        * (tf_1::DOUBLE * (1.2 + 1.0) / (tf_1::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    + ((n_docs::DOUBLE - df_2::DOUBLE + 0.5) / (df_2::DOUBLE + 0.5))
        * (tf_2::DOUBLE * (1.2 + 1.0) / (tf_2::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    AS score
  FROM pd, st
),
lex AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
  FROM sc WHERE score > 0 QUALIFY rnk <= 50
),
cand AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(string_split_regex(lower(d.text), '[^a-z0-9#'']+'),
                     x -> x != '') AS atoks
  FROM documents d JOIN lex ON lex.id = d.doc_id
),
scored AS (
  SELECT doc_id,
         CAST((CASE WHEN list_contains(atoks, 'stream') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(atoks, 'hash') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(atoks, 'customer') THEN 1 ELSE 0 END)
           AS DOUBLE) AS score
  FROM cand
)
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
FROM scored QUALIFY rank <= 10
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    out["io_orc_roundtrip"] = """
SELECT c_mktsegment, count(*) AS n,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM customer GROUP BY c_mktsegment
"""
    out["sample_exact_k"] = """
SELECT rid, o_orderpriority, CAST(rn AS INT) AS sample_rank FROM (
  SELECT CAST(o_orderkey AS VARCHAR) AS rid, o_orderpriority,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 12),
                    CAST(o_orderkey AS VARCHAR)) AS rn
  FROM orders) t
WHERE rn <= 50
"""
    out["profile_key_skew"] = """
WITH c AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS key, count(*) AS cnt
  FROM orders GROUP BY 1
),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
SELECT key, cnt,
       cnt * CAST(1000000 AS BIGINT) // total AS share_ppm,
       CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INT) AS rank
FROM c, t
QUALIFY rank <= 20
"""
    out["text_search_hybrid"] = """
WITH tok AS (
  SELECT doc_id, unnest({TOK}) AS token FROM documents
),
pd AS (
  SELECT doc_id, count(*) AS dl,
         count(*) FILTER (WHERE token = 'stream') AS tf_0,
         count(*) FILTER (WHERE token = 'hash') AS tf_1,
         count(*) FILTER (WHERE token = 'customer') AS tf_2
  FROM tok GROUP BY doc_id
),
st AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         count(*) FILTER (WHERE tf_0 > 0) AS df_0,
         count(*) FILTER (WHERE tf_1 > 0) AS df_1,
         count(*) FILTER (WHERE tf_2 > 0) AS df_2
  FROM pd
),
sc AS (
  SELECT doc_id,
      ((n_docs::DOUBLE - df_0::DOUBLE + 0.5) / (df_0::DOUBLE + 0.5))
        * (tf_0::DOUBLE * (1.2 + 1.0) / (tf_0::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    + ((n_docs::DOUBLE - df_1::DOUBLE + 0.5) / (df_1::DOUBLE + 0.5))
        * (tf_1::DOUBLE * (1.2 + 1.0) / (tf_1::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    + ((n_docs::DOUBLE - df_2::DOUBLE + 0.5) / (df_2::DOUBLE + 0.5))
        * (tf_2::DOUBLE * (1.2 + 1.0) / (tf_2::DOUBLE + 1.2 * ((1.0 - 0.75) + 0.75 * (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE)))))
    AS score
  FROM pd, st
),
lex AS (
  SELECT doc_id AS id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
  FROM sc WHERE score > 0 QUALIFY rank <= 50
),
qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
sem AS (
  SELECT vec_id AS id,
         CAST(row_number() OVER (
           ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT v FROM qv)) DESC,
                    vec_id) AS INT) AS rank
  FROM embeddings QUALIFY rank <= 50
),
fused AS (
  SELECT COALESCE(l.id, s.id) AS doc_id,
         CAST(COALESCE(l.rank, 0) AS INT) AS lex_rank,
         CAST(COALESCE(s.rank, 0) AS INT) AS sem_rank,
         (CASE WHEN l.rank IS NOT NULL THEN 1.0 / (60.0 + CAST(l.rank AS DOUBLE)) ELSE 0.0 END)
       + (CASE WHEN s.rank IS NOT NULL THEN 1.0 / (60.0 + CAST(s.rank AS DOUBLE)) ELSE 0.0 END)
         AS rrf_score
  FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
FROM fused QUALIFY rank <= 20
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    out["text_inverted_index"] = """
WITH tok AS (
  SELECT doc_id, unnest({TOK}) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token)
SELECT md5(token) AS token_md5, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS total_tf,
       md5(array_to_string(
         list_slice(list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
                         ORDER BY doc_id), 1, 20),
         ',')) AS postings_md5
FROM tf GROUP BY token
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    # greedy packing replay: one recursive step advances EVERY source by
    # one document, so depth = max docs per source, not total docs
    out["text_pack"] = """
WITH RECURSIVE t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
),
walk AS (
  SELECT doc_id, source, n_tokens, rn,
         CAST(0 AS INT) AS bin_id, n_tokens AS bin_fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.doc_id, t.source, t.n_tokens, t.rn,
         CASE WHEN w.bin_fill + t.n_tokens > 256
              THEN CAST(w.bin_id + 1 AS INT) ELSE w.bin_id END,
         CASE WHEN w.bin_fill + t.n_tokens > 256
              THEN t.n_tokens ELSE w.bin_fill + t.n_tokens END
  FROM walk w JOIN t ON t.source = w.source AND t.rn = w.rn + 1
)
SELECT doc_id, source, n_tokens, bin_id, bin_fill FROM walk
"""
    out["text_span_remove"] = """
WITH t AS (
  SELECT doc_id, {TOK} AS tok FROM documents
),
sp AS (
  SELECT doc_id,
         unnest([{'pos': i - 1, 'h': md5(array_to_string(tok[i:i+7], ' '))}
                 for i in range(1, len(tok) - 6)]) AS s
  FROM t WHERE len(tok) >= 8
),
spans AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM sp),
rep AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM spans JOIN rep USING (h)
),
cov AS (
  SELECT doc_id, p
  FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS p
        FROM ranked WHERE rk > 1)
  GROUP BY doc_id, p
),
tokpos AS (
  SELECT doc_id, u.pos AS pos, u.tok AS tok
  FROM (SELECT doc_id,
               unnest([{'pos': i - 1, 'tok': tok[i]}
                       for i in range(1, len(tok) + 1)]) AS u
        FROM t)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok
  FROM tokpos tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.p
  WHERE cov.p IS NULL
),
reb AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_total FROM t)
SELECT d.doc_id,
       md5(coalesce(reb.clean_text, '')) AS clean_md5,
       coalesce(tot.n_total, 0) AS n_tokens_total,
       CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_tokens_kept
FROM documents d LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    out["text_span_dedup"] = """
WITH t AS (
  SELECT doc_id, {TOK} AS tok FROM documents
),
sp AS (
  SELECT doc_id,
         unnest([{'pos': i - 1, 'h': md5(array_to_string(tok[i:i+7], ' '))}
                 for i in range(1, len(tok) - 6)]) AS s
  FROM t WHERE len(tok) >= 8
),
spans AS (SELECT doc_id, s.pos AS pos, s.h AS h FROM sp),
rep AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
reps AS (SELECT doc_id, pos FROM spans JOIN rep USING (h)),
cov AS (
  SELECT doc_id, count(DISTINCT p) AS n_covered_tokens
  FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS p FROM reps)
  GROUP BY doc_id
),
rc AS (SELECT doc_id, count(*) AS n_repeated_spans FROM reps GROUP BY doc_id),
base AS (
  SELECT doc_id, CAST(len(tok) AS BIGINT) AS n_tokens,
         CAST(greatest(len(tok) - 7, 0) AS BIGINT) AS n_spans
  FROM t
)
SELECT b.doc_id, b.n_tokens, b.n_spans,
       coalesce(rc.n_repeated_spans, 0) AS n_repeated_spans,
       coalesce(cov.n_covered_tokens, 0) AS n_covered_tokens,
       CASE WHEN b.n_tokens > 0
            THEN coalesce(cov.n_covered_tokens, 0)::DOUBLE / b.n_tokens::DOUBLE
            ELSE 0.0 END AS coverage_ratio
FROM base b LEFT JOIN rc USING (doc_id) LEFT JOIN cov USING (doc_id)
""".replace("{TOK}", _TOK_SQL.format(col="text"))
    # hasher canaries (see q_canary_hash_safe / q_canary_hash_risky):
    # plain standard-SQL string literals, so the backslash in
    # c_escaped_nl is LITERAL (\ then n), matching Spark's F.lit.
    out["canary_hash_safe"] = r"""
SELECT CAST(k AS INT) AS k,
       9007199254740992 + k AS c_bigint,
       CAST(k AS DOUBLE) * 0.25 + 0.5 AS c_double,
       'tok_' || CAST(k AS VARCHAR) AS c_ascii,
       'café_π_' || CAST(k AS VARCHAR) AS c_unicode,
       CAST(CASE WHEN k = 1 THEN NULL ELSE k END AS INT) AS c_null_int,
       CASE WHEN k = 1 THEN NULL ELSE 'x' END AS c_null_str,
       CAST(k AS VARCHAR) || ',' || CAST(k + 1 AS VARCHAR) AS c_joined_array,
       CAST(k % 2 = 0 AS INT) AS c_bool_int,
       'line1\nline2_' || CAST(k AS VARCHAR) AS c_escaped_nl,
       md5('it''s #' || CAST(k AS VARCHAR)) AS c_token_md5
FROM range(3) t(k)
"""
    out["io_pickle_roundtrip"] = """
SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
       CAST(n_regionkey AS INT) AS n_regionkey
FROM nation
"""
    # cascade stages replay the blocklist / exact / simhash-CC SQL;
    # restricting the full simhash pair set to stage-2 survivors is
    # exact (fingerprints are per-document). id_digest = bit_xor of
    # the h60 id hashes — BIGINT on both engines (never a sum).
    out["text_corpus_cleanup"] = """
WITH RECURSIVE s0 AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
),
hh AS (
  SELECT id, ((strpos('0123456789abcdef', substr(md5h,1,1))-1)*72057594037927936 + (strpos('0123456789abcdef', substr(md5h,2,1))-1)*4503599627370496 + (strpos('0123456789abcdef', substr(md5h,3,1))-1)*281474976710656 + (strpos('0123456789abcdef', substr(md5h,4,1))-1)*17592186044416 + (strpos('0123456789abcdef', substr(md5h,5,1))-1)*1099511627776 + (strpos('0123456789abcdef', substr(md5h,6,1))-1)*68719476736 + (strpos('0123456789abcdef', substr(md5h,7,1))-1)*4294967296 + (strpos('0123456789abcdef', substr(md5h,8,1))-1)*268435456 + (strpos('0123456789abcdef', substr(md5h,9,1))-1)*16777216 + (strpos('0123456789abcdef', substr(md5h,10,1))-1)*1048576 + (strpos('0123456789abcdef', substr(md5h,11,1))-1)*65536 + (strpos('0123456789abcdef', substr(md5h,12,1))-1)*4096 + (strpos('0123456789abcdef', substr(md5h,13,1))-1)*256 + (strpos('0123456789abcdef', substr(md5h,14,1))-1)*16 + (strpos('0123456789abcdef', substr(md5h,15,1))-1)*1) AS h60
  FROM (SELECT id, substr(md5(id), 1, 15) AS md5h FROM s0)
),
s1 AS (
  SELECT id, text FROM s0
  WHERE len(list_intersect(list_distinct({TOK}),
                           ['error', 'skew', 'slow'])) = 0
),
s2 AS (
  SELECT id, text FROM (
    SELECT id, text, min(id) OVER (PARTITION BY md5(text)) AS m FROM s1
  ) WHERE id = m
),
pr AS (
  SELECT p.id1, p.id2 FROM ({SIMHASH}) p
  JOIN s2 a ON a.id = p.id1 JOIN s2 b ON b.id = p.id2
),
sym AS (SELECT id1 AS a, id2 AS b FROM pr
        UNION ALL SELECT id2, id1 FROM pr),
walk(id, lbl) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM sym) n
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id),
s3 AS (
  SELECT s2.id, s2.text FROM s2
  LEFT JOIN comp c ON c.id = s2.id
  WHERE c.id IS NULL OR c.cluster_id = s2.id
)
SELECT 0 AS stage, 'input' AS stage_name, count(*) AS n_docs,
       bit_xor(h60) AS id_digest FROM s0 JOIN hh USING (id)
UNION ALL
SELECT 1, 'blocklist', count(*), bit_xor(h60) FROM s1 JOIN hh USING (id)
UNION ALL
SELECT 2, 'exact_dedup', count(*), bit_xor(h60) FROM s2 JOIN hh USING (id)
UNION ALL
SELECT 3, 'near_dedup', count(*), bit_xor(h60) FROM s3 JOIN hh USING (id)
""".replace("{TOK}", _TOK_SQL.format(col="text")).replace(
        "{SIMHASH}", _simhash_sql(3))
    # empirical S-curve probe: md5-ordered 100-doc sample, exhaustive
    # pair ground truth, band-overlap candidacy; integer recall_ppm
    out["dedup_lsh_recall"] = """
WITH samp AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
  ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)
  LIMIT 100
),
tok_rows AS (
  SELECT id, unnest(list_distinct({TOK})) AS tok FROM samp
),
th_rows AS (
  SELECT id, tok, ((strpos('0123456789abcdef', substr(md5h,1,1))-1)*72057594037927936 + (strpos('0123456789abcdef', substr(md5h,2,1))-1)*4503599627370496 + (strpos('0123456789abcdef', substr(md5h,3,1))-1)*281474976710656 + (strpos('0123456789abcdef', substr(md5h,4,1))-1)*17592186044416 + (strpos('0123456789abcdef', substr(md5h,5,1))-1)*1099511627776 + (strpos('0123456789abcdef', substr(md5h,6,1))-1)*68719476736 + (strpos('0123456789abcdef', substr(md5h,7,1))-1)*4294967296 + (strpos('0123456789abcdef', substr(md5h,8,1))-1)*268435456 + (strpos('0123456789abcdef', substr(md5h,9,1))-1)*16777216 + (strpos('0123456789abcdef', substr(md5h,10,1))-1)*1048576 + (strpos('0123456789abcdef', substr(md5h,11,1))-1)*65536 + (strpos('0123456789abcdef', substr(md5h,12,1))-1)*4096 + (strpos('0123456789abcdef', substr(md5h,13,1))-1)*256 + (strpos('0123456789abcdef', substr(md5h,14,1))-1)*16 + (strpos('0123456789abcdef', substr(md5h,15,1))-1)*1) AS th
  FROM (SELECT id, tok, md5(tok) AS md5h FROM tok_rows)
),
sigs AS (
  SELECT id, {SIGS}, list_distinct(list(th)) AS tok_set
  FROM th_rows GROUP BY id
),
bands AS (
  SELECT id, tok_set, [b0, b1, b2, b3] AS bk
  FROM (SELECT id, tok_set, {BANDS} FROM sigs)
),
pairs AS (
  SELECT CAST(floor((CASE
           WHEN len(a.tok_set) + len(b.tok_set)
                - len(list_intersect(a.tok_set, b.tok_set)) > 0
           THEN len(list_intersect(a.tok_set, b.tok_set))::DOUBLE
                / (len(a.tok_set)::DOUBLE + len(b.tok_set)::DOUBLE
                   - len(list_intersect(a.tok_set, b.tok_set))::DOUBLE)
           ELSE 1.0 END) * 10.0) AS INT) AS bucket,
         CAST(len(list_intersect(a.bk, b.bk)) > 0 AS INT) AS cand
  FROM bands a JOIN bands b ON a.id < b.id
)
SELECT bucket, count(*) AS n_pairs,
       CAST(sum(cand) AS BIGINT) AS n_candidates,
       (1000000 * CAST(sum(cand) AS BIGINT)) // count(*) AS recall_ppm
FROM pairs GROUP BY bucket
""".replace("{TOK}", _TOK_SQL.format(col="text")).replace(
        "{SIGS}", _minhash_sig_sql(16)
    ).replace("{BANDS}", _minhash_band_sql(16, 4))
    out["io_excel_roundtrip"] = """
SELECT CAST(s_suppkey AS INT) AS s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""
    out["io_html_roundtrip"] = """
SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""
    # factor literals are the UNITS_TABLE values verbatim; expression
    # order matches convert_units (value * factor_from / factor_to,
    # affine pivot for temperature) so the doubles are bit-identical
    _cms_hex2int = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5h,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    out["profile_cms_words"] = f"""
WITH t AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}#'']+'),
                     x -> x != '') tok
  FROM documents
),
w AS (SELECT unnest(tok) AS token FROM t),
b AS (
  SELECT token, d, ({_cms_hex2int}) % 256 AS wcol
  FROM (SELECT token, d,
               substr(md5(CAST(d AS VARCHAR) || ':' || token), 1, 15) AS md5h
        FROM w, (SELECT unnest(range(3)) AS d))
),
sk AS (SELECT d, wcol, count(*) AS cnt FROM b GROUP BY d, wcol),
tc AS (SELECT token, count(*) AS true_cnt FROM w GROUP BY token),
top AS (SELECT token, true_cnt FROM tc ORDER BY true_cnt DESC, token LIMIT 20),
pe AS (
  SELECT top.token, top.true_cnt, min(sk.cnt) AS cms_est
  FROM top
  JOIN (SELECT token, d, ({_cms_hex2int}) % 256 AS wcol
        FROM (SELECT token, d,
                     substr(md5(CAST(d AS VARCHAR) || ':' || token), 1, 15) AS md5h
              FROM (SELECT DISTINCT token FROM w),
                   (SELECT unnest(range(3)) AS d))) pbk
    ON pbk.token = top.token
  JOIN sk ON sk.d = pbk.d AND sk.wcol = pbk.wcol
  GROUP BY top.token, top.true_cnt
)
SELECT md5(token) AS token_md5,
       CAST(true_cnt AS BIGINT) AS true_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - true_cnt AS BIGINT) AS overcount
FROM pe
"""
    from pydi_spark.io import zorder_key_sql

    out["io_zorder_key"] = f"""
SELECT l_orderkey AS okey,
       CAST(l_linenumber AS INT) AS lnum,
       CAST({zorder_key_sql(['x', 'y'], bits=10)} AS BIGINT) AS zkey
FROM (SELECT l_orderkey, l_linenumber,
             l_partkey % 1024 AS x, l_suppkey % 1024 AS y
      FROM lineitem)
"""
    out["dedup_bloom_incremental"] = """
SELECT CAST(doc_id AS VARCHAR) AS id
FROM documents b
WHERE doc_id % 5 = 0
  AND NOT EXISTS (SELECT 1 FROM documents s
                  WHERE s.doc_id % 5 <> 0
                    AND substr(s.text, 1, 16) = substr(b.text, 1, 16))
"""
    out["units_convert"] = """
WITH s AS (
  SELECT CAST(s_suppkey AS INT) AS key, s_acctbal AS v,
         s_suppkey % 9 AS m
  FROM supplier
)
SELECT key,
       CASE m WHEN 0 THEN 'km' WHEN 1 THEN 'kg' WHEN 2 THEN 'h'
              WHEN 3 THEN 'f' WHEN 4 THEN 'kwh' WHEN 5 THEN 'bar'
              WHEN 6 THEN 'n' WHEN 7 THEN 'deg' ELSE 'km' END AS from_unit,
       CASE m WHEN 0 THEN 'mi' WHEN 1 THEN 'lb' WHEN 2 THEN 'min'
              WHEN 3 THEN 'k' WHEN 4 THEN 'j' WHEN 5 THEN 'psi'
              WHEN 6 THEN 'lbf' WHEN 7 THEN 'rad' ELSE 'kg' END AS to_unit,
       CASE m WHEN 0 THEN v * 1000.0 / 1609.344
              WHEN 1 THEN v * 1.0 / 0.45359237
              WHEN 2 THEN v * 3600.0 / 60.0
              WHEN 3 THEN ((v - 32.0) * 5.0 / 9.0) + 273.15
              WHEN 4 THEN v * 3600000.0 / 1.0
              WHEN 5 THEN v * 100000.0 / 6895.0
              WHEN 6 THEN v * 1.0 / 4.448222
              WHEN 7 THEN v * 0.0174533 / 1.0
              ELSE NULL END AS converted,
       CASE WHEN m = 8 THEN 0 ELSE 1 END AS converted_ok
FROM s
"""
    out["normalize_locale"] = """
WITH c AS (
  SELECT CAST(c_custkey AS INT) AS key,
         CAST(floor(abs(c_acctbal) * 100.0) AS BIGINT) AS cents
  FROM customer
)
SELECT key, cents,
       CAST(cents AS DOUBLE) / 100.0 AS de_parsed,
       CAST(cents AS DOUBLE) / 100.0 AS fr_parsed,
       CAST(cents AS DOUBLE) / 100.0 AS ch_parsed,
       CAST(cents AS DOUBLE) / 100.0 AS en_parsed
FROM c
"""
    # round-5 probes: see q_canary_hugeint / q_probe_corpus_echo.
    # canary_hugeint's sum(k) is DELIBERATELY uncast -> HUGEINT
    # (expected red at the driver; exempted in check_oracle).
    out["canary_hugeint"] = """
SELECT CAST(x % 2 AS INT) AS grp, sum(x) AS s, count(*) AS c
FROM (VALUES (0), (1), (2)) t(x)
GROUP BY x % 2
"""
    # corpus_md5 literals pinned from the 2026-08-14 local testdata
    # snapshot; the lineitem count picks the SF row set.
    out["probe_corpus_echo"] = """
WITH pinned(sf, source, n_docs, sum_len, corpus_md5) AS (VALUES
  ('sf0.001', 'src0', 25, 8364, 'cd8dc658bf9f12bfef9d155c7def937d'),
  ('sf0.001', 'src1', 25, 7899, '18483748eef05235744a95d89b8b2467'),
  ('sf0.001', 'src10', 25, 7497, 'fa459e2e38e0ccb50542ef76501fc8bf'),
  ('sf0.001', 'src11', 25, 7753, '0479084467774f0e5ff0e27619975352'),
  ('sf0.001', 'src12', 25, 8127, 'e973e16e97a7aa55d3ebd1bc1925e79a'),
  ('sf0.001', 'src13', 25, 6926, '31cc13374f1594a5ceee42ab478c1f4a'),
  ('sf0.001', 'src14', 25, 9163, '3f53b6f94f30c52bad663a4b317e81ff'),
  ('sf0.001', 'src15', 25, 7255, '383342776eb0e43966642880f1114ab5'),
  ('sf0.001', 'src16', 25, 7789, '0d9ef8e5a7559508a0ad5e6e7fd647e9'),
  ('sf0.001', 'src17', 25, 7278, '25bb4eaa2295429b18888b603ae8efb5'),
  ('sf0.001', 'src18', 25, 6914, '68d0c67d3bf623d025db5e03fe7a94e6'),
  ('sf0.001', 'src19', 25, 7626, '4bfeb116afcca19d06cd67e2b0232bfa'),
  ('sf0.001', 'src2', 25, 6922, 'f973b41e0be9746d80e7f06902125bdb'),
  ('sf0.001', 'src3', 25, 8480, '691d8fff4d6d56d7e9b716f20b757b2b'),
  ('sf0.001', 'src4', 25, 7198, 'ef20c44c63160cf20233d857cf8cc0d1'),
  ('sf0.001', 'src5', 25, 6758, 'b853ed7e8c8bf17dd2fd3c1af1556ee4'),
  ('sf0.001', 'src6', 25, 8004, '96a5bbd9e61713124b502f66e9330a2a'),
  ('sf0.001', 'src7', 25, 6606, 'b762fef91ed43906c32250e0bfc6eb96'),
  ('sf0.001', 'src8', 25, 8978, '5de2034e9ad5b073f0612929620f2bc5'),
  ('sf0.001', 'src9', 25, 7619, '0e6d30c501e8c3aaf0d2add44df39da6'),
  ('sf0.01', 'src0', 25, 7949, 'c3d456f24b6334daa35d941baffd5655'),
  ('sf0.01', 'src1', 25, 8570, '357e9ea6d76e9d522deaca7a2d4d1fca'),
  ('sf0.01', 'src10', 25, 7161, '7ed03929f0f4fa6a9330acd945cff293'),
  ('sf0.01', 'src11', 25, 8387, 'ecd06c2b9aea495dc67bb2fcefd50284'),
  ('sf0.01', 'src12', 25, 6927, '31a854789ebd8ea299a1528776960330'),
  ('sf0.01', 'src13', 25, 8462, '7d4853e34f9711f6f1fcd462d3959f05'),
  ('sf0.01', 'src14', 25, 7216, 'd48b6af9b291d105072dcb3319b85082'),
  ('sf0.01', 'src15', 25, 7100, 'c3f9d80640d5ac3c2e83ff00d59c3214'),
  ('sf0.01', 'src16', 25, 7484, 'f247d31170d31c5929d54e677247dfa2'),
  ('sf0.01', 'src17', 25, 7477, 'bfe38faad0b8b486ddc960173a11406d'),
  ('sf0.01', 'src18', 25, 7556, '4db4d2a244577b956c85efc638288c44'),
  ('sf0.01', 'src19', 25, 6306, '24cab6f33c5f6b3f0c84ae7d3e8e0d2a'),
  ('sf0.01', 'src2', 25, 7689, '8074f66485879bf37f9f48d17729ea0e'),
  ('sf0.01', 'src3', 25, 7620, 'fd56ba4eaef5b8ef90cde794943a9f6b'),
  ('sf0.01', 'src4', 25, 7098, '536203eaf269618734c93b5b6c30606b'),
  ('sf0.01', 'src5', 25, 7254, 'aea8e8b60b7d7418aa94368e0b95f6cf'),
  ('sf0.01', 'src6', 25, 6964, '296a36b672d9d962ca2e5e3e8f264d6d'),
  ('sf0.01', 'src7', 25, 8201, '9d368a186016a4625ae28abc132fc4bc'),
  ('sf0.01', 'src8', 25, 6277, '30030fab0563e312a2e6421c021f9b1c'),
  ('sf0.01', 'src9', 25, 7476, '8107d2cd5737ec315a2299cd33e4ac4a')
),
cur AS (SELECT CASE WHEN (SELECT count(*) FROM lineitem) < 20000
                    THEN 'sf0.001' ELSE 'sf0.01' END AS sf)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(sum_len AS BIGINT) AS sum_len, corpus_md5
FROM pinned JOIN cur USING (sf)
"""
    out["text_zipf"] = f"""
WITH t AS (SELECT unnest({toks_text}) AS token FROM documents),
counts AS (SELECT token, count(*) AS c FROM t GROUP BY token),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts),
head AS (SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 200),
r AS (
  SELECT token, c,
         CAST(row_number() OVER (ORDER BY c DESC, token) AS INT) AS rank,
         CAST(sum(c) OVER (ORDER BY c DESC, token
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_count
  FROM head
)
SELECT md5(token) AS token_md5, c AS cnt, rank, cum_count,
       round(CAST(cum_count AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
FROM r CROSS JOIN tot
"""
    hex2int_g = " + ".join(
        f"(strpos('0123456789abcdef', substr(gh15,{i},1))-1)*{16 ** (15 - i)}"
        for i in range(1, 16)
    )
    out["text_contamination_matrix"] = f"""
WITH t AS (
  SELECT source, CAST(doc_id AS VARCHAR) did, {toks_text} AS tok FROM documents
),
g AS (
  SELECT source, unnest([array_to_string(tok[i:i+1], ' ')
                         for i in range(1, len(tok))]) AS gram
  FROM t WHERE len(tok) >= 2
),
gh AS (
  SELECT DISTINCT source, ({hex2int_g}) AS ghash
  FROM (SELECT source, substr(md5(gram), 1, 15) AS gh15 FROM g)
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM gh GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM gh a JOIN gh b ON a.ghash = b.ghash AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared, sa.n AS n_a, sb.n AS n_b,
       round(CAST(n_shared AS DOUBLE)
             / CAST(sa.n + sb.n - n_shared AS DOUBLE), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.source = shared.source_a
JOIN sizes sb ON sb.source = shared.source_b
"""
    out["sample_dsir"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id, lang = 'en' AS tgt,
         unnest({toks_text}) AS token
  FROM documents
),
b AS (
  SELECT doc_id, tgt,
         (strpos('0123456789abcdef', substr(md5(token), 14, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(token), 15, 1)) - 1) AS bk
  FROM t
),
tab AS (
  SELECT bk, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS T,
         CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS S
  FROM b GROUP BY bk
),
tot AS (SELECT CAST(sum(T) AS BIGINT) AS T_tot,
               CAST(sum(S) AS BIGINT) AS S_tot FROM tab),
per AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(sum(T) AS BIGINT) AS target_mass,
         CAST(sum(S) AS BIGINT) AS source_mass
  FROM b JOIN tab USING (bk) WHERE NOT tgt GROUP BY doc_id
)
SELECT doc_id, n_tokens, target_mass, source_mass,
       CAST(floor(((CAST(target_mass AS DOUBLE) / CAST(T_tot AS DOUBLE))
                   / (CAST(source_mass AS DOUBLE) / CAST(S_tot AS DOUBLE)))
                  * 1000000.0) AS BIGINT) AS ratio_micro
FROM per CROSS JOIN tot
"""
    out["streaming_dedup"] = """
SELECT DISTINCT user_id, event_type FROM events
"""
    out["tpch_q12"] = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN '1-fast'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 60 THEN '2-medium'
            ELSE '3-slow' END AS delay_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""
    out["tpch_q16"] = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#1' AND p_size IN (1, 4, 9, 16, 23, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40
"""
    out["tpch_q20"] = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'blue%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
per_p AS (SELECT l_partkey, sum(qty) AS total_qty FROM per_ps GROUP BY 1)
SELECT s_name, CAST(count(*) AS BIGINT) AS n_dominant_parts
FROM per_ps
JOIN per_p USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE qty > 0.5 * total_qty
GROUP BY s_name
ORDER BY n_dominant_parts DESC, s_name
"""
    out["tpch_q21"] = """
WITH l1 AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM l1 l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey != l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""
    out["tpch_q11"] = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2))
                - CAST(l_discount AS DECIMAL(18,2)))) AS value
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                      JOIN nation ON s_nationkey = n_nationkey
                      WHERE n_name = 'NATION_3')
  GROUP BY 1
),
tot AS (SELECT sum(value) AS total FROM per_part)
SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
FROM per_part CROSS JOIN tot
WHERE CAST(value AS DOUBLE) > CAST(total AS DOUBLE) * 0.001
ORDER BY part_value DESC, l_partkey
"""
    wvals = ", ".join(
        f"({b}, {w})" for b, w in enumerate(_classifier_weights())
    )
    out["text_quality_classifier"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) doc_id, unnest({toks_text}) AS token
  FROM documents
),
b AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substr(md5(token), 14, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(token), 15, 1)) - 1) AS bk
  FROM t
),
wt AS (SELECT * FROM (VALUES {wvals}) AS t(bk, w))
SELECT doc_id, count(*) AS n_tokens,
       CAST(250000 + sum(w) AS BIGINT) AS margin_micro,
       CAST(250000 + sum(w) >= 0 AS INT) AS keep
FROM b JOIN wt USING (bk)
GROUP BY doc_id
"""
    out["streaming_enrich"] = """
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""
    out["blocking_progressive"] = """
WITH p AS (SELECT CAST(p_partkey AS VARCHAR) eid, p_name
           FROM part WHERE p_size <= 10),
a0 AS (SELECT DISTINCT eid, unnest(string_split(p_name, ' ')) AS bk FROM p),
sizes AS (SELECT bk, count(*) AS bs FROM a0 GROUP BY bk),
a2 AS (SELECT a0.eid, a0.bk FROM a0 JOIN sizes USING (bk) WHERE bs <= 1000),
ent AS (SELECT eid, count(*) AS nb FROM a2 GROUP BY eid),
cb AS (SELECT x.eid AS id1, y.eid AS id2, CAST(count(*) AS BIGINT) AS cbs
       FROM a2 x JOIN a2 y ON x.bk = y.bk AND x.eid < y.eid
       GROUP BY 1, 2),
e AS (SELECT id1, id2, cbs,
             CAST(floor(1000000.0 * cbs
                        / CAST(e1.nb + e2.nb - cbs AS DOUBLE)) AS BIGINT)
               AS w_ppm
      FROM cb JOIN ent e1 ON e1.eid = id1 JOIN ent e2 ON e2.eid = id2),
head AS (SELECT * FROM e ORDER BY w_ppm DESC, id1, id2 LIMIT 500)
SELECT CAST(row_number() OVER (ORDER BY w_ppm DESC, id1, id2) AS INT) AS rank,
       id1, id2, cbs, w_ppm
FROM head
"""
    out["blocking_meta"] = """
WITH p AS (SELECT CAST(p_partkey AS VARCHAR) eid, p_name
           FROM part WHERE p_size <= 10),
a0 AS (SELECT DISTINCT eid, unnest(string_split(p_name, ' ')) AS bk FROM p),
sizes AS (SELECT bk, count(*) AS bs FROM a0 GROUP BY bk),
a2 AS (SELECT a0.eid, a0.bk FROM a0 JOIN sizes USING (bk) WHERE bs <= 1000),
ent AS (SELECT eid, count(*) AS nb FROM a2 GROUP BY eid),
cb AS (SELECT x.eid AS id1, y.eid AS id2, CAST(count(*) AS BIGINT) AS cbs
       FROM a2 x JOIN a2 y ON x.bk = y.bk AND x.eid < y.eid
       GROUP BY 1, 2),
e AS (SELECT id1, id2, cbs,
             CAST(floor(1000000.0 * cbs
                        / CAST(e1.nb + e2.nb - cbs AS DOUBLE)) AS BIGINT)
               AS w_ppm
      FROM cb JOIN ent e1 ON e1.eid = id1 JOIN ent e2 ON e2.eid = id2),
b AS (SELECT id1 AS node, id1, id2, cbs, w_ppm FROM e
      UNION ALL
      SELECT id2 AS node, id1, id2, cbs, w_ppm FROM e),
st AS (SELECT node, sum(w_ppm) AS sum_w, count(*) AS deg FROM b GROUP BY node)
SELECT DISTINCT id1, id2, cbs, w_ppm
FROM b JOIN st USING (node)
WHERE w_ppm * deg >= sum_w
"""
    out["blocking_meta_cnp"] = """
WITH p AS (SELECT CAST(p_partkey AS VARCHAR) eid, p_name
           FROM part WHERE p_size <= 10),
a0 AS (SELECT DISTINCT eid, unnest(string_split(p_name, ' ')) AS bk FROM p),
sizes AS (SELECT bk, count(*) AS bs FROM a0 GROUP BY bk),
flt AS (
  SELECT eid, bk FROM (
    SELECT a0.eid, a0.bk,
           row_number() OVER (PARTITION BY eid ORDER BY bs, bk) AS rk,
           ceil(0.8 * count(*) OVER (PARTITION BY eid)) AS keep_n
    FROM a0 JOIN sizes USING (bk)
  ) WHERE rk <= keep_n
),
cb AS (SELECT x.eid AS id1, y.eid AS id2, CAST(count(*) AS BIGINT) AS cbs
       FROM flt x JOIN flt y ON x.bk = y.bk AND x.eid < y.eid
       GROUP BY 1, 2),
e AS (SELECT id1, id2, cbs, cbs * 1000000 AS w_ppm FROM cb),
b AS (SELECT id1 AS node, id1, id2, cbs, w_ppm FROM e
      UNION ALL
      SELECT id2 AS node, id1, id2, cbs, w_ppm FROM e)
SELECT DISTINCT id1, id2, cbs, w_ppm FROM (
  SELECT *, row_number() OVER (PARTITION BY node
                               ORDER BY w_ppm DESC, id1, id2) AS rk
  FROM b
) WHERE rk <= 3
"""
    out["extract_llm_fake"] = r"""
WITH t AS (
  SELECT p_partkey,
         'name: ' || p_name || '; size: ' || CAST(p_size AS VARCHAR) AS text
  FROM part
)
SELECT p_partkey,
       trim(regexp_extract(text, '(?i)name\s*[:=]\s*([^,;\n]+)', 1))
         AS name_value,
       trim(regexp_extract(text, '(?i)size\s*[:=]\s*([^,;\n]+)', 1))
         AS size_value
FROM t
"""
    out["io_list_to_string"] = """
SELECT doc_id,
       md5(array_to_string(string_split(text, ' '), '|')) AS joined_md5,
       CAST(len(string_split(text, ' ')) AS INT) AS n_items
FROM documents
"""
    out["match_vector_features"] = """
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) e
           FROM embeddings),
p AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.e AS ea, b.e AS eb
      FROM v a JOIN v b ON b.vec_id = a.vec_id + 1)
SELECT id1, id2,
       round(1.0
             - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 [ea[i] * eb[i] for i in range(1, len(ea) + 1)]),
                 (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    [ea[i] * ea[i] for i in range(1, len(ea) + 1)]),
                    (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      [eb[i] * eb[i] for i in range(1, len(eb) + 1)]),
                      (acc, x) -> acc + x))),
             6) AS dist_cosine,
       round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [(ea[i] - eb[i]) * (ea[i] - eb[i])
                for i in range(1, len(ea) + 1)]),
               (acc, x) -> acc + x)), 6) AS dist_euclidean,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [abs(ea[i] - eb[i]) for i in range(1, len(ea) + 1)]),
               (acc, x) -> acc + x), 6) AS dist_manhattan
FROM p
"""
    out["tpch_q2"] = """
WITH j AS (
  SELECT l_partkey, p_name, l_suppkey, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'STANDARD' AND p_size < 10
),
best AS (
  SELECT l_partkey, p_name, l_suppkey AS best_supp,
         l_extendedprice AS min_price
  FROM j
  QUALIFY row_number() OVER (PARTITION BY l_partkey
                             ORDER BY l_extendedprice, l_suppkey) = 1
)
SELECT l_partkey AS p_partkey, p_name, s_name, n_name, min_price
FROM best
JOIN supplier ON best_supp = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY min_price, p_partkey
LIMIT 100
"""
    out["embed_pq_encode"] = _pq_encode_oracle_sql()
    out["embed_pq_topk"] = _pq_topk_oracle_sql()
    out["embed_ivfpq_topk"] = _ivfpq_oracle_sql()
    out["canary_hash_risky"] = """
SELECT CAST(k AS INT) AS k,
       k % 2 = 0 AS r_bool,
       'a' || chr(10) || 'b_' || CAST(k AS VARCHAR) AS r_newline,
       'it''s #' || CAST(k AS VARCHAR) AS r_quote,
       CASE WHEN k = 0 THEN -CAST(0.0 AS DOUBLE)
            ELSE CAST(k AS DOUBLE) END AS r_negzero
FROM range(3) t(k)
"""

    # -- round-6 session-2 additions
    w = _fs_weights()
    aw, dw = w.agree_micro, w.disagree_micro
    out["match_fellegi_sunter"] = f"""
WITH s AS (SELECT CAST(s_suppkey AS VARCHAR) id1, s_name n1, s_acctbal b1,
                  s_nationkey k FROM supplier),
     c AS (SELECT CAST(c_custkey AS VARCHAR) id2, c_name n2, c_acctbal b2,
                  c_nationkey k FROM customer),
     g AS (SELECT id1, id2,
        CASE WHEN (1.0 - levenshtein(n1, n2)::DOUBLE
                   / greatest(length(n1), length(n2))) >= 0.3
             THEN 1 ELSE 0 END AS gamma_name,
        CASE WHEN abs(b1 - b2) <= 1000.0 THEN 1 ELSE 0 END AS gamma_bal,
        CASE WHEN (CASE WHEN greatest(abs(b1), abs(b2)) = 0 THEN 1.0
                   ELSE greatest(0.0, 1.0 - abs(b1 - b2)
                                 / greatest(abs(b1), abs(b2))) END) >= 0.9
             THEN 1 ELSE 0 END AS gamma_bal_2
      FROM s JOIN c USING (k))
SELECT id1, id2, gamma_name, gamma_bal, gamma_bal_2,
  CAST(CASE WHEN gamma_name = 1 THEN {aw[0]} ELSE {dw[0]} END
     + CASE WHEN gamma_bal = 1 THEN {aw[1]} ELSE {dw[1]} END
     + CASE WHEN gamma_bal_2 = 1 THEN {aw[2]} ELSE {dw[2]} END
     AS BIGINT) AS score_micro
FROM g
"""

    from pydi_spark.functions.phonetic import soundex_sql

    first_tok = "list_extract(regexp_split_to_array(trim(p_name), '\\s+'), 1)"
    out["blocking_phonetic"] = f"""
WITH p AS (
  SELECT p_partkey, lower({soundex_sql(first_tok, 'duckdb')}) AS block_key
  FROM part
)
SELECT CAST(a.p_partkey AS VARCHAR) id1, CAST(b.p_partkey AS VARCHAR) id2,
       a.block_key
FROM p a JOIN p b USING (block_key)
WHERE CAST(a.p_partkey AS VARCHAR) < CAST(b.p_partkey AS VARCHAR)
"""

    def hex6(inner: str) -> str:
        return "(" + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({inner}),{i},1))-1)"
            f"*{16 ** (6 - i)}"
            for i in range(1, 7)
        ) + ")"

    cx = hex6("'cx:' || CAST(c_custkey AS VARCHAR)")
    cy = hex6("'cy:' || CAST(c_custkey AS VARCHAR)")
    sx = hex6("'sx:' || CAST(s_suppkey AS VARCHAR)")
    sy = hex6("'sy:' || CAST(s_suppkey AS VARCHAR)")
    # brute-force radius definition — independent characterization of
    # the grid join (every in-radius pair, exact integer arithmetic)
    out["join_grid_radius"] = f"""
WITH c AS (SELECT CAST(c_custkey AS VARCHAR) id1,
                  {cx} % 1000000 AS x, {cy} % 1000000 AS y FROM customer),
     s AS (SELECT CAST(s_suppkey AS VARCHAR) id2,
                  {sx} % 1000000 AS x, {sy} % 1000000 AS y FROM supplier)
SELECT id1, id2,
       (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS dist2
FROM c, s
WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
      <= {50000 * 50000}
"""

    out["io_table_diff"] = """
WITH o AS (SELECT o_orderkey k, o_orderstatus st, o_orderpriority pr FROM orders),
n AS (
  SELECT o_orderkey k,
         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END st,
         o_orderpriority pr
  FROM orders WHERE o_orderkey % 13 != 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 11 = 0
),
j AS (
  SELECT coalesce(o.k, n.k) AS o_orderkey,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN o.st != n.st OR o.pr != n.pr THEN 'changed'
              ELSE 'unchanged' END AS diff_status
  FROM o FULL OUTER JOIN n ON o.k = n.k
)
SELECT o_orderkey, diff_status FROM j WHERE diff_status != 'unchanged'
"""

    out["dedup_containment"] = _ngram_containment_sql(3, 0.6)

    fd_selects = []
    for a in _FD_COLS:
        for b in _FD_COLS:
            if a == b:
                continue
            fd_selects.append(f"""
SELECT '{a}' AS determinant, '{b}' AS dependent,
  (SELECT count(DISTINCT {a}) FROM orders
   WHERE {a} IS NOT NULL AND {b} IS NOT NULL) AS n_det,
  (SELECT count(*) FROM (SELECT DISTINCT {a}, {b} FROM orders
   WHERE {a} IS NOT NULL AND {b} IS NOT NULL)) AS n_pair,
  CAST((SELECT count(DISTINCT {a}) FROM orders
        WHERE {a} IS NOT NULL AND {b} IS NOT NULL)
     = (SELECT count(*) FROM (SELECT DISTINCT {a}, {b} FROM orders
        WHERE {a} IS NOT NULL AND {b} IS NOT NULL)) AS INT) AS holds""")
    out["profile_fds"] = "\nUNION ALL\n".join(fd_selects)

    ind_selects = []
    for lhs, rhs, lt, lc, rt, rc in [
        ("orders.o_custkey", "customer.c_custkey",
         "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.s_suppkey", "customer.c_custkey",
         "supplier", "s_suppkey", "customer", "c_custkey"),
        ("customer.c_custkey", "supplier.s_suppkey",
         "customer", "c_custkey", "supplier", "s_suppkey"),
        ("nation.n_nationkey", "region.r_regionkey",
         "nation", "n_nationkey", "region", "r_regionkey"),
    ]:
        lv = (f"SELECT DISTINCT CAST({lc} AS VARCHAR) v FROM {lt} "
              f"WHERE {lc} IS NOT NULL")
        rv = (f"SELECT DISTINCT CAST({rc} AS VARCHAR) v FROM {rt} "
              f"WHERE {rc} IS NOT NULL")
        miss = f"SELECT count(*) FROM ({lv}) WHERE v NOT IN ({rv})"
        ind_selects.append(f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
  (SELECT count(*) FROM ({lv})) AS n_lhs_values,
  ({miss}) AS n_missing,
  CAST(({miss}) = 0 AS INT) AS holds""")
    out["profile_inds"] = "\nUNION ALL\n".join(ind_selects)

    out["normalize_fd_repair"] = """
WITH votes AS (
  SELECT o_custkey, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2
),
canon AS (
  SELECT o_custkey, o_orderpriority AS canon FROM (
    SELECT o_custkey, o_orderpriority,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY n DESC, o_orderpriority ASC) AS rk
    FROM votes
  ) WHERE rk = 1
)
SELECT o_orderkey, o_custkey, canon AS o_orderpriority,
       CAST(orders.o_orderpriority != canon AS INT) AS repaired
FROM orders JOIN canon USING (o_custkey)
"""

    from itertools import combinations as _combos

    key_selects = []
    for size in (1, 2):
        for combo in _combos(_FD_COLS, size):
            cols_sql = ", ".join(combo)
            label = ",".join(combo)
            key_selects.append(f"""
SELECT '{label}' AS columns,
  (SELECT count(*) FROM (SELECT DISTINCT {cols_sql} FROM orders))
    AS n_distinct,
  (SELECT count(*) FROM orders) AS n_rows,
  CAST((SELECT count(*) FROM (SELECT DISTINCT {cols_sql} FROM orders))
     = (SELECT count(*) FROM orders) AS INT) AS is_key""")
    out["profile_keys"] = "\nUNION ALL\n".join(key_selects)

    # versions (o_orderkey) are unique per key, so the engine's md5
    # tiebreak never fires and ORDER BY v alone replays it exactly
    out["io_pit_join"] = """
WITH ch AS (
  SELECT o_custkey, o_orderstatus, CAST(o_orderkey AS BIGINT) v,
         CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END op
  FROM orders
),
hist AS (
  SELECT o_custkey, o_orderstatus AS status_at, valid_from, valid_to
  FROM (
    SELECT o_custkey, o_orderstatus, v AS valid_from, op,
           lead(v) OVER (PARTITION BY o_custkey ORDER BY v ASC) AS valid_to
    FROM ch
  ) WHERE op != 'D'
)
SELECT f.o_orderkey, f.o_custkey, h.status_at,
       coalesce(h.valid_from, -1) AS valid_from,
       coalesce(h.valid_to, -1) AS valid_to
FROM (SELECT o_orderkey, o_custkey, CAST(o_orderkey AS BIGINT) AS at
      FROM orders) f
LEFT JOIN hist h
  ON h.o_custkey = f.o_custkey
 AND f.at >= h.valid_from
 AND (h.valid_to IS NULL OR f.at < h.valid_to)
"""

    out["io_scd2"] = """

WITH ch AS (
  SELECT o_custkey, o_orderstatus, CAST(o_orderkey AS BIGINT) v,
         CASE WHEN o_orderkey % 19 = 0 THEN 'D' ELSE 'U' END op
  FROM orders
),
led AS (
  SELECT o_custkey, o_orderstatus, v AS valid_from, op,
         lead(v) OVER (PARTITION BY o_custkey ORDER BY v ASC) AS valid_to
  FROM ch
)
SELECT o_custkey, o_orderstatus, valid_from, valid_to,
       CAST(valid_to IS NULL AS INT) AS is_current
FROM led WHERE op != 'D'
"""

    out["io_schema_union"] = """
SELECT CAST(s_suppkey AS BIGINT) rid, s_name AS name, s_acctbal AS bal,
       CAST(NULL AS VARCHAR) AS segment, 'supplier' AS src
FROM supplier
UNION ALL
SELECT CAST(c_custkey AS BIGINT), c_name, CAST(NULL AS DOUBLE),
       c_mktsegment, 'customer'
FROM customer
"""

    # brute-force pair definition — independent characterization of the
    # q-gram prefix-filtered join, not a replay of the pruning
    out["join_edit_distance"] = """
SELECT a.c_custkey AS id1, b.c_custkey AS id2,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a, customer b
WHERE a.c_custkey < b.c_custkey
  AND levenshtein(a.c_name, b.c_name) <= 1
"""

    # capped variant REPLAYS the deterministic pruning (the cap trades
    # recall, so a brute-force characterization would not match):
    # distinct q-grams -> global freq capped at 100 -> per-record 3
    # rarest surviving grams (freq ASC, gram ASC) -> prefix equi-join
    # vs ALL grams -> canonicalize -> short fallback -> verify
    out["join_edit_distance_capped"] = """
WITH base AS (
  SELECT c_custkey AS id, c_name AS s, length(c_name) AS l
  FROM customer WHERE c_name IS NOT NULL
),
grams_raw AS (
  SELECT id, unnest(list_transform(generate_series(1, l - 1),
                                   p -> substring(s, p, 2))) AS gram
  FROM base WHERE l >= 2
),
grams AS (SELECT DISTINCT id, gram FROM grams_raw),
freq AS (
  SELECT gram, COUNT(*) AS f FROM grams GROUP BY 1 HAVING COUNT(*) <= 100
),
pref AS (
  SELECT id, gram FROM (
    SELECT g.id, g.gram,
           row_number() OVER (PARTITION BY g.id
                              ORDER BY k.f ASC, g.gram ASC) AS rk
    FROM grams g JOIN freq k USING (gram)
  ) WHERE rk <= 3
),
main AS (
  SELECT LEAST(p.id, g.id) AS id1, GREATEST(p.id, g.id) AS id2
  FROM pref p JOIN grams g USING (gram)
  WHERE p.id <> g.id
),
short AS (SELECT id FROM base WHERE l <= 3),
fallback AS (
  SELECT a.id AS id1, b.id AS id2 FROM short a, short b WHERE a.id < b.id
),
cand AS (
  SELECT DISTINCT id1, id2
  FROM (SELECT * FROM main UNION ALL SELECT * FROM fallback)
)
SELECT c.id1, c.id2, CAST(levenshtein(a.s, b.s) AS INT) AS distance
FROM cand c JOIN base a ON a.id = c.id1 JOIN base b ON b.id = c.id2
WHERE abs(a.l - b.l) <= 1 AND levenshtein(a.s, b.s) <= 1
"""

    # correlation: exact decimal(18,2) sufficient statistics (stored
    # ints < 2^53 => decimal->double casts correctly rounded on both
    # engines), then ONE left-to-right double expression per pair —
    # the same IEEE op order as profiler.correlation_matrix
    corr_cols = ["l_quantity", "l_discount", "l_tax"]
    corr_pairs = sorted(
        {tuple(sorted((a, b))) for a in corr_cols for b in corr_cols if a != b}
    )
    corr_aggs = ["COUNT(*) AS n"]
    for c in corr_cols:
        d = f"CAST({c} AS DECIMAL(18,2))"
        corr_aggs.append(f"CAST(SUM({d}) AS DOUBLE) AS s_{c}")
        corr_aggs.append(f"CAST(SUM({d} * {d}) AS DOUBLE) AS ss_{c}")
    for a, b in corr_pairs:
        da, db = f"CAST({a} AS DECIMAL(18,2))", f"CAST({b} AS DECIMAL(18,2))"
        corr_aggs.append(f"CAST(SUM({da} * {db}) AS DOUBLE) AS sp_{a}_{b}")
    corr_where = " AND ".join(f"{c} IS NOT NULL" for c in corr_cols)
    corr_selects = []
    for a, b in corr_pairs:
        vx = f"(nd * ss_{a} - s_{a} * s_{a})"
        vy = f"(nd * ss_{b} - s_{b} * s_{b})"
        r = f"(nd * sp_{a}_{b} - s_{a} * s_{b}) / sqrt({vx}) / sqrt({vy})"
        corr_selects.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b, n,
       CAST(floor((CASE WHEN {vx} > 0 AND {vy} > 0 THEN {r} END)
                  * 1000000) AS BIGINT) AS corr_micro
FROM stats""")
    out["profile_corr"] = (
        "WITH stats AS (\n  SELECT "
        + ",\n         ".join(corr_aggs)
        + f",\n         CAST(COUNT(*) AS DOUBLE) AS nd"
        + f"\n  FROM lineitem WHERE {corr_where}\n)"
        + "\nUNION ALL".join(corr_selects)
    )

    disp_selects = []
    for c in ["o_orderstatus", "o_orderpriority", "o_custkey"]:
        disp_selects.append(f"""
SELECT '{c}' AS "column",
       CAST(total AS BIGINT) AS n_rows,
       CAST(nd AS BIGINT) AS n_distinct,
       CAST(floor((1000000 * CAST(total * total - sq AS DOUBLE))
                  / CAST(total * total AS DOUBLE)) AS BIGINT) AS gini_micro
FROM (
  SELECT SUM(cnt) AS total, COUNT(*) AS nd, SUM(cnt * cnt) AS sq
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY {c})
)""")
    out["profile_dispersion"] = "\nUNION ALL".join(disp_selects)

    # exact discrete quantiles: rank arithmetic is all-integer, the
    # answer is an element of the column (no interpolation)
    quant_selects = []
    quant_ppms = [250000, 500000, 750000, 950000]
    for c in ["l_quantity", "l_discount", "l_tax"]:
        picks = ",\n       ".join(
            f"MIN(CASE WHEN cum >= ({q} * n + 999999) // 1000000 "
            f"THEN val END) AS p_{q}"
            for q in quant_ppms
        )
        quant_selects.append(f"""
SELECT '{c}' AS "column", CAST(MAX(n) AS BIGINT) AS n,
       {picks}
FROM (
  SELECT val,
         SUM(c) OVER (ORDER BY val ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS n
  FROM (SELECT {c} AS val, COUNT(*) AS c FROM lineitem
        WHERE {c} IS NOT NULL GROUP BY 1)
)""")
    out["profile_quantiles"] = "\nUNION ALL".join(quant_selects)

    _lag_picks = ",\n       ".join(
        f"MIN(CASE WHEN cum >= ({q} * n + 999999) // 1000000 "
        f"THEN val END) AS p_{q}"
        for q in [250000, 500000, 750000, 900000]
    )
    out["events_conversion_lag"] = f"""
WITH v AS (SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY user_id),
p AS (
  SELECT e.user_id, min(e.ts) AS tp, min(v.tv) AS tv2
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > v.tv
  GROUP BY e.user_id
),
lags AS (SELECT epoch_us(tp) - epoch_us(tv2) AS val FROM p)
SELECT 'lag_us' AS "column", CAST(MAX(n) AS BIGINT) AS n,
       {_lag_picks}
FROM (
  SELECT val,
         SUM(c) OVER (ORDER BY val ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS n
  FROM (SELECT val, COUNT(*) AS c FROM lags WHERE val IS NOT NULL
        GROUP BY 1)
)
"""

    out["normalize_mask"] = """
SELECT CAST(c_custkey AS VARCHAR) AS ck,
       md5(c_name) AS name,
       CASE WHEN length(c_mktsegment) >= 3
            THEN substr(c_mktsegment, 1, 1)
                 || repeat('*', length(c_mktsegment) - 2)
                 || substr(c_mktsegment, length(c_mktsegment), 1)
            WHEN c_mktsegment IS NOT NULL THEN '[REDACTED]' END AS segment,
       CASE WHEN c_nationkey IS NOT NULL THEN '[REDACTED]' END AS nation
FROM customer
"""

    # per-group impute replay: mean = exact decimal sum / count in ONE
    # double division; median = histogram cumsum at rank (n+1) div 2;
    # mode = (count DESC, value ASC) winner
    out["normalize_impute"] = """
WITH base AS (
  SELECT l_orderkey, l_linenumber, l_linestatus,
         CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS qty,
         CASE WHEN l_orderkey % 11 = 0 THEN NULL ELSE l_discount END AS disc,
         CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_returnflag END AS flag
  FROM lineitem
),
mean_s AS (
  SELECT l_linestatus,
         CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(COUNT(qty) AS DOUBLE) AS fill_qty
  FROM base GROUP BY l_linestatus
),
med_cum AS (
  SELECT l_linestatus, val,
         SUM(c) OVER (PARTITION BY l_linestatus ORDER BY val ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY l_linestatus) AS n
  FROM (SELECT l_linestatus, disc AS val, COUNT(*) AS c FROM base
        WHERE disc IS NOT NULL GROUP BY 1, 2)
),
med_s AS (
  SELECT l_linestatus,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN val END) AS fill_disc
  FROM med_cum GROUP BY l_linestatus
),
mode_s AS (
  SELECT l_linestatus, val AS fill_flag FROM (
    SELECT l_linestatus, val,
           row_number() OVER (PARTITION BY l_linestatus
                              ORDER BY c DESC, val ASC) AS rk
    FROM (SELECT l_linestatus, flag AS val, COUNT(*) AS c FROM base
          WHERE flag IS NOT NULL GROUP BY 1, 2)
  ) WHERE rk = 1
)
SELECT b.l_orderkey, b.l_linenumber, b.l_linestatus,
       COALESCE(b.qty, m.fill_qty) AS qty,
       COALESCE(b.disc, d.fill_disc) AS disc,
       COALESCE(b.flag, f.fill_flag) AS flag
FROM base b
LEFT JOIN mean_s m USING (l_linestatus)
LEFT JOIN med_s d USING (l_linestatus)
LEFT JOIN mode_s f USING (l_linestatus)
"""

    out["profile_join_fanout"] = """
WITH lc AS (SELECT o_orderkey AS k, COUNT(*) AS cl FROM orders
            WHERE o_orderkey IS NOT NULL GROUP BY 1),
rc AS (SELECT l_orderkey AS k, COUNT(*) AS cr FROM lineitem
       WHERE l_orderkey IS NOT NULL GROUP BY 1),
b AS (SELECT cl, cr FROM lc FULL OUTER JOIN rc USING (k))
SELECT CAST(SUM(cl) AS BIGINT) AS n_left,
       CAST(SUM(cr) AS BIGINT) AS n_right,
       CAST(COUNT(cl) AS BIGINT) AS n_left_keys,
       CAST(COUNT(cr) AS BIGINT) AS n_right_keys,
       CAST(COUNT(cl * cr) AS BIGINT) AS n_matching_keys,
       CAST(SUM(cl * cr) AS BIGINT) AS join_rows,
       CAST(MAX(cl * cr) AS BIGINT) AS max_key_fanout,
       CAST(SUM(CASE WHEN cr IS NULL THEN cl END) AS BIGINT)
         AS left_rows_unmatched,
       CAST(SUM(CASE WHEN cl IS NULL THEN cr END) AS BIGINT)
         AS right_rows_unmatched
FROM b
"""

    # winsorization: bounds replayed with the exact-quantile CTE, the
    # clip itself is the same CASE chain as the when-chain
    def _qbounds(col: str, lo_ppm: int, hi_ppm: int) -> str:
        return f"""(
  SELECT MIN(CASE WHEN cum >= ({lo_ppm} * n + 999999) // 1000000
             THEN val END) AS lo,
         MIN(CASE WHEN cum >= ({hi_ppm} * n + 999999) // 1000000
             THEN val END) AS hi
  FROM (
    SELECT val,
           SUM(c) OVER (ORDER BY val ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum,
           SUM(c) OVER () AS n
    FROM (SELECT {col} AS val, COUNT(*) AS c FROM lineitem
          WHERE {col} IS NOT NULL GROUP BY 1)
  )
)"""

    out["normalize_clip"] = f"""
WITH bq AS {_qbounds("l_quantity", 50000, 950000)},
bd AS {_qbounds("l_discount", 50000, 950000)}
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity < bq.lo THEN bq.lo
            WHEN l_quantity > bq.hi THEN bq.hi
            ELSE l_quantity END AS l_quantity,
       CASE WHEN l_discount < bd.lo THEN bd.lo
            WHEN l_discount > bd.hi THEN bd.hi
            ELSE l_discount END AS l_discount
FROM lineitem, bq, bd
"""

    out["normalize_rare_collapse"] = """
WITH cnt AS (SELECT CAST(o_custkey AS VARCHAR) AS val, COUNT(*) AS c
             FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
tot AS (SELECT SUM(c) AS t FROM cnt),
keep AS (SELECT val FROM cnt, tot WHERE c * 1000000 >= 1000 * t)
SELECT o_orderkey,
       CASE WHEN o_custkey IS NULL THEN CAST(NULL AS VARCHAR)
            WHEN CAST(o_custkey AS VARCHAR) IN (SELECT val FROM keep)
              THEN CAST(o_custkey AS VARCHAR)
            ELSE '__other__' END AS o_custkey
FROM orders
"""

    out["events_paths"] = """
WITH ev AS (SELECT user_id, event_id, ts, event_type FROM events
            WHERE event_type IS NOT NULL),
flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM flagged
),
led AS (
  SELECT user_id, event_type AS e0,
         lead(event_type, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS e2
  FROM sess
  WINDOW w AS (PARTITION BY user_id, session_id ORDER BY ts, event_id)
)
SELECT e0 || '>' || e1 || '>' || e2 AS path,
       count(*) AS cnt,
       count(DISTINCT user_id) AS n_users
FROM led WHERE e2 IS NOT NULL
GROUP BY 1
"""

    from pydi_spark.functions.urls import canonical_url_sql as _curl

    out["normalize_urls"] = f"""
SELECT c_custkey, {_curl("url", "duckdb")} AS canonical_url
FROM (SELECT c_custkey, {_messy_url_sql("duckdb")} AS url FROM customer)
"""

    out["graph_triangles"] = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk
  FROM customer
),
e AS (
  SELECT a.id AS x, b.id AS y
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk IN (1, 2)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y
"""

    out["cluster_max_bipartite"] = """
WITH r AS (
  SELECT CAST(c_custkey AS VARCHAR) AS id, c_nationkey AS nk,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk
  FROM customer
),
g AS (
  SELECT id, nk, (rk - 1) // 4 AS gg, (rk - 1) % 4 AS m FROM r
),
full_g AS (
  SELECT nk, gg FROM g GROUP BY nk, gg HAVING count(*) = 4
),
p AS (
  SELECT g.nk, g.gg,
         max(CASE WHEN m = 0 THEN id END) AS m0,
         max(CASE WHEN m = 1 THEN id END) AS m1,
         max(CASE WHEN m = 2 THEN id END) AS m2,
         max(CASE WHEN m = 3 THEN id END) AS m3
  FROM g JOIN full_g USING (nk, gg)
  GROUP BY g.nk, g.gg
)
SELECT m0 AS id1, m1 AS id2, CAST(0.6 AS DOUBLE) AS score FROM p
UNION ALL
SELECT m2, m3, CAST(0.5 AS DOUBLE) FROM p
"""

    out["streaming_sliding"] = """

SELECT CAST(make_timestamp(ws) AS VARCHAR) AS window_start,
       CAST(make_timestamp(ws + 21600000000) AS VARCHAR) AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM (
  SELECT event_type,
         (epoch_us(ts) // 7200000000) * 7200000000
           - k * 7200000000 AS ws
  FROM events, unnest([CAST(0 AS BIGINT), 1, 2]) AS t(k)
  WHERE ts IS NOT NULL
)
GROUP BY 1, 2, 3
"""

    _benford_expected = (
        "CASE g.digit WHEN 1 THEN 301029 WHEN 2 THEN 176091 WHEN 3 THEN 124938 "
        "WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66946 "
        "WHEN 7 THEN 57991 WHEN 8 THEN 51152 WHEN 9 THEN 45757 END"
    )
    out["profile_benford"] = f"""
WITH src AS (
  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
         CAST(o_custkey AS BIGINT) AS custkey
  FROM orders
),
vals AS (
  SELECT 'price_cents' AS "column", price_cents AS v FROM src
  WHERE price_cents IS NOT NULL AND price_cents != 0
  UNION ALL
  SELECT 'custkey', custkey FROM src
  WHERE custkey IS NOT NULL AND custkey != 0
),
counts AS (
  SELECT "column", CAST(substr(CAST(abs(v) AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n
  FROM vals GROUP BY 1, 2
),
totals AS (SELECT "column", sum(n) AS total FROM counts GROUP BY 1),
grid AS (
  SELECT c AS "column", d AS digit
  FROM (SELECT unnest(['price_cents', 'custkey']) AS c),
       (SELECT unnest(range(1, 10)) AS d)
)
SELECT g."column", CAST(g.digit AS INT) AS digit,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n,
       CAST(CASE WHEN coalesce(t.total, 0) = 0 THEN 0
                 ELSE coalesce(c.n, 0) * 1000000 // t.total END AS BIGINT)
         AS share_ppm,
       CAST({_benford_expected} AS BIGINT) AS expected_ppm
FROM grid g
LEFT JOIN counts c ON c."column" = g."column" AND c.digit = g.digit
LEFT JOIN totals t ON t."column" = g."column"
"""

    out["graph_clustering_coef"] = """

WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk
  FROM customer
),
e AS (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk IN (1, 2)
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM e UNION ALL SELECT b FROM e
  ) GROUP BY 1
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
pern AS (
  SELECT id, COUNT(*) AS t FROM (
    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY 1
)
SELECT deg.v AS id,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(pern.t, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN deg.d < 2 THEN 0
                 ELSE (2 * COALESCE(pern.t, 0) * 1000000)
                      // (deg.d * (deg.d - 1)) END AS BIGINT) AS coef_ppm
FROM deg LEFT JOIN pern ON pern.id = deg.v
"""

    # 12 inlined peel rounds: past convergence each round is a no-op,
    # so the chain is exact as long as the graph converges within 12
    # (measured: <= 4 rounds at sf0.001/sf0.01/sf0.1 on this structure)
    _kcore_rounds = []
    for _i in range(12):
        _p = f"e{_i}"
        _kcore_rounds.append(
            f"n{_i} AS MATERIALIZED (SELECT v FROM (SELECT a AS v FROM {_p} "
            f"UNION ALL SELECT b FROM {_p}) GROUP BY v "
            f"HAVING COUNT(*) >= 3),\n"
            f"e{_i + 1} AS MATERIALIZED (SELECT a, b FROM {_p} "
            f"WHERE a IN (SELECT v FROM n{_i}) "
            f"AND b IN (SELECT v FROM n{_i}))"
        )
    out["graph_kcore"] = (
        """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
"""
        + ",\n".join(_kcore_rounds)
        + """
SELECT DISTINCT id FROM (
  SELECT a AS id FROM e12 UNION ALL SELECT b FROM e12
)
"""
    )

    # 4 inlined synchronous LPA rounds over the same clique+bridge
    # graph: count neighbour labels, adopt (count DESC, label ASC) —
    # the fixed round count matches label_propagation(n_iter=4)
    _lpa_rounds = []
    for _i in range(4):
        _lpa_rounds.append(
            f"c{_i} AS (SELECT s.d AS id, l.label, COUNT(*) AS cnt "
            f"FROM sym s JOIN lab{_i} l ON s.s = l.id GROUP BY s.d, l.label),\n"
            f"lab{_i + 1} AS MATERIALIZED (SELECT id, label FROM ("
            f"SELECT id, label, row_number() OVER (PARTITION BY id "
            f"ORDER BY cnt DESC, label ASC) AS rn FROM c{_i}) WHERE rn = 1)"
        )
    out["graph_label_prop"] = (
        """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
sym AS MATERIALIZED (
  SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0
),
lab0 AS (SELECT DISTINCT s AS id, s AS label FROM sym),
"""
        + ",\n".join(_lpa_rounds)
        + """
SELECT id, label FROM lab4
"""
    )

    # link prediction: independent wedge enumeration over the same
    # clique+bridge graph — adjacency self-join through the shared
    # centre, NOT EXISTS against the edge set, integer div everywhere
    # (SUM casts to BIGINT: DuckDB integer SUM is HUGEINT, the r3 rule)
    out["graph_link_pred"] = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0
  ) GROUP BY 1
),
adj AS (
  SELECT a AS z, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
),
pairs AS (
  SELECT l.v AS v, rr.v AS w, COUNT(*) AS cn,
         CAST(SUM(1000000 // dz.d) AS BIGINT) AS ra
  FROM adj l
  JOIN adj rr ON l.z = rr.z AND l.v < rr.v
  JOIN deg dz ON dz.v = l.z
  GROUP BY 1, 2
),
ne AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = p.v AND e0.b = p.w)
)
SELECT ne.v AS id1, ne.w AS id2,
       CAST(ne.cn AS BIGINT) AS common_neighbors,
       CAST(ne.cn * 1000000 // (dv.d + dw.d - ne.cn) AS BIGINT)
         AS jaccard_ppm,
       ne.ra AS ra_micro,
       CAST(dv.d * dw.d AS BIGINT) AS pref_attach
FROM ne
JOIN deg dv ON dv.v = ne.v
JOIN deg dw ON dw.v = ne.w
"""

    # ORC roundtrip: the loader output must equal the parquet source
    out["io_orc_roundtrip"] = """
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(s_nationkey AS BIGINT) AS s_nationkey
FROM supplier
"""

    # percent-rank: SQL rank() min-rank numerator == strictly-below
    # count; distinct-value pct joined back on the identical-bits
    # double key
    out["normalize_rank"] = """
WITH r AS (
  SELECT c_acctbal AS v,
         CAST((rank() OVER (ORDER BY c_acctbal) - 1) * 1000000
              // greatest((SELECT count(*) FROM customer
                           WHERE c_acctbal IS NOT NULL) - 1, 1)
              AS BIGINT) AS pct
  FROM customer WHERE c_acctbal IS NOT NULL
),
rd AS (SELECT DISTINCT v, pct FROM r)
SELECT c.c_custkey, c.c_acctbal, rd.pct AS pct_ppm
FROM customer c LEFT JOIN rd ON rd.v = c.c_acctbal
"""

    # grouped top-k: row_number replay under the same total order
    out["profile_topk_per_group"] = """
SELECT c_nationkey, c_custkey, c_acctbal,
       CAST(rank_in_group AS INTEGER) AS rank_in_group
FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey)
           AS rank_in_group
  FROM customer
) WHERE rank_in_group <= 3
"""

    # HITS: 4 inlined rounds over the user->type bipartite graph;
    # auth from the PREVIOUS hub, hub from the NEW auth (the operator's
    # update order); renormalization via scalar-subquery totals in
    # HUGEINT intermediates
    _hits_rounds = []
    for _i in range(4):
        _hits_rounds.append(
            f"""ar{_i} AS MATERIALIZED (
  SELECT nn.id, coalesce(s.v, 0) AS raw FROM nn LEFT JOIN (
    SELECT e.d AS id, SUM(h{_i}.v) AS v FROM e
    JOIN h{_i} ON h{_i}.id = e.s GROUP BY e.d
  ) s USING (id)
),
a{_i + 1} AS MATERIALIZED (
  SELECT id, CASE WHEN (SELECT SUM(raw) FROM ar{_i}) <= 0
                  THEN CAST(0 AS BIGINT)
             ELSE CAST(CAST(raw AS HUGEINT) * (SELECT n FROM nc)
                       * 1000000 // (SELECT SUM(raw) FROM ar{_i})
                       AS BIGINT) END AS v
  FROM ar{_i}
),
hr{_i} AS MATERIALIZED (
  SELECT nn.id, coalesce(s.v, 0) AS raw FROM nn LEFT JOIN (
    SELECT e.s AS id, SUM(a{_i + 1}.v) AS v FROM e
    JOIN a{_i + 1} ON a{_i + 1}.id = e.d GROUP BY e.s
  ) s USING (id)
),
h{_i + 1} AS MATERIALIZED (
  SELECT id, CASE WHEN (SELECT SUM(raw) FROM hr{_i}) <= 0
                  THEN CAST(0 AS BIGINT)
             ELSE CAST(CAST(raw AS HUGEINT) * (SELECT n FROM nc)
                       * 1000000 // (SELECT SUM(raw) FROM hr{_i})
                       AS BIGINT) END AS v
  FROM hr{_i}
)"""
        )
    out["graph_hits"] = (
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS s,
         't' || event_type AS d
  FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
nn AS MATERIALIZED (
  SELECT s AS id FROM e UNION SELECT d FROM e
),
nc AS (SELECT count(*) AS n FROM nn),
h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS v FROM nn),
"""
        + ",\n".join(_hits_rounds)
        + """
SELECT h4.id, h4.v AS hub_micro, a4.v AS auth_micro
FROM h4 JOIN a4 USING (id)
"""
    )

    # experiment: per-user hygiene aggregate (nv = distinct variants),
    # contaminated users excluded + counted; control rate and
    # contamination count as scalar subqueries
    out["events_experiment"] = """
WITH ev AS (
  SELECT user_id, event_type,
         CASE WHEN user_id % 97 = 0
              THEN (CASE WHEN event_id % 2 = 0 THEN 'a'
                         ELSE 'control' END)
              ELSE (CASE user_id % 3 WHEN 0 THEN 'control'
                         WHEN 1 THEN 'a' ELSE 'b' END) END AS variant
  FROM events
),
pu AS (
  SELECT user_id, count(DISTINCT variant) AS nv, min(variant) AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM ev WHERE variant IS NOT NULL GROUP BY 1
),
pv AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_converted
  FROM pu WHERE nv = 1 GROUP BY 1
),
pv2 AS (
  SELECT *, CAST(n_converted * 1000000 // n_users AS BIGINT) AS conv_ppm
  FROM pv
)
SELECT variant, n_users, n_converted, conv_ppm,
       CAST(conv_ppm - (SELECT max(CASE WHEN variant = 'control'
                                        THEN conv_ppm END) FROM pv2)
            AS BIGINT) AS uplift_ppm,
       CAST((SELECT coalesce(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END), 0)
             FROM pu) AS BIGINT) AS n_multi_variant_users
FROM pv2
"""

    # co-occurrence: distinct-presence self-join; basket total via
    # scalar subquery; lift in HUGEINT intermediates cast to BIGINT
    out["events_cooccurrence"] = """
WITH b AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day,
         event_type AS item
  FROM events WHERE event_type IS NOT NULL
),
ng AS (SELECT count(*) AS n FROM (SELECT DISTINCT user_id, day FROM b)),
it AS (
  SELECT item, CAST(count(*) AS BIGINT) AS n_items FROM b GROUP BY 1
),
p AS (
  SELECT l.item AS item1, r.item AS item2,
         CAST(count(*) AS BIGINT) AS n_pair
  FROM b l JOIN b r ON l.user_id = r.user_id AND l.day = r.day
                    AND l.item < r.item
  GROUP BY 1, 2
)
SELECT item1, item2, n_pair,
       i1.n_items AS n_i, i2.n_items AS n_j,
       CAST(n_pair * 1000000 // (SELECT n FROM ng) AS BIGINT)
         AS support_ppm,
       CAST(CAST(n_pair AS HUGEINT) * (SELECT n FROM ng) * 1000000
            // (CAST(i1.n_items AS HUGEINT) * i2.n_items) AS BIGINT)
         AS lift_micro
FROM p
JOIN it i1 ON i1.item = p.item1
JOIN it i2 ON i2.item = p.item2
"""

    # value runs: the classic double-rank island difference
    out["profile_value_runs"] = """
WITH s AS (
  SELECT o_custkey AS k, o_orderkey AS o, o_orderstatus AS v,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderkey)
         - row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                              ORDER BY o_orderkey) AS isl
  FROM orders
)
SELECT k AS o_custkey, v AS value,
       min(o) AS run_start, max(o) AS run_end,
       CAST(count(*) AS BIGINT) AS run_len
FROM s GROUP BY k, v, isl
"""

    # changepoint: resample replay (events_anomalies CTEs) + cumsum +
    # single-division statistic + (stat DESC, t ASC) argmax
    out["profile_changepoint"] = """
WITH agg AS (
  SELECT event_type, epoch_us(ts) // 21600000000 AS b,
         COUNT(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
span AS (SELECT event_type, MIN(b) AS b0, MAX(b) AS b1 FROM agg GROUP BY 1),
grid AS (SELECT event_type, unnest(generate_series(b0, b1)) AS b FROM span),
series AS (
  SELECT g.event_type, g.b * 21600000000 AS bucket_start_us,
         COALESCE(a.n_events, 0) AS n_events
  FROM grid g LEFT JOIN agg a
    ON a.event_type IS NOT DISTINCT FROM g.event_type AND a.b = g.b
),
st AS (
  SELECT event_type, bucket_start_us,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY bucket_start_us) AS t,
         CAST(SUM(CAST(floor(coalesce(n_events, 0) * 1000000) AS BIGINT))
              OVER (PARTITION BY event_type ORDER BY bucket_start_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(CAST(floor(coalesce(n_events, 0) * 1000000) AS BIGINT))
              OVER (PARTITION BY event_type) AS BIGINT) AS total,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM series
),
sc AS (
  SELECT event_type, t, bucket_start_us,
         CAST(abs(CAST(cum AS HUGEINT) * n - CAST(t AS HUGEINT) * total)
              * 1000000 // (CAST(total AS HUGEINT) * n) AS BIGINT)
           AS stat
  FROM st WHERE total > 0
)
SELECT event_type, CAST(t AS BIGINT) AS split_idx,
       bucket_start_us AS split_ord, stat AS stat_ppm
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY stat DESC, t ASC) AS rn
  FROM sc
) WHERE rn = 1
"""

    # Gini: rank-formula replay; ties need no tiebreak (permuting
    # equal values leaves the rank-weighted sum unchanged)
    out["profile_gini"] = """
WITH c AS (
  SELECT CAST(count(*) AS DOUBLE) AS v FROM events GROUP BY user_id
),
v AS (
  SELECT CAST(floor(v * 1000000) AS BIGINT) AS vm
  FROM c WHERE v IS NOT NULL
),
r AS (SELECT vm, row_number() OVER (ORDER BY vm) AS rn FROM v),
a AS (
  SELECT count(*) AS n, SUM(CAST(vm AS HUGEINT)) AS s,
         SUM(CAST(rn AS HUGEINT) * vm) AS t
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(coalesce(s, 0) AS BIGINT) AS total_micro,
       CAST(CASE WHEN n <= 1 OR coalesce(s, 0) <= 0 THEN 0
                 ELSE (2 * t - (CAST(n AS HUGEINT) + 1) * s) * 1000000
                      // (CAST(n AS HUGEINT) * s) END AS BIGINT)
         AS gini_ppm
FROM a
"""

    # new-users curve: first-seen rollup + zero-filled grid + window
    # running sum
    out["events_new_users"] = """
WITH f AS (
  SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS d
  FROM events WHERE ts IS NOT NULL GROUP BY 1
),
dd AS (SELECT d, CAST(count(*) AS BIGINT) AS n_new FROM f GROUP BY 1),
span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM dd),
grid AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
g AS (
  SELECT grid.day, COALESCE(dd.n_new, 0) AS n_new
  FROM grid LEFT JOIN dd ON dd.d = grid.day
)
SELECT day, n_new,
       CAST(SUM(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_cumulative
FROM g
"""

    # k-anonymity: plain grouped counts with a 0/1 threshold flag
    out["normalize_kanonymity"] = """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
       CAST(CASE WHEN count(*) >= 50 THEN 1 ELSE 0 END AS BIGINT)
         AS meets_k
FROM customer
GROUP BY 1, 2
"""

    # value clustering: fingerprint replay (ASCII-alnum split,
    # list_sort = Spark array_sort for strings), argmax via
    # row_number (n_rows DESC, value ASC)
    out["normalize_value_clusters"] = """
WITH v AS (
  SELECT CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment) || '.'
              WHEN c_custkey % 3 = 1 THEN c_mktsegment
              ELSE ' ' || c_mktsegment || ' ,' END AS value
  FROM customer
),
keyed AS (
  SELECT array_to_string(list_sort(list_distinct(list_filter(
           regexp_split_to_array(lower(trim(value)), '[^a-z0-9]+'),
           x -> x != ''))), ' ') AS cluster_key,
         value
  FROM v WHERE value IS NOT NULL
),
counted AS (
  SELECT cluster_key, value, CAST(count(*) AS BIGINT) AS n_rows
  FROM keyed WHERE cluster_key != '' GROUP BY 1, 2
),
ranked AS (
  SELECT cluster_key, value, n_rows,
         CAST(count(*) OVER (PARTITION BY cluster_key) AS BIGINT)
           AS n_values,
         row_number() OVER (PARTITION BY cluster_key
                            ORDER BY n_rows DESC, value ASC) AS rn
  FROM counted
),
per_key AS (
  SELECT cluster_key, n_values, value AS canonical
  FROM ranked WHERE rn = 1 AND n_values >= 2
)
SELECT c.cluster_key, c.value, c.n_rows, p.n_values, p.canonical
FROM counted c JOIN per_key p USING (cluster_key)
"""

    # BFS: 3 inlined level-synchronous rounds over the clique+bridge
    # graph — frontier neighbour join, NOT IN the visited union (ids
    # are never NULL, so NOT IN is safe)
    _bfs_rounds = []
    for _i in range(1, 4):
        _vis = " UNION ALL ".join(
            f"SELECT id FROM f{_j}" for _j in range(_i)
        )
        _bfs_rounds.append(
            f"f{_i} AS MATERIALIZED (SELECT DISTINCT sym.d AS id "
            f"FROM sym JOIN f{_i - 1} ON sym.s = f{_i - 1}.id "
            f"WHERE sym.d NOT IN ({_vis}))"
        )
    _bfs_final = " UNION ALL ".join(
        f"SELECT id, CAST({_j} AS BIGINT) AS hops FROM f{_j}"
        for _j in range(4)
    )
    out["graph_bfs"] = (
        """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
sym AS MATERIALIZED (
  SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0
),
f0 AS MATERIALIZED (
  SELECT DISTINCT c_custkey AS id FROM customer WHERE c_custkey % 20 = 0
),
"""
        + ",\n".join(_bfs_rounds)
        + "\n"
        + _bfs_final
    )

    # RFM: rank replay with row_number over the same total orders;
    # scalar subqueries for the corpus max date and user count;
    # integer-div tiles (// binds like * in DuckDB, left-assoc)
    out["events_rfm"] = """
WITH pu AS (
  SELECT user_id,
         CAST((SELECT CAST(max(ts) AS DATE) FROM events
               WHERE user_id IS NOT NULL AND ts IS NOT NULL)
              - CAST(max(ts) AS DATE) AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(floor(coalesce(value, 0) * 1000000) AS BIGINT))
              AS BIGINT) AS monetary_micro
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id
),
rr AS (
  SELECT *,
         row_number() OVER (ORDER BY recency_days, user_id) AS rn_r,
         row_number() OVER (ORDER BY frequency, user_id) AS rn_f,
         row_number() OVER (ORDER BY monetary_micro, user_id) AS rn_m,
         (SELECT count(*) FROM pu) AS n
  FROM pu
),
sc AS (
  SELECT user_id, recency_days, frequency, monetary_micro,
         CAST(5 - ((rn_r - 1) * 4 // n + 1) AS BIGINT) AS r_score,
         CAST((rn_f - 1) * 4 // n + 1 AS BIGINT) AS f_score,
         CAST((rn_m - 1) * 4 // n + 1 AS BIGINT) AS m_score
  FROM rr
)
SELECT user_id, recency_days, frequency, monetary_micro,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3
            THEN 'champion'
            WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'
            WHEN r_score >= 3 THEN 'recent'
            WHEN f_score >= 3 THEN 'at_risk'
            ELSE 'dormant' END AS segment
FROM sc
"""

    # interval overlap: DuckDB plans the inequality pair directly
    # (IEJoin) — the independent characterization of the bucketized
    # exactly-once equi-join
    out["join_interval_overlap"] = """
WITH a AS (
  SELECT (o_custkey % 2000) AS k, o_orderkey AS aid,
         (o_orderkey * 7) % 10000 AS s,
         (o_orderkey * 7) % 10000 + (o_orderkey % 13) AS e
  FROM orders WHERE o_orderkey % 2 = 0
),
b AS (
  SELECT (o_custkey % 2000) AS k, o_orderkey AS bid,
         (o_orderkey * 11) % 10000 AS s,
         (o_orderkey * 11) % 10000 + (o_orderkey % 17) AS e
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT a.k AS k, a.aid, a.s AS a_start, a.e AS a_end,
       b.bid, b.s AS b_start, b.e AS b_end
FROM a JOIN b ON a.k = b.k AND a.s <= b.e AND b.s <= a.e
"""

    # positional phrase replay: zipped lateral unnest gives (token,
    # pos); base = pos - slot; a base covered by BOTH slots of the
    # repeated-term phrase is one (possibly overlapping) occurrence
    out["text_search_phrase"] = (
        """
WITH base AS (
  SELECT doc_id, """
        + _TOK_SQL.format(col="text")
        + """ AS arr FROM documents
),
toks AS (
  SELECT b.doc_id, u.tok AS token, u.p - 1 AS pos
  FROM base b, LATERAL (
    SELECT unnest(b.arr) AS tok, unnest(range(1, len(b.arr) + 1)) AS p
  ) u
),
tagged AS (
  SELECT t.doc_id, t.pos - s.k AS base, s.k
  FROM toks t
  JOIN (SELECT 0 AS k, 'batch' AS term
        UNION ALL SELECT 1, 'batch') s ON t.token = s.term
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches FROM (
  SELECT doc_id, base FROM tagged
  GROUP BY doc_id, base HAVING count(DISTINCT k) = 2
) GROUP BY doc_id
"""
    )

    # weighted rendezvous: 8 virtual nodes (weights 3/2/1/1/1), argmax
    # md5(key:shard:rep) with (h DESC, shard DESC) matching Spark's
    # array_max struct order on md5 ties
    out["io_rendezvous_shards"] = """
WITH v(shard, rep) AS (
  VALUES (0,0),(0,1),(0,2),(1,0),(1,1),(2,0),(3,0),(4,0)
),
sc AS (
  SELECT d.doc_id, v.shard,
         md5(CAST(d.doc_id AS VARCHAR) || ':' || v.shard || ':' || v.rep) AS h
  FROM documents d CROSS JOIN v
)
SELECT doc_id, CAST(shard AS INTEGER) AS shard FROM (
  SELECT doc_id, shard,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY h DESC, shard DESC) AS rn
  FROM sc
) WHERE rn = 1
"""

    out["streaming_distinct_users"] = """
SELECT CAST(make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS VARCHAR)
         AS window_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events WHERE ts IS NOT NULL GROUP BY 1
"""

    out["blocking_key_report"] = """
WITH src AS (
  SELECT c_custkey, c_nationkey AS nation,
         CASE WHEN c_custkey % 11 != 0 THEN c_mktsegment END AS segment
  FROM customer
),
nat AS (
  SELECT nation AS k, COUNT(*) AS n FROM src
  WHERE nation IS NOT NULL GROUP BY 1
),
seg AS (
  SELECT segment AS k, COUNT(*) AS n FROM src
  WHERE segment IS NOT NULL GROUP BY 1
),
stats AS (
  SELECT 'nation' AS key,
         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM src
          WHERE nation IS NULL) AS n_null,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(COALESCE(MAX(n), 0) AS BIGINT) AS max_block,
         CAST(CAST(SUM(CAST(n AS DECIMAL(19,0))
                        * (CAST(n AS DECIMAL(19,0)) - 1)) AS DECIMAL(38,0))
              / 2 AS BIGINT) AS self_pairs
  FROM nat
  UNION ALL
  SELECT 'segment',
         CAST(COALESCE(SUM(n), 0) AS BIGINT),
         (SELECT CAST(COUNT(*) AS BIGINT) FROM src
          WHERE segment IS NULL),
         CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(MAX(n), 0) AS BIGINT),
         CAST(CAST(SUM(CAST(n AS DECIMAL(19,0))
                        * (CAST(n AS DECIMAL(19,0)) - 1)) AS DECIMAL(38,0))
              / 2 AS BIGINT)
  FROM seg
)
SELECT key, n_rows, n_null, n_blocks, max_block, self_pairs,
       CAST(self_pairs IS NOT NULL AND self_pairs <= 200000 AS INT)
         AS within_budget
FROM stats
"""

    out["normalize_encode"] = """
WITH pri AS (
  SELECT o_orderpriority AS v, COUNT(*) AS c FROM orders
  WHERE o_orderpriority IS NOT NULL GROUP BY 1
),
pri_code AS (
  SELECT v, CAST(row_number() OVER (ORDER BY c DESC, v ASC) - 1 AS INT)
         AS code
  FROM pri
),
st AS (
  SELECT o_orderstatus AS v, CAST(COUNT(*) AS BIGINT) AS c FROM orders
  WHERE o_orderstatus IS NOT NULL GROUP BY 1
)
SELECT o.o_orderkey,
       COALESCE(p.code, -1) AS pri_code,
       CAST(COALESCE(s.c, 0) AS BIGINT) AS status_freq
FROM orders o
LEFT JOIN pri_code p ON p.v = o.o_orderpriority
LEFT JOIN st s ON s.v = o.o_orderstatus
"""

    out["profile_histogram"] = """
WITH b AS (SELECT MIN(CAST(o_totalprice AS DOUBLE)) AS lo,
                  MAX(CAST(o_totalprice AS DOUBLE)) AS hi FROM orders),
assigned AS (
  SELECT CASE WHEN x IS NULL THEN -1
              WHEN x < lo THEN -2
              WHEN x > hi THEN 16
              WHEN x = hi THEN 15
              ELSE CAST(floor((x - lo) * CAST(16 AS DOUBLE) / (hi - lo))
                        AS INT)
         END AS bucket
  FROM (SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders), b
),
counts AS (SELECT bucket, COUNT(*) AS n FROM assigned GROUP BY 1),
grid AS (SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS bucket)
SELECT g.bucket, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN counts c USING (bucket)
UNION ALL
SELECT bucket, CAST(n AS BIGINT) FROM counts
WHERE bucket < 0 OR bucket >= 16
"""

    out["events_active_users"] = """
WITH ud AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
            FROM events WHERE ts IS NOT NULL),
span AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
fanned AS (SELECT u, unnest(generate_series(d, least(d + 6, d1))) AS day
           FROM ud, span),
counts AS (SELECT day, COUNT(DISTINCT u) AS n_active FROM fanned GROUP BY 1),
grid AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span)
SELECT g.day, CAST(COALESCE(c.n_active, 0) AS BIGINT) AS n_active
FROM grid g LEFT JOIN counts c USING (day)
"""

    out["events_attribution"] = """
WITH conv AS (
  SELECT user_id AS u, event_id AS conversion_id, ts AS cts
  FROM events WHERE event_type = 'purchase'
    AND event_id IS NOT NULL AND ts IS NOT NULL
),
touch AS (
  SELECT user_id AS u, event_id AS touch_id, ts AS tts
  FROM events WHERE event_type IN ('click', 'view')
    AND event_id IS NOT NULL AND ts IS NOT NULL
),
pairs AS (
  SELECT c.u, c.conversion_id, t.touch_id, t.tts
  FROM conv c LEFT JOIN touch t
    ON t.u = c.u AND t.tts <= c.cts AND t.tts > c.cts - INTERVAL 24 HOURS
),
ranked AS (
  SELECT u, conversion_id, touch_id,
         row_number() OVER (PARTITION BY u, conversion_id
                            ORDER BY tts ASC, touch_id ASC) AS rk,
         count(touch_id) OVER (PARTITION BY u, conversion_id) AS n
  FROM pairs
)
SELECT u AS user_id, COALESCE(touch_id, -1) AS touch_id, conversion_id,
       CAST(CASE WHEN n = 0 THEN 1000000
                 ELSE 1000000 // n
                      + CASE WHEN rk <= 1000000 % n THEN 1 ELSE 0 END
            END AS BIGINT) AS credit_ppm
FROM ranked
"""

    out["events_resample"] = """
WITH agg AS (
  SELECT event_type, epoch_us(ts) // 21600000000 AS b,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
              AS BIGINT) AS value_micro
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
span AS (SELECT event_type, MIN(b) AS b0, MAX(b) AS b1 FROM agg GROUP BY 1),
grid AS (SELECT event_type, unnest(generate_series(b0, b1)) AS b FROM span)
SELECT g.event_type, g.b * 21600000000 AS bucket_start_us,
       COALESCE(a.n_events, 0) AS n_events,
       COALESCE(a.value_micro, 0) AS value_micro
FROM grid g LEFT JOIN agg a ON a.event_type IS NOT DISTINCT FROM g.event_type AND a.b = g.b
"""

    # the median CTE shape (histogram + (n+1) div 2 rank) appears twice:
    # once for the series median, once for the MAD
    out["events_anomalies"] = """
WITH agg AS (
  SELECT event_type, epoch_us(ts) // 21600000000 AS b, COUNT(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
span AS (SELECT event_type, MIN(b) AS b0, MAX(b) AS b1 FROM agg GROUP BY 1),
grid AS (SELECT event_type, unnest(generate_series(b0, b1)) AS b FROM span),
series AS (
  SELECT g.event_type, g.b * 21600000000 AS bucket_start_us,
         COALESCE(a.n_events, 0) AS n_events
  FROM grid g LEFT JOIN agg a ON a.event_type IS NOT DISTINCT FROM g.event_type AND a.b = g.b
),
medcum AS (
  SELECT event_type, val,
         SUM(c) OVER (PARTITION BY event_type ORDER BY val ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM (SELECT event_type, n_events AS val, COUNT(*) AS c
        FROM series GROUP BY 1, 2)
),
med AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN val END) AS median
  FROM medcum GROUP BY 1
),
dev AS (
  SELECT s.event_type, s.bucket_start_us, s.n_events, m.median,
         abs(s.n_events - m.median) AS d
  FROM series s JOIN med m USING (event_type)
),
madcum AS (
  SELECT event_type, val,
         SUM(c) OVER (PARTITION BY event_type ORDER BY val ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM (SELECT event_type, d AS val, COUNT(*) AS c FROM dev GROUP BY 1, 2)
),
mad AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= (n + 1) // 2 THEN val END) AS mad
  FROM madcum GROUP BY 1
)
SELECT dev.event_type, dev.bucket_start_us, dev.n_events, dev.median,
       mad.mad,
       CAST(CASE WHEN dev.d * 1 > 2 * mad.mad THEN 1 ELSE 0 END AS INT)
         AS is_anomaly
FROM dev JOIN mad USING (event_type)
"""

    out["io_compaction_plan"] = """
WITH files AS (
  SELECT 'part-' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS path,
         CAST((s_suppkey * 7919) % 100000 AS BIGINT) AS size_bytes
  FROM supplier
),
small AS (
  SELECT path, size_bytes,
         COALESCE(SUM(size_bytes) OVER (ORDER BY path ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM files WHERE size_bytes < 60000
)
SELECT path, size_bytes, CAST(cum // 60000 AS INT) AS bin FROM small
UNION ALL
SELECT path, size_bytes, CAST(NULL AS INT) AS bin
FROM files WHERE size_bytes >= 60000
"""

    out["sample_mixture_plan"] = """
WITH avail AS (
  SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS available
  FROM documents GROUP BY 1
),
w AS (
  SELECT source, available,
         CASE source WHEN 'src0' THEN 400000 WHEN 'src1' THEN 300000
                     WHEN 'src2' THEN 200000 WHEN 'src3' THEN 100000
                     ELSE 0 END AS weight_ppm
  FROM avail
),
q AS (
  SELECT source, available, weight_ppm,
         CAST(CAST(50000 AS BIGINT) * weight_ppm // 1000000 AS BIGINT)
           AS quota
  FROM w
)
SELECT source, available, weight_ppm, quota,
       CAST(CASE WHEN available > 0
                 THEN quota * CAST(1000 AS BIGINT) // available
                 ELSE 0 END AS BIGINT) AS epochs_milli
FROM q
"""

    # the md5-fraction keep rule replays exactly like temperature_mix's
    out["sample_epoch_expand"] = """
WITH d AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 1000
                     WHEN 'src2' THEN 300 ELSE 0 END AS em,
         list_sum([(strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                   * 16.0 ** (8 - i) for i in range(1, 9)])
         / 4294967296.0 AS frac
  FROM documents
)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, em // 1000)) AS INT) AS epoch
FROM d WHERE em // 1000 >= 1
UNION ALL
SELECT doc_id, source, CAST(em // 1000 + 1 AS INT) AS epoch
FROM d WHERE em % 1000 > 0 AND frac < CAST(em % 1000 AS DOUBLE) / 1000.0
"""

    out["eval_ari"] = """
WITH p AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
                  CAST(o_custkey AS VARCHAR) AS pc FROM orders),
g AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
             CAST(CASE WHEN o_orderkey % 7 = 0 THEN -1
                       ELSE o_custkey END AS VARCHAR) AS gc FROM orders),
cont AS (SELECT pc, gc, COUNT(*) AS n FROM p JOIN g USING (id)
         GROUP BY 1, 2),
sij AS (SELECT CAST(SUM(n * (n - 1)) AS BIGINT) AS s_ij,
               CAST(SUM(n) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT pc) AS BIGINT) AS kp,
               CAST(COUNT(DISTINCT gc) AS BIGINT) AS kg
        FROM cont),
sa AS (SELECT CAST(SUM(a * (a - 1)) AS BIGINT) AS s_a
       FROM (SELECT SUM(n) AS a FROM cont GROUP BY pc)),
sb AS (SELECT CAST(SUM(b * (b - 1)) AS BIGINT) AS s_b
       FROM (SELECT SUM(n) AS b FROM cont GROUP BY gc)),
j AS (SELECT n, kp, kg,
             -- num/den formed in DOUBLE space over the exact bigint
             -- statistics: C2*S_a alone overflows int64 at sf0.1
             CAST(2 AS DOUBLE) * (CAST(n * (n - 1) AS DOUBLE)
                                    * CAST(s_ij AS DOUBLE)
                                  - CAST(s_a AS DOUBLE)
                                    * CAST(s_b AS DOUBLE)) AS num,
             CAST(n * (n - 1) AS DOUBLE)
               * (CAST(s_a AS DOUBLE) + CAST(s_b AS DOUBLE))
             - CAST(2 AS DOUBLE) * CAST(s_a AS DOUBLE)
               * CAST(s_b AS DOUBLE) AS den
      FROM sij, sa, sb)
SELECT n, kp AS n_pred_clusters, kg AS n_gold_clusters,
       CAST(floor((CASE WHEN den != 0 THEN num / den END) * 1000000)
            AS BIGINT) AS ari_micro
FROM j
"""

    out["eval_calibration"] = f"""
WITH corr AS (SELECT id1, id2, round(score, 6) AS score
              FROM ({_RULE_CORR_SQL})),
gold AS (
  SELECT CAST(s_suppkey AS VARCHAR) AS id1, CAST(c_custkey AS VARCHAR) AS id2,
         CASE WHEN abs(s_acctbal - c_acctbal) < 2000 THEN 1 ELSE 0 END AS lbl
  FROM supplier JOIN customer ON s_nationkey = c_nationkey
),
b AS (
  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bucket,
         CAST(COALESCE(g.lbl, 0) AS BIGINT) AS lab
  FROM corr c LEFT JOIN gold g USING (id1, id2)
)
SELECT bucket, COUNT(*) AS n, CAST(SUM(lab) AS BIGINT) AS n_pos,
       CAST(SUM(lab) * CAST(1000000 AS BIGINT) // COUNT(*) AS BIGINT)
         AS precision_ppm,
       CAST(bucket * CAST(1000000 AS BIGINT) // 10 AS BIGINT)
         AS bucket_lo_ppm
FROM b GROUP BY bucket
"""

    out["profile_null_patterns"] = """
WITH base AS (
  SELECT CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS qty,
         CASE WHEN l_orderkey % 11 = 0 THEN NULL ELSE l_discount END AS disc,
         CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_returnflag END AS flag
  FROM lineitem
),
counts AS (
  SELECT CAST((CASE WHEN qty IS NULL THEN 1 ELSE 0 END)
            + (CASE WHEN disc IS NULL THEN 2 ELSE 0 END)
            + (CASE WHEN flag IS NULL THEN 4 ELSE 0 END) AS BIGINT)
           AS pattern,
         COUNT(*) AS n
  FROM base GROUP BY 1
),
tot AS (SELECT SUM(n) AS t FROM counts)
SELECT pattern,
       concat_ws(',',
         CASE WHEN pattern & 1 != 0 THEN 'qty' END,
         CASE WHEN pattern & 2 != 0 THEN 'disc' END,
         CASE WHEN pattern & 4 != 0 THEN 'flag' END) AS null_cols,
       CAST(n AS BIGINT) AS n,
       CAST(n * CAST(1000000 AS BIGINT) // t AS BIGINT) AS share_ppm
FROM counts, tot
"""

    out["normalize_canonicalize"] = """
WITH RECURSIVE vals AS (
  SELECT DISTINCT
    substr(md5(CAST(c_custkey // 5 AS VARCHAR)), 1, 8)
      || ['', 'a', 'b', 'z', 'aa'][CAST(c_custkey % 5 + 1 AS INT)] AS value
  FROM customer
),
pairs AS (
  SELECT a.value AS v1, b.value AS v2
  FROM vals a, vals b
  WHERE a.value < b.value AND levenshtein(a.value, b.value) <= 1
),
sym AS (SELECT v1 AS a, v2 AS b FROM pairs
        UNION ALL SELECT v2, v1 FROM pairs),
walk(id, lbl) AS (
  SELECT value, value FROM vals
  UNION
  SELECT s.b, w.lbl FROM walk w JOIN sym s ON s.a = w.id
),
comp AS (SELECT id AS value, min(lbl) AS canonical FROM walk GROUP BY id),
sizes AS (SELECT canonical, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY 1)
SELECT c.value, c.canonical, s.cluster_size
FROM comp c JOIN sizes s USING (canonical)
"""

    out["profile_sequence_gaps"] = """
WITH vals AS (
  SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS v FROM orders
  WHERE o_orderkey IS NOT NULL AND o_orderkey % 97 NOT IN (3, 5, 11)
),
led AS (SELECT v, lead(v) OVER (ORDER BY v ASC) AS n FROM vals)
SELECT v + 1 AS gap_start, n - 1 AS gap_end, n - v - 1 AS n_missing
FROM led WHERE n > v + 1
"""

    # full Lloyd replay (init = 4 lowest-id vectors, ONE iteration):
    # micro-int quantization makes every stage exact — dist2 is an
    # integer sum, the centroid update floor((2S+n)/(2n)) has |2S+n|
    # < 2^53 so the double division is correctly rounded and cannot
    # cross an integer boundary (nearest non-integer value of the
    # rational is 1/(2n) away, ~9 orders above the quotient's ulp)
    out["embed_kmeans"] = """
WITH micro AS (
  SELECT vec_id AS id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM embeddings
),
u AS (
  SELECT id,
         CAST(unnest(generate_series(1, len(v))) AS INT) AS g,
         unnest(v) AS val
  FROM micro
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY id ASC) - 1 AS INT) AS cluster, id
  FROM (SELECT id FROM micro ORDER BY id ASC LIMIT 4)
),
c0 AS (
  SELECT s.cluster, u.g, u.val AS cval
  FROM seeds s JOIN u ON u.id = s.id
),
d0 AS (
  SELECT u.id, c.cluster,
         SUM((u.val - c.cval) * (u.val - c.cval)) AS dist2
  FROM u JOIN c0 c ON u.g = c.g
  GROUP BY u.id, c.cluster
),
a0 AS (
  SELECT id, cluster FROM (
    SELECT id, cluster,
           row_number() OVER (PARTITION BY id
                              ORDER BY dist2 ASC, cluster ASC) AS rk
    FROM d0
  ) WHERE rk = 1
),
upd AS (
  SELECT a.cluster, u.g,
         CAST(floor((2.0 * CAST(SUM(u.val) AS DOUBLE) + COUNT(*))
                    / (2.0 * COUNT(*))) AS BIGINT) AS cval
  FROM a0 a JOIN u ON u.id = a.id
  GROUP BY a.cluster, u.g
),
c1 AS (
  SELECT c0.cluster, c0.g, COALESCE(upd.cval, c0.cval) AS cval
  FROM c0 LEFT JOIN upd ON upd.cluster = c0.cluster AND upd.g = c0.g
),
d1 AS (
  SELECT u.id, c.cluster,
         SUM((u.val - c.cval) * (u.val - c.cval)) AS dist2
  FROM u JOIN c1 c ON u.g = c.g
  GROUP BY u.id, c.cluster
)
SELECT id, cluster, CAST(dist2 AS BIGINT) AS dist2 FROM (
  SELECT id, cluster, dist2,
         row_number() OVER (PARTITION BY id
                            ORDER BY dist2 ASC, cluster ASC) AS rk
  FROM d1
) WHERE rk = 1
"""

    # multimodal dHash: the oracle replays the frozen expected values
    # as a literal table (VERDICT r9 #5 — the phrase_match refusal-style
    # construction for non-SQL-able codec internals). The constants pin
    # the full PNG/JPEG decode -> grayscale -> 9x8 resample -> gradient
    # bit-packing path AND dHash's scale/re-encode invariance (upscaled
    # + JPEG variants == the gradient's hash; checkerboard differs;
    # corrupt payload isolates to phash 0 + error marker).
    out["multimodal_phash"] = """
SELECT media_id,
       CAST(phash AS BIGINT) AS phash,
       decode_ok
FROM (VALUES
  ('img_png_gradient',  -1103840346886,      'ok'),
  ('img_png_checker',   2459565764387545634, 'ok'),
  ('img_png_upscaled',  -1103840346886,      'ok'),
  ('img_jpeg_gradient', -1103840346886,      'ok'),
  ('img_corrupt',       0,                   'error: ValueError')
) AS t(media_id, phash, decode_ok)
"""

    # modularity: independent replay over the clique+bridge edge CTE —
    # degrees, intra-community edges, and the exact integer identity
    # sum_c(2*e_c*D - d_c^2) = 2*D*E_in - sum(d_c^2); every SUM cast to
    # BIGINT (the r3 HUGEINT rule); q is the ONE double division of two
    # exact integers
    out["graph_modularity"] = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
cm AS (
  SELECT id, CAST(n AS VARCHAR) || ':' || CAST(blk AS VARCHAR) AS c FROM r
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0
  ) GROUP BY v
),
dj AS (
  SELECT deg.v, deg.d, cm.c FROM deg JOIN cm ON cm.id = deg.v
),
percs AS (
  SELECT c, CAST(SUM(d) AS BIGINT) AS dc,
         CAST(count(*) AS BIGINT) AS nv
  FROM dj GROUP BY c
),
ein AS (
  SELECT CAST(COALESCE(count(*), 0) AS BIGINT) AS e_in
  FROM e0
  JOIN cm ca ON ca.id = e0.a
  JOIN cm cb ON cb.id = e0.b
  WHERE ca.c = cb.c
),
tot AS (
  SELECT CAST(SUM(nv) AS BIGINT) AS n_nodes,
         CAST(count(*) AS BIGINT) AS n_communities,
         CAST(SUM(dc) AS BIGINT) AS big_d,
         CAST(SUM(dc * dc) AS BIGINT) AS sd2
  FROM percs
)
SELECT n_nodes, n_communities,
       CAST(big_d // 2 AS BIGINT) AS m_edges,
       CAST(2 * e_in * big_d - sd2 AS BIGINT) AS q_num,
       CAST(big_d * big_d AS BIGINT) AS q_den,
       CAST(CAST(2 * e_in * big_d - sd2 AS BIGINT) AS DOUBLE)
         / CAST(CAST(big_d * big_d AS BIGINT) AS DOUBLE) AS q
FROM tot, ein
"""

    # feature propagation: 2 inlined rounds of the self-inclusive
    # neighbour mean — non-negative values by construction (offset
    # cents), so // (floor) and Spark div (truncate) agree
    out["graph_feature_prop"] = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
sym AS MATERIALIZED (
  SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0
),
x0 AS (
  SELECT c_custkey AS id,
         CAST(floor(c_acctbal * 100) AS BIGINT) + 100000 AS x
  FROM customer
),
a1 AS (
  SELECT sym.d AS id, CAST(SUM(x0.x) AS BIGINT) AS nsum,
         CAST(count(*) AS BIGINT) AS ncnt
  FROM sym JOIN x0 ON x0.id = sym.s GROUP BY sym.d
),
x1 AS MATERIALIZED (
  SELECT x0.id,
         CAST((x0.x + COALESCE(a1.nsum, 0))
              // (1 + COALESCE(a1.ncnt, 0)) AS BIGINT) AS x
  FROM x0 LEFT JOIN a1 ON a1.id = x0.id
),
a2 AS (
  SELECT sym.d AS id, CAST(SUM(x1.x) AS BIGINT) AS nsum,
         CAST(count(*) AS BIGINT) AS ncnt
  FROM sym JOIN x1 ON x1.id = sym.s GROUP BY sym.d
)
SELECT x1.id, CAST((x1.x + COALESCE(a2.nsum, 0))
                   // (1 + COALESCE(a2.ncnt, 0)) AS BIGINT) AS value_micro
FROM x1 LEFT JOIN a2 ON a2.id = x1.id
"""

    # assortativity: symmetric-marginal Pearson over edge endpoint
    # degrees — no sqrt (the marginals coincide), every SUM cast to
    # BIGINT, one final double division
    out["graph_assortativity"] = """
WITH r AS (
  SELECT c_custkey AS id, c_nationkey AS n,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_custkey) AS rk,
         (row_number() OVER (PARTITION BY c_nationkey
                             ORDER BY c_custkey) - 1) // 4 AS blk
  FROM customer
),
e0 AS MATERIALIZED (
  SELECT LEAST(a.id, b.id) AS a, GREATEST(a.id, b.id) AS b
  FROM r a JOIN r b ON a.n = b.n AND a.blk = b.blk AND b.rk > a.rk
  UNION
  SELECT LEAST(a.id, b.id), GREATEST(a.id, b.id)
  FROM r a JOIN r b ON a.n = b.n AND b.rk - a.rk = 4
),
sym AS (
  SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0
),
deg AS MATERIALIZED (
  SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM e0 UNION ALL SELECT b FROM e0
  ) GROUP BY v
),
j AS (
  SELECT ds.d AS x, dd.d AS y
  FROM sym JOIN deg ds ON ds.v = sym.s JOIN deg dd ON dd.v = sym.d
),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS big_m,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2,
         CAST(SUM(x * y) AS BIGINT) AS p
  FROM j
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes,
       CAST(big_m // 2 AS BIGINT) AS m_edges,
       CAST(big_m * p - s1 * s1 AS BIGINT) AS r_num,
       CAST(big_m * s2 - s1 * s1 AS BIGINT) AS r_den,
       CAST(CASE WHEN big_m * s2 - s1 * s1 = 0 THEN 0.0
            ELSE CAST(CAST(big_m * p - s1 * s1 AS BIGINT) AS DOUBLE)
               / CAST(CAST(big_m * s2 - s1 * s1 AS BIGINT) AS DOUBLE) END
            AS DOUBLE) AS r
FROM a, nn
"""

    # Lorenz: arbitrary-tie row_number replay — tied rows carry equal
    # values so bucket sums/counts are tie-order-free; integer ppm via
    # one non-negative division per bucket
    out["profile_lorenz"] = """
WITH pc AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
),
v AS (SELECT CAST(floor(cnt * 1000000) AS BIGINT) AS vm FROM pc),
rk AS (
  SELECT vm, row_number() OVER (ORDER BY vm) AS rn,
         (SELECT CAST(count(*) AS BIGINT) FROM v) AS nt
  FROM v
),
pb AS (
  SELECT CAST((rn - 1) * 10 // nt + 1 AS BIGINT) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(vm) AS BIGINT) AS bucket_micro
  FROM rk GROUP BY 1
),
c AS (
  SELECT bucket, n, bucket_micro,
         CAST(SUM(bucket_micro) OVER (ORDER BY bucket) AS BIGINT) AS cum,
         CAST(SUM(bucket_micro) OVER () AS BIGINT) AS tot
  FROM pb
)
SELECT bucket, n, bucket_micro,
       CAST(CASE WHEN tot <= 0 THEN 0
            ELSE cum * 1000000 // tot END AS BIGINT) AS cum_value_ppm
FROM c
"""

    # bot report: arbitrary-tie rank replay of the exact gap median —
    # the middle VALUES of the sorted gap multiset are tie-order-free;
    # gaps in integer ms via // 1000 (non-negative: floor == truncate)
    out["events_bots"] = """
WITH base AS (
  SELECT user_id, event_id, ts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER
            (PARTITION BY user_id ORDER BY ts, event_id))) // 1000
           AS gap_ms
  FROM base
),
gg AS (SELECT user_id, CAST(gap_ms AS BIGINT) AS gap_ms FROM g
       WHERE gap_ms IS NOT NULL),
rk AS (
  SELECT user_id, gap_ms,
         row_number() OVER (PARTITION BY user_id ORDER BY gap_ms) AS r,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS m
  FROM gg
),
pu AS (
  SELECT user_id, CAST(max(m) AS BIGINT) AS m,
         CAST(min(CASE WHEN r = (m + 1) // 2 THEN gap_ms END) AS BIGINT) AS lo,
         CAST(min(CASE WHEN r = (m + 2) // 2 THEN gap_ms END) AS BIGINT) AS hi
  FROM rk GROUP BY user_id
)
SELECT user_id,
       CAST(m + 1 AS BIGINT) AS n_events,
       CAST((lo + hi) // 2 AS BIGINT) AS median_gap_ms,
       CAST(CASE WHEN m + 1 >= 10 AND (lo + hi) // 2 <= 3600000
            THEN 1 ELSE 0 END AS BIGINT) AS is_bot
FROM pu
"""

    # systematic PPS: replay the md5 walk, the inclusive running sum,
    # and the floor-crossing hit count (non-negative // == div)
    # loudness parity with the engine (ADVICE r10): the engine REFUSES
    # duplicate ids (the md5 walk can't break exact-id ties); the `dup`
    # CTE makes the oracle error on the same input class instead of
    # silently walking an ill-defined order. Null ids/weights are
    # filtered on both sides (w = length+1 is never NULL for non-null
    # text; doc_id IS NOT NULL mirrors the engine's base filter).
    out["sample_pps"] = """
WITH dup AS (
  SELECT CASE WHEN count(*) > count(DISTINCT doc_id)
         THEN error('sample_pps oracle: duplicate doc_id — the engine refuses this input')
         ELSE 1 END AS ok
  FROM documents WHERE doc_id IS NOT NULL
),
b AS (
  SELECT doc_id, CAST(length(text) + 1 AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents, dup WHERE doc_id IS NOT NULL AND dup.ok = 1
),
c AS (
  SELECT doc_id, w,
         CAST(SUM(w) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS c,
         CAST(SUM(w) OVER () AS BIGINT) AS t
  FROM b
)
SELECT doc_id, w,
       CAST(c * 50 // t - (c - w) * 50 // t AS BIGINT) AS n_hits
FROM c
WHERE c * 50 // t - (c - w) * 50 // t >= 1
"""

    # encoding audit: identical literal alternations + \\x char-class
    # escapes on both engines (Java regex vs RE2 agree on this subset);
    # counts via regexp_extract_all length
    # coverage = count(col)/count(*): int/int division is bit-identical
    # cross-engine (fusion_conflicts precedent); counts stay BIGINT
    out["fusion_coverage"] = """
WITH a AS (
  SELECT o_orderkey,
         CASE WHEN o_totalprice >= 50000 THEN o_totalprice END AS tp,
         nullif(o_orderstatus, 'P') AS st
  FROM orders WHERE o_orderkey % 2 = 0
),
b AS (
  SELECT o_orderkey, o_totalprice AS tp,
         nullif(o_orderpriority, '3-MEDIUM') AS pri
  FROM orders WHERE o_orderkey % 2 = 1
)
SELECT 'orders_even' AS dataset, 'o_orderkey' AS attribute,
       count(o_orderkey) AS non_null, count(*) AS total,
       count(o_orderkey)::DOUBLE / count(*) AS coverage FROM a
UNION ALL
SELECT 'orders_even', 'o_totalprice', count(tp), count(*),
       count(tp)::DOUBLE / count(*) FROM a
UNION ALL
SELECT 'orders_even', 'o_orderstatus', count(st), count(*),
       count(st)::DOUBLE / count(*) FROM a
UNION ALL
SELECT 'orders_odd', 'o_orderkey', count(o_orderkey), count(*),
       count(o_orderkey)::DOUBLE / count(*) FROM b
UNION ALL
SELECT 'orders_odd', 'o_totalprice', count(tp), count(*),
       count(tp)::DOUBLE / count(*) FROM b
UNION ALL
SELECT 'orders_odd', 'o_orderpriority', count(pri), count(*),
       count(pri)::DOUBLE / count(*) FROM b
"""

    # groups = per-customer order chains (the fusion_conflicts
    # construction); timestamp distinctness is injective under the
    # string cast, so count(DISTINCT od) matches the engine's
    # count-distinct-over-string-cast exactly
    out["fusion_conflict_detect"] = """
WITH edges AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) id1,
         CAST(o_orderkey AS VARCHAR) id2, o_custkey
  FROM orders
  QUALIFY id1 IS NOT NULL
),
members AS (
  SELECT DISTINCT o_custkey, id FROM (
    SELECT o_custkey, id1 AS id FROM edges
    UNION ALL SELECT o_custkey, id2 FROM edges
  )
),
grp AS (
  SELECT m.o_custkey g, o.o_orderpriority pri, o.o_orderdate od
  FROM members m JOIN orders o ON CAST(o.o_orderkey AS VARCHAR) = m.id
),
per AS (
  SELECT g,
         count(DISTINCT pri) > 1 AS c_pri,
         count(DISTINCT od) > 1 AS c_od
  FROM grp GROUP BY g
)
SELECT 'o_orderpriority' AS attribute,
       count(*) FILTER (WHERE c_pri) AS conflicting_groups,
       count(*) AS n_groups,
       count(*) FILTER (WHERE c_pri)::DOUBLE / count(*) AS conflict_rate
FROM per
UNION ALL
SELECT 'o_orderdate',
       count(*) FILTER (WHERE c_od), count(*),
       count(*) FILTER (WHERE c_od)::DOUBLE / count(*)
FROM per
"""

    # the dtype branch is static (the orders schema): bigint/double ->
    # average, timestamp -> most_recent; only the string attrs' choice
    # depends on data, via the same chain-group conflict rates
    out["fusion_rule_suggest"] = """
WITH edges AS (
  SELECT CAST(lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS VARCHAR) id1,
         CAST(o_orderkey AS VARCHAR) id2, o_custkey
  FROM orders
  QUALIFY id1 IS NOT NULL
),
members AS (
  SELECT DISTINCT o_custkey, id FROM (
    SELECT o_custkey, id1 AS id FROM edges
    UNION ALL SELECT o_custkey, id2 FROM edges
  )
),
grp AS (
  SELECT m.o_custkey g, o.o_orderstatus st, o.o_orderpriority pri
  FROM members m JOIN orders o ON CAST(o.o_orderkey AS VARCHAR) = m.id
),
rates AS (
  SELECT count(*) FILTER (WHERE c_st)::DOUBLE / count(*) AS r_st,
         count(*) FILTER (WHERE c_pri)::DOUBLE / count(*) AS r_pri
  FROM (
    SELECT g, count(DISTINCT st) > 1 AS c_st,
           count(DISTINCT pri) > 1 AS c_pri
    FROM grp GROUP BY g
  )
)
SELECT 'o_custkey' AS attribute, 'average' AS resolver
UNION ALL SELECT 'o_orderdate', 'most_recent'
UNION ALL SELECT 'o_orderkey', 'average'
UNION ALL SELECT 'o_orderpriority',
  (SELECT CASE WHEN r_pri > 0.3 THEN 'voting' ELSE 'first_non_null' END FROM rates)
UNION ALL SELECT 'o_orderstatus',
  (SELECT CASE WHEN r_st > 0.3 THEN 'voting' ELSE 'first_non_null' END FROM rates)
UNION ALL SELECT 'o_totalprice', 'average'
"""

    # exact-regime MG: domain (25 nations) < k=64, so est == true count
    # and undercount == 0 under any partitioning / Arrow batching
    out["profile_heavy_hitters"] = """
WITH cnt AS (
  SELECT CAST(c_nationkey AS VARCHAR) AS key,
         CAST(count(*) AS BIGINT) AS est_count
  FROM customer GROUP BY 1
)
SELECT key, est_count, CAST(0 AS BIGINT) AS max_undercount,
       CAST(row_number() OVER (ORDER BY est_count DESC, key) AS INT) AS rank
FROM cnt
ORDER BY est_count DESC, key
LIMIT 20
"""

    out["text_encoding"] = """
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(length(regexp_extract_all(text, '\ufffd')) AS BIGINT)
    AS n_replacement,
  CAST(length(regexp_extract_all(text, '[\\x80-\\x9f]')) AS BIGINT)
    AS n_c1,
  CAST(length(regexp_extract_all(text, 'MOJI')) AS BIGINT)
    AS n_mojibake,
  CAST(length(regexp_extract_all(text,
    '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) AS BIGINT) AS n_ctrl,
  CAST(CASE WHEN length(regexp_extract_all(text, '\ufffd'))
         + length(regexp_extract_all(text, '[\\x80-\\x9f]'))
         + length(regexp_extract_all(text, 'MOJI'))
         + length(regexp_extract_all(text,
             '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')) > 0
       THEN 1 ELSE 0 END AS BIGINT) AS enc_flag
FROM documents
""".replace("MOJI", "Ã©|Ã¨|Ã¼|Ã¤|Ã¶|Ã±|Ã¡|Ã³|Ãº|Ã§|â€™|â€œ|â€“|â€”|Â°|Â·|Â ")

    # Hamilton apportionment replay: quota = floor(K*n/N) + 1 for the
    # largest remainders (ties: lang asc), then the md5 per-stratum
    # rank — integer-only until the final BIGINT/INT output casts
    out["sample_proportional"] = """
WITH base AS (
  SELECT doc_id, lang FROM documents
  WHERE doc_id IS NOT NULL AND lang IS NOT NULL
),
c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1),
t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
a AS (
  SELECT lang,
         CAST(120 * n // nn AS BIGINT) AS fl,
         CAST(120 * n % nn AS BIGINT) AS rem
  FROM c, t
),
r AS (
  SELECT lang, fl,
         CAST(row_number() OVER (ORDER BY rem DESC, lang) AS BIGINT)
           AS pos,
         CAST((SELECT 120 - sum(fl) FROM a) AS BIGINT) AS topup
  FROM a
),
k AS (
  SELECT lang,
         CAST(fl + CASE WHEN pos <= topup THEN 1 ELSE 0 END AS BIGINT)
           AS quota
  FROM r
  WHERE fl + CASE WHEN pos <= topup THEN 1 ELSE 0 END > 0
),
s AS (
  SELECT b.doc_id, b.lang,
         row_number() OVER (PARTITION BY b.lang
           ORDER BY substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 12),
                    CAST(b.doc_id AS VARCHAR)) AS rn
  FROM base b
)
SELECT s.doc_id, s.lang, k.quota, CAST(rn AS INT) AS sample_rank
FROM s JOIN k USING (lang) WHERE rn <= quota
"""
    return out
