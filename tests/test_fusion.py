"""Fusion: resolver semantics, engine end-to-end, evaluation."""

import pytest
from pyspark.sql import functions as F

from pydi_spark.core.dataset import Dataset
from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy
from pydi_spark.fusion.evaluation import (
    DataFusionEvaluator,
    boolean_match,
    tokenized_match,
    year_only_match,
)


@pytest.fixture(scope="module")
def fusion_setup(spark):
    d1 = Dataset.wrap(
        spark.createDataFrame(
            [("a1", "The Matrix", 1999, "sci-fi"),
             ("a2", "Heat", 1995, "crime")],
            "rid string, title string, year int, genre string",
        ),
        "src_a", id_column="rid", trust_score=0.9,
    )
    d2 = Dataset.wrap(
        spark.createDataFrame(
            [("b1", "Matrix, The", 1999, "scifi"),
             ("b2", "Heat!", 1996, "crime"),
             ("b3", "Solo Movie", 2000, "indie")],
            "rid string, title string, year int, genre string",
        ),
        "src_b", id_column="rid", trust_score=0.4,
    )
    corr = spark.createDataFrame(
        [("a1", "b1", 1.0), ("a2", "b2", 0.9)], "id1 string, id2 string, score double"
    )
    return [d1, d2], corr


def _fused_map(df, col):
    return {r["_fusion_group_id"]: r[col] for r in df.collect()}


def test_engine_longest_and_trust(fusion_setup):
    datasets, corr = fusion_setup
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("title", "longest_string")
        .add_attribute_fuser("year", "prefer_higher_trust")
        .add_attribute_fuser("genre", "voting")
    )
    fused = DataFusionEngine(strat).run(datasets, corr)
    assert fused.count() == 3  # two merged groups + singleton b3
    titles = _fused_map(fused, "title")
    assert titles["a1"] == "Matrix, The"  # longest
    years = _fused_map(fused, "year")
    assert years["a2"] == 1995  # from higher-trust src_a (type preserved)
    # singleton keeps its own values
    assert titles["b3"] == "Solo Movie"


def test_engine_excludes_singletons(fusion_setup):
    datasets, corr = fusion_setup
    fused = DataFusionEngine(include_singletons=False).run(datasets, corr)
    assert fused.count() == 2


def test_numeric_resolvers(spark):
    ds = Dataset.wrap(
        spark.createDataFrame(
            [("r1", 10.0), ("r2", 20.0), ("r3", 40.0)],
            "rid string, v_avg double",
        ).withColumn("v_sum", F.col("v_avg")).withColumn("v_med", F.col("v_avg")),
        "s", id_column="rid",
    )
    corr = spark.createDataFrame(
        [("r1", "r2", 1.0), ("r2", "r3", 1.0)], "id1 string, id2 string, score double"
    )
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("v_avg", "average")
        .add_attribute_fuser("v_sum", "sum_values")
        .add_attribute_fuser("v_med", "median")
    )
    row = DataFusionEngine(strat).run([ds], corr).collect()[0]
    assert float(row["v_avg"]) == pytest.approx(70 / 3)
    assert float(row["v_sum"]) == pytest.approx(70.0)
    assert float(row["v_med"]) == pytest.approx(20.0)


def test_list_resolvers(spark):
    ds = Dataset.wrap(
        spark.createDataFrame(
            [("r1", ["x", "y"]), ("r2", ["y", "z"]), ("r3", ["y"])],
            "rid string, tags array<string>",
        ).withColumn("tags_i", F.col("tags")).withColumn("tags_k", F.col("tags")),
        "s", id_column="rid",
    )
    corr = spark.createDataFrame(
        [("r1", "r2", 1.0), ("r2", "r3", 1.0)], "id1 string, id2 string, score double"
    )
    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("tags", "union")
        .add_attribute_fuser("tags_i", "intersection")
        .add_attribute_fuser("tags_k", "intersection_k_sources", k=2)
    )
    row = DataFusionEngine(strat).run([ds], corr).collect()[0]
    assert list(row["tags"]) == ["x", "y", "z"]
    assert list(row["tags_i"]) == ["y"]
    assert list(row["tags_k"]) == ["y"]


@pytest.mark.parametrize(
    "resolver", ["voting", "weighted_voting", "longest_string", "most_complete"]
)
def test_array_pick_resolvers_all_null_group(spark, resolver):
    # a group whose values are all null ranks an EMPTY array; element 0
    # of it must be NULL, not an INVALID_ARRAY_INDEX error under ANSI
    ds = Dataset.wrap(
        spark.createDataFrame([("r1", None), ("r2", None)], "rid string, x string"),
        "s", id_column="rid",
    )
    corr = spark.createDataFrame(
        [("r1", "r2", 1.0)], "id1 string, id2 string, score double"
    )
    strat = DataFusionStrategy().add_attribute_fuser("x", resolver)
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = DataFusionEngine(strat).run([ds], corr).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(rows) == 1 and rows[0]["x"] is None


def test_custom_resolver_and_error_fallback(spark):
    ds = Dataset.wrap(
        spark.createDataFrame(
            [("r1", "aa"), ("r2", "bb")], "rid string, x string"
        ).withColumn("y", F.col("x")),
        "s", id_column="rid",
    )
    corr = spark.createDataFrame([("r1", "r2", 1.0)], "id1 string, id2 string, score double")

    def concat_resolver(values, sources=None, trust_map=None):
        return ("+".join(sorted(values)), 0.6)

    def broken(values, sources=None, trust_map=None):
        raise RuntimeError("boom")

    strat = (
        DataFusionStrategy()
        .add_attribute_fuser("x", concat_resolver)
        .add_attribute_fuser("y", broken)
    )
    row = DataFusionEngine(strat).run([ds], corr).collect()[0]
    assert row["x"] == "aa+bb"
    assert row["y"] in ("aa", "bb")  # error fallback: first value, conf 0.1


def test_fusion_evaluator(spark):
    fused = spark.createDataFrame(
        [("f1", "the matrix", "1999-03-31", "yes")],
        "fid string, title string, date string, oscar string",
    )
    gold = spark.createDataFrame(
        [("f1", "Matrix the", "1999-12-01", "true")],
        "fid string, title string, date string, oscar string",
    )
    out = DataFusionEvaluator().evaluate(
        fused, "fid", gold, "fid",
        attribute_match_fns={
            "title": tokenized_match(0.5),
            "date": year_only_match,
            "oscar": boolean_match,
        },
    )
    accs = {r["attribute"]: r["accuracy"] for r in out.collect()}
    assert accs["title"] == 1.0 and accs["date"] == 1.0 and accs["oscar"] == 1.0
    assert accs["__overall__"] == 1.0
