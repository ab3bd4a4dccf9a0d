"""Schema matching: label, instance, duplicate-based + translation."""

import pytest
from pyspark.sql import functions as F

from pydi_spark.core.dataset import Dataset
from pydi_spark.schemamatching import (
    DuplicateBasedSchemaMatcher,
    InstanceBasedSchemaMatcher,
    LabelBasedSchemaMatcher,
    SchemaMappingEvaluator,
)
from pydi_spark.translation import MappingTranslator


@pytest.fixture(scope="module")
def tables(spark):
    src = Dataset.wrap(
        spark.createDataFrame(
            [("s1", "The Matrix", "Wachowski", "1999"),
             ("s2", "Heat", "Mann", "1995"),
             ("s3", "Blade Runner", "Scott", "1982")],
            "sid string, movie_title string, director_name string, release_year string",
        ),
        "src", id_column="sid",
    )
    tgt = Dataset.wrap(
        spark.createDataFrame(
            [("t1", "The Matrix", "Wachowski", "1999"),
             ("t2", "Heat", "Mann", "1995"),
             ("t3", "Alien", "Scott", "1979")],
            "tid string, title string, director string, year string",
        ),
        "tgt", id_column="tid",
    )
    return src, tgt


def mapping_pairs(df):
    return {(r["source_column"], r["target_column"]) for r in df.collect()}


def test_label_based(tables):
    src, tgt = tables
    out = LabelBasedSchemaMatcher("jaccard").match(src, tgt, threshold=0.4)
    ps = mapping_pairs(out)
    assert ("movie_title", "title") in ps
    assert ("director_name", "director") in ps
    assert ("release_year", "year") in ps
    # id columns excluded from matching
    assert not any("sid" in p or "tid" in p for pair in ps for p in pair)


def test_instance_based(tables):
    src, tgt = tables
    out = InstanceBasedSchemaMatcher(similarity_function="cosine").match(
        src, tgt, threshold=0.3
    )
    ps = mapping_pairs(out)
    assert ("movie_title", "title") in ps
    assert ("director_name", "director") in ps
    assert ("release_year", "year") in ps
    assert ("movie_title", "year") not in ps


def test_duplicate_based(spark, tables):
    src, tgt = tables
    corr = spark.createDataFrame(
        [("s1", "t1", 1.0), ("s2", "t2", 1.0)], "id1 string, id2 string, score double"
    )
    out = DuplicateBasedSchemaMatcher(min_votes=2).match(src, tgt, corr, threshold=0.5)
    ps = mapping_pairs(out)
    assert ("movie_title", "title") in ps
    assert ("director_name", "director") in ps
    assert ("release_year", "year") in ps
    assert len(ps) == 3


def test_evaluator_and_translator(spark, tables):
    src, tgt = tables
    pred = LabelBasedSchemaMatcher("jaccard").match(src, tgt, threshold=0.4)
    gold = spark.createDataFrame(
        [("src", "movie_title", "tgt", "title", 1.0, ""),
         ("src", "director_name", "tgt", "director", 1.0, ""),
         ("src", "release_year", "tgt", "year", 1.0, "")],
        "source_dataset string, source_column string, target_dataset string, "
        "target_column string, score double, notes string",
    )
    m = SchemaMappingEvaluator.evaluate(pred, gold)
    assert m["recall"] == 1.0

    translated = MappingTranslator().translate(src, pred)
    assert "title" in translated.df.columns
    assert "director" in translated.df.columns
    assert translated.provenance["operations"][-1]["op"] == "schema_translate"


def _union_term_counts(matcher, df, columns):
    """The matcher's former profile pass, kept as the parity reference:
    a completeness aggregate, a separate count, then one sampled and
    limited union branch per kept column."""
    from collections import Counter

    row = df.agg(*[F.count(F.col(c)).alias(c) for c in columns]).collect()[0]
    total = df.count()
    kept = [c for c in columns
            if (row[c] or 0) / (total or 1) >= matcher.min_non_null_ratio]
    if total > matcher.max_sample_size:
        df = df.sample(
            fraction=min(1.0, matcher.max_sample_size * 1.2 / total), seed=42
        ).limit(matcher.max_sample_size)
    stacked = None
    for c in kept:
        part = df.select(
            F.lit(c).alias("col"),
            F.explode(
                F.split(F.lower(F.trim(F.col(c).cast("string"))), r"[^\p{L}\p{N}]+")
            ).alias("term"),
        ).where(F.col("term") != "")
        stacked = part if stacked is None else stacked.unionByName(part)
    out = {c: Counter() for c in kept}
    for r in stacked.groupBy("col", "term").count().collect():
        out[r["col"]][r["term"]] = r["count"]
    return out


def test_instance_based_sampled_parity_and_job_budget(spark, monkeypatch):
    """Sampled path (rows > max_sample_size) over nulls, empty strings,
    an all-null column and non-ASCII tokens: one sample per table gives
    the scores of the per-column union shape, within 8 Spark jobs."""
    src = spark.range(300, numPartitions=4).selectExpr(
        "CASE WHEN id % 7 = 0 THEN NULL WHEN id % 11 = 0 THEN '' "
        "ELSE concat('tok', id % 13, ' café-', id % 5) END AS name",
        "element_at(array('München', '東京 中央', 'São Paulo', 'naïve  town'), "
        "CAST(id % 4 AS INT) + 1) AS city",
        "CAST(NULL AS STRING) AS blank",
        "id % 17 AS num",
    )
    tgt = spark.range(250, numPartitions=3).selectExpr(
        "CASE WHEN id % 5 = 0 THEN '' ELSE concat('TOK', id % 9, ' Café') END AS label",
        "element_at(array('münchen', '東京', NULL, 'sao paulo'), "
        "CAST(id % 4 AS INT) + 1) AS town",
        "CAST(id % 23 AS STRING) AS code",
    )
    sc = spark.sparkContext
    for i, cfg in enumerate(({}, {"vector_creation_method": "tfidf",
                                  "similarity_function": "jaccard"})):
        matcher = InstanceBasedSchemaMatcher(max_sample_size=40, **cfg)
        group = f"instance-based-job-budget-{i}"
        sc.setJobGroup(group, "InstanceBasedSchemaMatcher.match job budget")
        try:
            got = matcher.match(src, tgt, threshold=0.0).collect()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup(None, None)
        assert len(jobs) <= 8, jobs
        with monkeypatch.context() as m:
            m.setattr(InstanceBasedSchemaMatcher, "_term_counts", _union_term_counts)
            want = matcher.match(src, tgt, threshold=0.0).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        # the all-null column fails the completeness filter
        assert {r["source_column"] for r in got} == {"name", "city", "num"}
        assert any(r["score"] > 0 for r in got)

    # no kept column: the completeness aggregate runs, the term pass not
    blank = src.select("blank")
    out, jobs = {}, {}
    for name, action in [
        ("aggregate", lambda: blank.agg(F.count("*"), F.count("blank")).collect()),
        ("profile", lambda: InstanceBasedSchemaMatcher()._term_counts(blank, ["blank"])),
    ]:
        group = f"instance-based-no-columns-{name}"
        sc.setJobGroup(group, name)
        try:
            out[name] = action()
        finally:
            sc.setJobGroup(None, None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert out["profile"] == {}
    assert jobs["profile"] == jobs["aggregate"], jobs
    assert InstanceBasedSchemaMatcher().match(blank, tgt, threshold=0.0).count() == 0
