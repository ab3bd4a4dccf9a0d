"""The benchmark pipelines, written as a pydi_spark user writes them.

Each pipeline takes a SparkSession, a ``Recorder`` (every public layer
call goes through ``rec.call``), the generator's ``Generated`` record
and an output directory. It returns a ``Result``: the values the output
check compares (row counts and the quality metric) and, in a traced
run, the per-layer work counters.

Nothing here caches between layers: an untraced run re-executes lineage
across layer boundaries exactly as user code would.
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from pydi_spark.blocking import TokenBlocker
from pydi_spark.clustering import GreedyOneToOneMatcher, connected_components
from pydi_spark.evaluation import bcubed_metrics, evaluate_blocking, evaluate_matching
from pydi_spark.functions.comparators import NumericComparator, StringComparator
from pydi_spark.functions.utils import jaccard
from pydi_spark.fusion import DataFusionEngine, DataFusionStrategy
from pydi_spark.io import load_parquet, write_parquet
from pydi_spark.llmdata import exact_duplicates, keep_best_duplicates, minhash_near_duplicates
from pydi_spark.matching import RuleBasedMatcher
from pydi_spark.normalization import DatasetNormalizer
from pydi_spark.normalization.datasets import NormalizationConfig
from pydi_spark.profiling import DataProfiler
from pydi_spark.schemamatching import InstanceBasedSchemaMatcher
from pydi_spark.translation import MappingTranslator

from spans import Recorder

if TYPE_CHECKING:
    from generate import Generated

# TokenBlocker hot-token cap: a name token held by more records than
# this (per side) is not a blocking key
TOKEN_CAP_PER_10K = 50
MATCH_THRESHOLD = 0.65
MINHASH_JACCARD = 0.7


@dataclass
class Result:
    checks: dict[str, float] = field(default_factory=dict)
    quality: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)


def _load(spark, rec: Recorder, path: str, name: str, id_column: str | None = None,
          trust: float | None = None):
    ds = rec.call("io", "load_parquet",
                  lambda: load_parquet(spark, path, name, trust_score=trust))
    return dataclasses.replace(ds, id_column=id_column) if id_column else ds


def er_two_source(spark, rec: Recorder, gen: Generated, out_dir: str) -> Result:
    n = gen.properties["records_per_source"]
    a = _load(spark, rec, gen.paths["source_a"], "source_a", "id", 0.9)
    b = _load(spark, rec, gen.paths["source_b"], "source_b", "id", 0.6)
    gold = _load(spark, rec, gen.paths["gold"], "gold").df
    profiler = DataProfiler()
    rows = [rec.call("profiling", "DataProfiler.summary",
                     lambda ds=ds: profiler.summary(ds))["rows"] for ds in (a, b)]

    mapping = rec.call("schemamatching", "InstanceBasedSchemaMatcher.match",
                       lambda: InstanceBasedSchemaMatcher().match(b, a, threshold=0.2))
    b = rec.call("translation", "MappingTranslator.translate",
                 lambda: MappingTranslator().translate(b, mapping))
    # the column types are known, so no type detection: text clean-up only
    normalizer = DatasetNormalizer(NormalizationConfig(
        detect_types=False, normalize_text=True, text_columns=["name", "city"]))
    a, _ = rec.call("normalization", "DatasetNormalizer.normalize_dataset",
                    lambda: normalizer.normalize_dataset(a))
    b, _ = rec.call("normalization", "DatasetNormalizer.normalize_dataset",
                    lambda: normalizer.normalize_dataset(b))

    cap = max(10, TOKEN_CAP_PER_10K * n // 10_000)
    cands = rec.call("blocking", "TokenBlocker.block",
                     lambda: TokenBlocker("name", max_token_frequency=cap).block(a, b))
    matcher = RuleBasedMatcher(comparators=[
        (jaccard("name"), 0.5),
        (NumericComparator("balance", max_difference=50.0), 0.3),
        (StringComparator("city"), 0.2),
    ])
    corr = rec.call("matching", "RuleBasedMatcher.match",
                    lambda: matcher.match(a, b, cands, threshold=MATCH_THRESHOLD))
    one2one = rec.call("clustering", "GreedyOneToOneMatcher.cluster",
                       lambda: GreedyOneToOneMatcher().cluster(corr))
    strategy = (
        DataFusionStrategy()
        .add_attribute_fuser("name", "longest_string")
        .add_attribute_fuser("city", "voting")
        .add_attribute_fuser("balance", "prefer_higher_trust")
    )
    fused = rec.call("fusion", "DataFusionEngine.run",
                     lambda: DataFusionEngine(strategy).run([a, b], one2one))
    n_fused = fused.count()

    blocking = rec.call("evaluation", "evaluate_blocking", lambda: evaluate_blocking(
        cands, gold, n, n, candidates_distinct=True).collect()[0])

    def match_eval():
        # labelled universe = every candidate pair plus every gold pair,
        # so each prediction the pipeline can make carries a label
        labelled = cands.select("id1", "id2").join(
            gold.select("id1", "id2", "label"), ["id1", "id2"], "full_outer"
        ).select("id1", "id2", F.coalesce("label", F.lit(0)).alias("label"))
        return evaluate_matching(one2one, labelled).collect()[0]

    matching = rec.call("evaluation", "evaluate_matching", match_eval)
    res = Result(
        checks={
            "profiling.rows.source_a": rows[0],
            "profiling.rows.source_b": rows[1],
            "blocking.candidates": blocking["total_candidates"],
            "clustering.matches": matching["tp"] + matching["fp"],
            "fusion.groups": n_fused,
        },
        quality=matching["f1"],
    )
    res.counters = {
        "blocking.candidates": blocking["total_candidates"],
        "blocking.pair_completeness": blocking["pair_completeness"],
        "blocking.pair_quality": blocking["pair_quality"],
        "blocking.reduction_ratio": blocking["reduction_ratio"],
    }
    if rec.traced:
        corr_rows = next(s.rows_out for s in rec.spans if s.layer == "matching")
        res.counters.update({
            "matching.match_ratio": corr_rows / max(blocking["total_candidates"], 1),
            "clustering.clusters": res.checks["clustering.matches"],
            "clustering.max_cluster": 2 if res.checks["clustering.matches"] else 0,
            "fusion.groups": n_fused,
        })
    return res


def corpus_near_dup(spark, rec: Recorder, gen: Generated, out_dir: str) -> Result:
    docs = _load(spark, rec, gen.paths["documents"], "documents").df
    gold = _load(spark, rec, gen.paths["gold_clusters"], "gold_clusters").df

    exact = rec.call("llmdata", "exact_duplicates", lambda: exact_duplicates(docs))
    unique = docs.join(
        exact.where(~F.col("is_duplicate")).select(F.col("id").cast("long").alias("doc_id")),
        "doc_id", "left_semi",
    )
    near = rec.call("llmdata", "minhash_near_duplicates", lambda: minhash_near_duplicates(
        unique, jaccard_threshold=MINHASH_JACCARD))
    edges = near.select("id1", "id2").unionByName(
        exact.where("is_duplicate").select(F.col("canonical_id").alias("id1"),
                                           F.col("id").alias("id2")))
    clusters = rec.call("clustering", "connected_components",
                        lambda: connected_components(edges))
    kept = rec.call("llmdata", "keep_best_duplicates",
                    lambda: keep_best_duplicates(docs, edges, "quality"))

    def cluster_eval():
        predicted = docs.select(F.col("doc_id").cast("string").alias("record_id")).join(
            clusters, "record_id", "left"
        ).select("record_id", F.coalesce("cluster_id", "record_id").alias("cluster_id"))
        return bcubed_metrics(predicted, gold).collect()[0]

    bcubed = rec.call("evaluation", "bcubed_metrics", cluster_eval)
    out = os.path.join(out_dir, "deduplicated")
    rec.call("io", "write_parquet",
             lambda: write_parquet(kept.where("is_kept = 1").drop("is_kept"), out))
    res = Result(
        checks={
            "evaluation.records": bcubed["n_records"],
            "io.rows_written": spark.read.parquet(out).count(),
        },
        quality=bcubed["f1"],
    )
    if rec.traced:
        with rec.bookkeeping():
            sizes = clusters.groupBy("cluster_id").count()
            stats = sizes.agg(F.count("*").alias("n"), F.max("count").alias("m")).collect()[0]
        res.counters = {
            "llmdata.pairs_out": next(
                s.rows_out for s in rec.spans if s.name == "minhash_near_duplicates"),
            "clustering.clusters": stats["n"],
            "clustering.max_cluster": stats["m"] or 0,
        }
    return res


PIPELINES = {
    "er_two_source": er_two_source,
    "corpus_near_dup": corpus_near_dup,
}
