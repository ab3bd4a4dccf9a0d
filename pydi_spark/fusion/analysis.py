"""Fusion analysis & reporting: conflict/coverage diagnostics as aggregates.

Reference: PyDI/fusion/analysis.py — analyze_attribute_coverage (:22-130),
compare_dataset_schemas (:133-187), detect_attribute_conflicts (:190-267),
analyze_conflicts_preview (:270-510); FusionReport + suggest_fusion_rules
(fusion/reporting.py:35-783). Everything reduces to groupBy/agg over the
pre-fusion grouped long table + driver-side rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.core.dataset import Dataset


def analyze_attribute_coverage(datasets: list[Dataset]) -> DataFrame:
    """[dataset, attribute, non_null, total, coverage]."""
    from pydi_spark.fusion.evaluation import coverage_metrics

    return coverage_metrics(datasets)


def compare_dataset_schemas(datasets: list[Dataset]) -> DataFrame:
    """[attribute, datasets_present, n_datasets, is_shared]."""
    spark = datasets[0].df.sparkSession
    rows = []
    all_attrs: dict[str, list[str]] = {}
    for ds in datasets:
        for c in ds.schema_columns():
            all_attrs.setdefault(c, []).append(ds.name)
    n = len(datasets)
    for attr, present in sorted(all_attrs.items()):
        rows.append((attr, sorted(present), n, len(present) == n))
    return rows_to_df(
        spark,
        rows,
        "attribute string, datasets_present array<string>, n_datasets int, is_shared boolean",
    )


def detect_attribute_conflicts(
    datasets: list[Dataset],
    correspondences: DataFrame,
    attributes: list[str] | None = None,
    id_column: str | None = None,
) -> DataFrame:
    """Per attribute: how many merged groups hold >1 distinct value
    (reference: analysis.py:190-267). One groupBy over the grouped union."""
    from pydi_spark.clustering.connected_components import connected_components
    from pydi_spark.fusion.engine import union_datasets

    union = union_datasets(datasets, id_column)
    comps = connected_components(correspondences.select("id1", "id2"))
    grouped = union.join(
        comps, union["__record_id"] == comps["record_id"], "inner"
    ).withColumn("group_id", F.col("cluster_id"))

    meta = {"__record_id", "__dataset", "__trust", "group_id", "record_id", "cluster_id"}
    attrs = attributes or [c for c in grouped.columns if c not in meta]
    # r12: a group "conflicts" on attr a iff it holds >1 distinct
    # non-null value, and that is exactly min(a) < max(a) over the
    # group's non-null string casts. min/max replace the old
    # size(array_distinct(collect_list)) — same boolean, but ONE
    # map-side-combinable exchange with two strings of per-group state
    # instead of shipping EVERY value into an unbounded per-group
    # array (one hot merge group would hold all its values in a single
    # task — guide §2.3/§5; count_distinct was measured too: its
    # Expand + extra exchange cost ~1 s at sf0.1).
    aggs = []
    for a in attrs:
        s = F.col(a).cast("string")
        aggs.append(F.min(s).alias(f"__lo_{a}"))
        aggs.append(F.max(s).alias(f"__hi_{a}"))
    per_group = grouped.groupBy("group_id").agg(*aggs)
    out_aggs = [F.count("*").alias("n_groups")]
    for a in attrs:
        out_aggs.append(
            F.sum(
                (F.col(f"__lo_{a}") < F.col(f"__hi_{a}")).cast("int")
            ).alias(f"__c_{a}")
        )
    row = per_group.agg(*out_aggs).collect()[0]
    spark = datasets[0].df.sparkSession
    n_groups = row["n_groups"]
    rows = [
        (a, int(row[f"__c_{a}"]), int(n_groups),
         row[f"__c_{a}"] / n_groups if n_groups else 0.0)
        for a in attrs
    ]
    return rows_to_df(
        spark,
        rows, "attribute string, conflicting_groups long, n_groups long, conflict_rate double"
    )


def suggest_fusion_rules(
    datasets: list[Dataset],
    correspondences: DataFrame,
    id_column: str | None = None,
) -> dict[str, str]:
    """Heuristic resolver suggestion per attribute (reference:
    reporting.py suggest_fusion_rules): numeric -> average, timestamp ->
    most_recent, array -> union, low-conflict strings -> first_non_null,
    high-conflict strings -> voting."""
    from pydi_spark.fusion.engine import union_datasets

    union = union_datasets(datasets, id_column)
    # r12: the conflict rate is only consulted for attributes that fall
    # through the dtype branches (plain strings) — compute it for those
    # alone instead of every column (the per-attribute distinct
    # aggregates are the job's cost; numerics/timestamps/arrays never
    # read theirs). Rules are unchanged for every attribute.
    decided = {}
    undecided = []
    for name, dtype in union.dtypes:
        if name.startswith("__"):
            continue
        if dtype in ("double", "float", "int", "bigint"):
            decided[name] = "average"
        elif dtype.startswith("timestamp") or dtype == "date":
            decided[name] = "most_recent"
        elif dtype.startswith("array"):
            decided[name] = "union"
        else:
            undecided.append(name)
    conflicts = {}
    if undecided:
        conflicts = {
            r["attribute"]: r["conflict_rate"]
            for r in detect_attribute_conflicts(
                datasets, correspondences, attributes=undecided,
                id_column=id_column,
            ).collect()
        }
    out = {}
    for name, dtype in union.dtypes:
        if name.startswith("__"):
            continue
        if name in decided:
            out[name] = decided[name]
        elif conflicts.get(name, 0.0) > 0.3:
            out[name] = "voting"
        else:
            out[name] = "first_non_null"
    return out


class FusionReport:
    """Summary of a fusion run (reference: reporting.py:35-783)."""

    def __init__(self, fused: DataFrame):
        self.fused = fused

    def summary(self) -> dict:
        agg = self.fused.agg(
            F.count("*").alias("n_groups"),
            F.sum("_fusion_group_size").alias("n_records"),
            F.avg("_fusion_group_size").alias("avg_group_size"),
            F.max("_fusion_group_size").alias("max_group_size"),
            F.avg("_fusion_confidence").alias("avg_confidence"),
            F.sum((F.col("_fusion_group_size") > 1).cast("int")).alias("merged_groups"),
        ).collect()[0]
        return {k: agg[k] for k in agg.asDict()}

    def to_json(self, path: str) -> None:
        from pydi_spark.io.writers import write_artifact

        write_artifact(self.summary(), path)

    def to_html(self, path: str) -> None:
        s = self.summary()
        rows = "".join(f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in s.items())
        html = f"<html><body><h1>Fusion report</h1><table border=1>{rows}</table></body></html>"
        import os

        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            fh.write(html)
