"""Fusion evaluation: fused output vs gold, per-attribute match functions.

Reference: PyDI/fusion/evaluation.py — match fns exact_match (:46),
tokenized_match (:51), year_only_match (:125), numeric_tolerance_match
(:176), set_equality_match (:189), boolean_match (:207);
DataFusionEvaluator.evaluate (:253-497) = join fused x gold on id,
per-attribute boolean expr, overall + macro (per-attribute) accuracy.
Match functions are Column-expression builders here; consistency /
coverage metrics (:499-607) are aggregates.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df

# ---- match-function expression builders (l, r) -> boolean Column -------


def exact_match(l: Column, r: Column) -> Column:
    return l.cast("string") == r.cast("string")


def tokenized_match(threshold: float = 0.5) -> Callable[[Column, Column], Column]:
    """Word-token Jaccard >= threshold (evaluation.py:51)."""

    def expr(l: Column, r: Column) -> Column:
        from pydi_spark.functions.similarity import _native_jaccard

        return _native_jaccard(l.cast("string"), r.cast("string"), "word") >= threshold

    return expr


def year_only_match(l: Column, r: Column) -> Column:
    return F.year(l.cast("timestamp")) == F.year(r.cast("timestamp"))


def numeric_tolerance_match(tolerance: float = 0.01) -> Callable[[Column, Column], Column]:
    def expr(l: Column, r: Column) -> Column:
        a, b = l.cast("double"), r.cast("double")
        denom = F.greatest(F.abs(a), F.abs(b), F.lit(1e-12))
        return F.abs(a - b) / denom <= tolerance

    return expr


def set_equality_match(l: Column, r: Column) -> Column:
    """Order-insensitive list equality (evaluation.py:189)."""
    return F.array_sort(F.array_distinct(l)) == F.array_sort(F.array_distinct(r))


def boolean_match(l: Column, r: Column) -> Column:
    truthy = ("1", "true", "yes", "y")

    def as_bool(c: Column) -> Column:
        return F.lower(F.trim(c.cast("string"))).isin(*truthy)

    return as_bool(l) == as_bool(r)


MATCH_FUNCTIONS: dict[str, Callable] = {
    "exact_match": exact_match,
    "tokenized_match": tokenized_match,
    "year_only_match": year_only_match,
    "numeric_tolerance_match": numeric_tolerance_match,
    "set_equality_match": set_equality_match,
    "boolean_match": boolean_match,
}


class DataFusionEvaluator:
    """Attribute-wise accuracy of fused output vs a gold table
    (reference: fusion/evaluation.py:253-497)."""

    def __init__(self, strategy=None):
        self.strategy = strategy

    def evaluate(
        self,
        fused: DataFrame,
        fused_id: str,
        gold: DataFrame,
        gold_id: str,
        attribute_match_fns: dict[str, Callable] | None = None,
    ) -> DataFrame:
        """Returns one row per attribute: [attribute, n_compared, n_correct,
        accuracy] plus an '__overall__' row (micro accuracy)."""
        fns: dict[str, Callable] = dict(attribute_match_fns or {})
        if self.strategy is not None:
            for attr, fn in self.strategy.evaluation_functions.items():
                fns.setdefault(attr, fn)

        attrs = [
            c for c in fused.columns
            if c in gold.columns and c != fused_id and not c.startswith("_fusion")
        ]
        joined = fused.alias("f").join(
            gold.alias("g"),
            F.col(f"f.{fused_id}").cast("string") == F.col(f"g.{gold_id}").cast("string"),
        )
        agg_exprs = []
        for attr in attrs:
            fn = fns.get(attr, exact_match)
            lcol, rcol = F.col(f"f.{attr}"), F.col(f"g.{attr}")
            both = lcol.isNotNull() & rcol.isNotNull()
            ok = F.when(both, fn(lcol, rcol).cast("int"))
            agg_exprs.append(F.count(ok).alias(f"__n_{attr}"))
            agg_exprs.append(F.coalesce(F.sum(ok), F.lit(0)).alias(f"__c_{attr}"))
        row = joined.agg(*agg_exprs).collect()[0]

        out = []
        total_n = total_c = 0
        for attr in attrs:
            n, c = row[f"__n_{attr}"], row[f"__c_{attr}"]
            total_n += n
            total_c += c
            out.append((attr, n, c, (c / n) if n else None))
        out.append(("__overall__", total_n, total_c,
                    (total_c / total_n) if total_n else None))
        spark = fused.sparkSession
        return rows_to_df(
            spark,
            out, "attribute string, n_compared long, n_correct long, accuracy double"
        )


def coverage_metrics(datasets: list, attributes: list[str] | None = None) -> DataFrame:
    """Cross-dataset attribute coverage (reference: fusion/analysis.py:22-130
    + evaluation.py:554-607): per dataset x attribute non-null ratio."""
    from pydi_spark.core.dataset import Dataset

    frames = []
    for ds in datasets:
        assert isinstance(ds, Dataset)
        cols = attributes or ds.schema_columns()
        present = [c for c in cols if c in ds.df.columns]
        aggs = [F.count("*").alias("__total")] + [
            F.count(F.col(c)).alias(c) for c in present
        ]
        row = ds.df.agg(*aggs).collect()[0]
        for c in present:
            frames.append(
                (ds.name, c, row[c], row["__total"],
                 row[c] / row["__total"] if row["__total"] else None)
            )
    spark = datasets[0].df.sparkSession
    return rows_to_df(
        spark,
        frames,
        "dataset string, attribute string, non_null long, total long, coverage double",
    )
