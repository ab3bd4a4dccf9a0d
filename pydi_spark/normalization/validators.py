"""Validators: boolean column expressions + violation aggregates.

Reference: PyDI/normalization/validators.py — EmailValidator (:103),
RangeValidator (:161), PatternValidator (:230), CompletenessValidator
(:270), UniqueValidator (:334), SchemaValidator (:447), orchestrating
DataQualityChecker (:381-444). Each validator contributes one boolean
expression; the checker runs ONE aggregate pass for all of them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df

EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


def email_valid(col: str) -> Column:
    return F.col(col).cast("string").rlike(EMAIL_RE)


def range_valid(col: str, min_value: float | None = None, max_value: float | None = None) -> Column:
    c = F.col(col).cast("double")
    cond = F.lit(True)
    if min_value is not None:
        cond = cond & (c >= min_value)
    if max_value is not None:
        cond = cond & (c <= max_value)
    return cond


def pattern_valid(col: str, pattern: str) -> Column:
    return F.col(col).cast("string").rlike(pattern)


@dataclass
class DataQualityChecker:
    """Collects named checks; ``run`` = one aggregate pass returning
    [check, n_checked, n_violations, violation_rate]."""

    checks: list = field(default_factory=list)

    def add_email(self, column: str) -> "DataQualityChecker":
        self.checks.append((f"email:{column}", column, email_valid(column)))
        return self

    def add_range(self, column: str, min_value=None, max_value=None) -> "DataQualityChecker":
        self.checks.append(
            (f"range:{column}", column, range_valid(column, min_value, max_value))
        )
        return self

    def add_pattern(self, column: str, pattern: str) -> "DataQualityChecker":
        self.checks.append((f"pattern:{column}", column, pattern_valid(column, pattern)))
        return self

    def add_completeness(self, column: str, min_ratio: float = 1.0) -> "DataQualityChecker":
        # completeness is row-level non-null; min_ratio applied at report time
        self.checks.append((f"completeness:{column}", column, F.col(column).isNotNull()))
        return self

    def add_custom(self, name: str, column: str, expr: Column) -> "DataQualityChecker":
        self.checks.append((name, column, expr))
        return self

    def run(self, df: DataFrame) -> DataFrame:
        aggs = []
        for name, column, expr in self.checks:
            non_null = F.col(column).isNotNull()
            checked = non_null if not name.startswith("completeness:") else F.lit(True)
            aggs.append(F.count(F.when(checked, 1)).alias(f"__n_{name}"))
            aggs.append(
                F.count(F.when(checked & ~F.coalesce(expr, F.lit(False)), 1)).alias(
                    f"__v_{name}"
                )
            )
        row = df.agg(*aggs).collect()[0]
        out = []
        for name, _, _ in self.checks:
            n, v = int(row[f"__n_{name}"]), int(row[f"__v_{name}"])
            out.append((name, n, v, (v / n) if n else 0.0))
        return rows_to_df(
            df.sparkSession,
            out, "check string, n_checked long, n_violations long, violation_rate double"
        )


def unique_violations(df: DataFrame, columns: list[str]) -> DataFrame:
    """Rows whose key occurs more than once (reference UniqueValidator)."""
    counts = df.groupBy(*columns).agg(F.count("*").alias("n")).where("n > 1")
    return df.join(F.broadcast(counts.select(*columns)), columns, "left_semi")


def schema_valid(df: DataFrame, expected: dict[str, str]) -> list[str]:
    """Column/type expectations -> list of violations (SchemaValidator)."""
    actual = dict(df.dtypes)
    problems = []
    for col, typ in expected.items():
        if col not in actual:
            problems.append(f"missing column: {col}")
        elif typ not in (None, "", actual[col]):
            problems.append(f"type mismatch {col}: expected {typ}, got {actual[col]}")
    return problems
