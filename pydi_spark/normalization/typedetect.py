"""Type detection as a profiling aggregation ("schema inference as a query").

Reference: AdvancedTypeDetector — regex pattern bank over values with
per-column majority voting on a 1000-value sample
(PyDI/normalization/columns.py:111-260, datasets.py:138-191). Here the
whole bank evaluates as ONE aggregate per column: avg(regexp_like::int)
match rates, argmax on the driver. One pass, sample-able, no Python.

Patterns use a portable regex subset (char classes + anchors) so the
same definitions run in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.normalization.detectors import is_textual_null_expr

# name -> (pattern, priority); higher priority wins ties; evaluated on
# trimmed string values. Order/priorities mirror the reference's
# most-specific-first voting.
TYPE_PATTERNS: dict[str, tuple[str, int]] = {
    "integer": (r"^[+-]?[0-9]{1,18}$", 90),
    "numeric_thousands": (r"^[+-]?[0-9]{1,3}(,[0-9]{3})+(\.[0-9]+)?$", 85),
    "float": (r"^[+-]?([0-9]+\.[0-9]*|\.[0-9]+)$", 80),
    "scientific": (r"^[+-]?[0-9]+(\.[0-9]+)?[eE][+-]?[0-9]+$", 82),
    "percentage": (r"^[+-]?[0-9]+(\.[0-9]+)?\s?%$", 88),
    "currency": (r"^[$€£][0-9,]+(\.[0-9]+)?$|^[0-9,]+(\.[0-9]+)?\s?(USD|EUR|GBP)$", 87),
    "boolean": (r"^(true|false|yes|no|y|n|t|f|0|1|ja|nein|si|oui|non)$", 70),
    "date": (r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$|^[0-9]{2}[./][0-9]{2}[./][0-9]{4}$", 89),
    "datetime": (
        r"^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}(:[0-9]{2}(\.[0-9]+)?)?$",
        91,
    ),
    "time": (r"^[0-9]{1,2}:[0-9]{2}(:[0-9]{2})?$", 75),
    "email": (r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$", 86),
    "url": (r"^(https?|ftp)://[^\s]+$|^www\.[^\s]+$", 84),
    "phone": (r"^[+]?[0-9][0-9()\s./-]{6,20}$", 60),
    "coordinate": (
        r"^[+-]?[0-9]{1,3}\.[0-9]+[,;]\s?[+-]?[0-9]{1,3}\.[0-9]+$",
        83,
    ),
    "unit_numeric": (
        r"^[+-]?[0-9]+(\.[0-9]+)?\s?(km|m|cm|mm|mi|ft|in|kg|g|mg|lb|oz|l|ml|gal|s|ms|min|h|km/h|mph|m/s|mb|gb|tb|kb|hz|khz|mhz|ghz|w|kw|°c|°f|k)$",
        81,
    ),
    "list": (r"^\[.*\]$|^.+([;|]\s?.+){2,}$", 50),
    "string": (r"^.*$", 1),
}


def type_match_rates(
    df: DataFrame, columns: list[str] | None = None, sample_size: int = 1000
) -> DataFrame:
    """[column_name, type_name, match_rate] — one aggregate pass.

    Null-marker values are excluded from the denominator (reference null
    filtering, columns.py:189-260).
    """
    cols = columns or df.columns
    if sample_size:
        total = df.count()
        if total > sample_size:
            df = df.sample(fraction=min(1.0, sample_size * 1.2 / total), seed=42).limit(
                sample_size
            )
    aggs = []
    for c in cols:
        s = F.lower(F.trim(F.col(c).cast("string")))
        valid = ~is_textual_null_expr(F.col(c))
        aggs.append(F.count(F.when(valid, 1)).alias(f"__n_{c}"))
        for tname, (pat, _) in TYPE_PATTERNS.items():
            aggs.append(
                F.count(F.when(valid & s.rlike(pat), 1)).alias(f"__m_{c}_{tname}")
            )
    row = df.agg(*aggs).collect()[0]
    out = []
    for c in cols:
        n = row[f"__n_{c}"] or 0
        for tname in TYPE_PATTERNS:
            m = row[f"__m_{c}_{tname}"] or 0
            out.append((c, tname, (m / n) if n else 0.0))
    spark = df.sparkSession
    return rows_to_df(
        spark,
        out, "column_name string, type_name string, match_rate double"
    )


def detect_column_types(
    df: DataFrame,
    columns: list[str] | None = None,
    confidence_threshold: float = 0.6,
    sample_size: int = 1000,
) -> dict[str, dict]:
    """column -> {type, confidence}: argmax by (match_rate, priority);
    falls back to 'string' below the confidence threshold (reference
    threshold 0.6, datasets.py:123-217)."""
    rates = type_match_rates(df, columns, sample_size).collect()
    by_col: dict[str, list] = {}
    for r in rates:
        by_col.setdefault(r["column_name"], []).append(r)
    out = {}
    for c, rows in by_col.items():
        best = max(
            rows,
            key=lambda r: (
                round(r["match_rate"], 9),
                TYPE_PATTERNS[r["type_name"]][1],
            ),
        )
        if best["match_rate"] >= confidence_threshold and best["type_name"] != "string":
            out[c] = {"type": best["type_name"], "confidence": best["match_rate"]}
        else:
            out[c] = {"type": "string", "confidence": 1.0}
    return out


def analyze_column_quality(df: DataFrame, column: str) -> dict:
    """Per-column quality snapshot (reference: columns.py:526-572)."""
    c = F.col(column)
    row = df.agg(
        F.count("*").alias("n"),
        F.count(c).alias("non_null"),
        F.count(F.when(is_textual_null_expr(c), 1)).alias("textual_nulls"),
        F.approx_count_distinct(c).alias("distinct"),
        F.avg(F.length(c.cast("string"))).alias("avg_len"),
    ).collect()[0]
    return {
        "rows": row["n"],
        "non_null": row["non_null"],
        "textual_nulls": row["textual_nulls"],
        "approx_distinct": row["distinct"],
        "avg_length": row["avg_len"],
        "completeness": row["non_null"] / row["n"] if row["n"] else None,
    }
