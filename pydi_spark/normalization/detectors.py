"""Null/outlier/duplicate detection as aggregations.

Reference: PyDI/normalization/detectors.py — NullDetector with ~80
multilingual textual null tokens (:68-290), OutlierDetector
(iqr/zscore/modified_zscore, :295-358), DuplicateDetector (:360-423).
Detection becomes `isin`/`percentile_approx`/window expressions; nothing
is per-value Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df

# multilingual textual null markers (reference bank, detectors.py:76-160+)
NULL_TOKENS = [
    "", "-", "--", "---", "?", "??", "n/a", "na", "n.a.", "n.a", "none",
    "null", "nil", "nan", "missing", "unknown", "undefined", "unspecified",
    "not available", "not applicable", "no data", "no value", "empty",
    "tbd", "tba", "pending", "(null)", "(none)", "(empty)", "[null]",
    "[none]", "#n/a", "#na", "#null!", "#value!", "#ref!", "void", "blank",
    # de
    "k.a.", "ka", "keine", "keine angabe", "unbekannt", "nicht verfügbar",
    "nicht vorhanden", "leer", "nichts",
    # fr
    "aucun", "aucune", "inconnu", "inconnue", "non disponible", "vide",
    "rien", "sans objet", "s/o",
    # es
    "ninguno", "ninguna", "desconocido", "desconocida", "no disponible",
    "vacío", "vacio", "nada", "sin datos",
    # it / pt / nl
    "nessuno", "sconosciuto", "non disponibile", "nenhum", "desconhecido",
    "não disponível", "geen", "onbekend", "niet beschikbaar",
    # misc
    "xx", "xxx", "various", "misc", "other", "0000-00-00", "9999-12-31",
]


def null_standardize_expr(col: Column | str, extra_tokens: list[str] | None = None) -> Column:
    """Map textual null markers to real NULL (case/whitespace-insensitive)."""
    c = F.col(col) if isinstance(col, str) else col
    tokens = NULL_TOKENS + (extra_tokens or [])
    norm = F.lower(F.trim(c.cast("string")))
    return F.when(norm.isin(*[t for t in tokens]), F.lit(None)).otherwise(c)


def is_textual_null_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    norm = F.lower(F.trim(c.cast("string")))
    return c.isNull() | norm.isin(*NULL_TOKENS)


def outlier_bounds(
    df: DataFrame, column: str, method: str = "iqr", threshold: float = 1.5
) -> tuple[float, float]:
    """(lo, hi) bounds; values outside are outliers
    (reference: detectors.py:295-358)."""
    c = F.col(column).cast("double")
    if method == "iqr":
        row = df.agg(
            F.percentile_approx(c, 0.25).alias("q1"),
            F.percentile_approx(c, 0.75).alias("q3"),
        ).collect()[0]
        q1, q3 = float(row["q1"]), float(row["q3"])
        iqr = q3 - q1
        return q1 - threshold * iqr, q3 + threshold * iqr
    if method == "zscore":
        row = df.agg(F.avg(c).alias("m"), F.stddev_pop(c).alias("s")).collect()[0]
        m, s = float(row["m"]), float(row["s"] or 0.0)
        return m - threshold * s, m + threshold * s
    if method == "modified_zscore":
        med = float(df.agg(F.median(c)).collect()[0][0])
        mad = float(
            df.agg(F.median(F.abs(c - F.lit(med)))).collect()[0][0] or 0.0
        )
        scale = 1.4826 * mad
        return med - threshold * scale, med + threshold * scale
    raise ValueError(f"unknown method: {method}")


def flag_outliers(
    df: DataFrame, column: str, method: str = "iqr", threshold: float = 1.5,
    flag_column: str | None = None,
) -> DataFrame:
    lo, hi = outlier_bounds(df, column, method, threshold)
    flag = flag_column or f"{column}_is_outlier"
    c = F.col(column).cast("double")
    return df.withColumn(flag, (c < lo) | (c > hi))


def duplicate_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per-column duplicate summary (reference: detectors.py:360-423):
    [column, n_rows, n_distinct, n_duplicated_values]."""
    cols = columns or df.columns
    spark = df.sparkSession
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__d_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = [(c, int(row["__n"]), int(row[f"__d_{c}"]),
            int(row["__n"]) - int(row[f"__d_{c}"])) for c in cols]
    return rows_to_df(
        spark,
        out, "column_name string, n_rows long, n_distinct long, n_duplicates long"
    )


def flag_exact_duplicate_rows(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Add is_duplicate_row over the given column subset."""
    from pyspark.sql import Window

    cols = columns or df.columns
    w = Window.partitionBy(*[F.col(c) for c in cols])
    return df.withColumn("is_duplicate_row", F.count("*").over(w) > 1)
