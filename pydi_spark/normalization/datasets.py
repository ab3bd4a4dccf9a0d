"""Dataset-level normalization pipeline.

Reference: apply_column_transforms (PyDI/normalization/datasets.py:59-119)
and DatasetNormalizer(NormalizationConfig) (:123-670): type detection on
a sample -> per-column normalization (null standardization, numeric/date
coercion, unit conversion, text cleanup) -> result report.

Spark shape: ONE profiling aggregate for type detection, then ONE
``select`` with a withColumns chain — the whole normalization is a
single lazy projection over the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.dataset import Dataset, as_dataframe
from pydi_spark.normalization.detectors import null_standardize_expr
from pydi_spark.normalization.transforms import transform_expr


def apply_column_transforms(
    data: Dataset | DataFrame,
    spec: dict,
    missing_policy: str = "warn",
) -> Dataset | DataFrame:
    """{column | (col1,col2): transform | [transforms]} -> new frame
    (reference: datasets.py:59-119)."""
    df = as_dataframe(data)
    out = df
    for key, transforms in spec.items():
        cols = key if isinstance(key, tuple) else (key,)
        tlist = transforms if isinstance(transforms, list) else [transforms]
        for col in cols:
            if col not in out.columns:
                if missing_policy == "error":
                    raise ValueError(f"column not found: {col}")
                if missing_policy == "warn":
                    import warnings

                    warnings.warn(f"column not found: {col}")
                continue
            c = F.col(col)
            for t in tlist:
                c = transform_expr(c, t)
            out = out.withColumn(col, c)
    if isinstance(data, Dataset):
        return data.with_df(out).with_provenance(
            "apply_column_transforms", spec=str(spec)
        )
    return out


@dataclass
class NormalizationConfig:
    """Mirrors the reference's config surface (datasets.py:123-217)."""

    detect_types: bool = True
    sample_size: int = 1000
    confidence_threshold: float = 0.6
    standardize_nulls: bool = True
    coerce_numeric: bool = True
    coerce_dates: bool = True
    coerce_boolean: bool = True
    convert_units: bool = False
    normalize_text: bool = False
    text_columns: list[str] = field(default_factory=list)
    exclude_columns: list[str] = field(default_factory=list)


@dataclass
class DatasetNormalizationResult:
    detected_types: dict[str, dict]
    applied: dict[str, list[str]]


class DatasetNormalizer:
    def __init__(self, config: NormalizationConfig | None = None):
        self.config = config or NormalizationConfig()

    def normalize_dataset(
        self, data: Dataset | DataFrame
    ) -> tuple[Dataset | DataFrame, DatasetNormalizationResult]:
        from pydi_spark.normalization.parsers import parse_boolean, parse_numeric
        from pydi_spark.normalization.transforms import to_datetime
        from pydi_spark.normalization.typedetect import detect_column_types

        cfg = self.config
        df = as_dataframe(data)
        string_cols = [
            c for c, t in df.dtypes
            if t == "string" and c not in cfg.exclude_columns
        ]
        detected = (
            detect_column_types(
                df, string_cols, cfg.confidence_threshold, cfg.sample_size
            )
            if cfg.detect_types and string_cols
            else {}
        )
        applied: dict[str, list[str]] = {}
        exprs = {}
        for c in string_cols:
            steps: list[str] = []
            col = F.col(c)
            if cfg.standardize_nulls:
                col = null_standardize_expr(col)
                steps.append("null_standardize")
            t = detected.get(c, {}).get("type", "string")
            if cfg.coerce_numeric and t in (
                "integer", "float", "numeric_thousands", "scientific"
            ):
                col = parse_numeric(col)
                steps.append(f"to_numeric[{t}]")
            elif cfg.coerce_dates and t in ("date", "datetime"):
                col = to_datetime(col)
                steps.append(f"to_datetime[{t}]")
            elif cfg.coerce_boolean and t == "boolean":
                col = parse_boolean(col)
                steps.append("to_boolean")
            elif cfg.normalize_text and (not cfg.text_columns or c in cfg.text_columns):
                from pydi_spark.normalization.text import normalize_text

                col = normalize_text(col)
                steps.append("normalize_text")
            if steps:
                exprs[c] = col
                applied[c] = steps
        # one projection for every rewritten column: a withColumn per
        # column re-analyses the growing plan each time (py4j chatter)
        out = df.withColumns(exprs) if exprs else df
        result = DatasetNormalizationResult(detected_types=detected, applied=applied)
        if isinstance(data, Dataset):
            return (
                data.with_df(out).with_provenance("normalize_dataset", applied=applied),
                result,
            )
        return out, result


def normalize_dataset(
    data: Dataset | DataFrame, config: NormalizationConfig | None = None
):
    """Convenience wrapper (reference: datasets.py:673-696)."""
    return DatasetNormalizer(config).normalize_dataset(data)
