"""Schema matching base: SchemaMapping construction helpers.

Reference: PyDI/schemamatching/base.py — SchemaMapping columns
[source_dataset, source_column, target_dataset, target_column, score,
notes] (:88-92); ``get_schema_columns`` excludes the synthetic id column
(:32-48). Mappings are column-count sized -> built driver-side as small
DataFrames; only *instance* profiling touches the data (distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.core.dataset import Dataset

MAPPING_SCHEMA = (
    "source_dataset string, source_column string, target_dataset string, "
    "target_column string, score double, notes string"
)


def schema_columns(data: Dataset | DataFrame) -> list[str]:
    if isinstance(data, Dataset):
        return data.schema_columns()
    return data.columns


def dataset_name(data: Dataset | DataFrame, fallback: str) -> str:
    return data.name if isinstance(data, Dataset) else fallback


def build_mapping(spark, rows: list[tuple], threshold: float) -> DataFrame:
    kept = [r for r in rows if r[4] >= threshold]
    return rows_to_df(spark, kept, MAPPING_SCHEMA)
