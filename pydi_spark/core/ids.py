"""Unique-ID injection for entity tables.

Reference semantics (PyDI/io/loaders.py:127-176): every loaded dataset gets
a synthetic string ID column ``{name}_id`` with zero-padded values
``"{prefix}-0007"``. Here the ID is computed distributedly:

- ``deterministic=True`` -> global ``row_number`` over an explicit ordering
  (one narrow shuffle of only the ordering keys via range partitioning —
  Spark's sort-based row_number; reproducible, oracle-checkable).
- ``deterministic=False`` -> ``monotonically_increasing_id`` (no shuffle at
  all; unique but not dense — the right default at 100 TB when the caller
  only needs uniqueness).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def add_id_column(
    df: DataFrame,
    prefix: str,
    id_column: str | None = None,
    order_by: list[str] | None = None,
    pad: int | None = None,
    deterministic: bool = True,
) -> tuple[DataFrame, str]:
    """Inject a unique string id column ``{prefix}-{i:0{pad}d}``.

    Returns ``(df_with_id, id_column_name)``. When ``order_by`` is None and
    deterministic ids are requested, orders by all existing columns (stable
    for deterministic inputs).

    ``pad=None`` (default) widens the zero-padding to
    ``max(4, digits(row_count - 1))`` like the reference
    (_inject_unique_id_column, io/loaders.py:127-176), preserving the
    stable-string-sort property above 9,999 rows. The count comes for
    free from the global-rank offset collect. The non-deterministic
    path has no count available and uses 4 unless given explicitly.
    """
    id_column = id_column or f"{prefix}_id"
    if id_column in df.columns:
        return df, id_column
    if deterministic:
        # distributed global rank (functions.ranks): a bare
        # Window.orderBy would funnel the dataset through ONE partition
        from pydi_spark.functions.ranks import global_row_number

        keys = order_by or df.columns
        ranked, total = global_row_number(df, keys, out_col="__rn", return_count=True)
        if pad is None:
            pad = max(4, len(str(max(total - 1, 0))))
        value = F.format_string(f"{prefix}-%0{pad}d", F.col("__rn") - F.lit(1))
        return ranked.withColumn(id_column, value).drop("__rn"), id_column
    idx = F.monotonically_increasing_id()
    value = F.format_string(f"{prefix}-%0{pad or 4}d", idx)
    return df.withColumn(id_column, value), id_column
