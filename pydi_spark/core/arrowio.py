"""Arrow-backed frames built on the driver for the deliberate
driver-side stages.

The engine's few driver-side algorithms (driver-sized connected
components, exact greedy 1:1, BCubed, the bounded driver solvers) take
their input through ``core/plansize.py::driver_table`` (an Arrow
collect behind an exact count) and, like the one-row report frames,
send their driver-sized results back. ``createDataFrame(list)``
parallelizes the pickled rows into an RDD, so every consumer pays a
Python-worker stage:
about 1.6 s of CPU for a one-row frame on a 4-core host (NOTES.md,
"Python-worker stages on driver-sized data").
``rows_to_df`` builds the same frame as an Arrow ``LocalRelation``
instead — no job, no worker. ``createDataFrame(pandas)`` streams Arrow
batches; the conf is runtime-settable, so ``pandas_to_df`` forces it
on for the call and restores the session state — the driver's
unconfigured (vanilla) session gets the fast path too.
"""

from __future__ import annotations

from datetime import timezone
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

_ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


class _arrow_on:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        try:
            self.old = self.spark.conf.get(_ARROW_CONF)
        except Exception:
            self.old = None
        self.spark.conf.set(_ARROW_CONF, "true")

    def __exit__(self, *exc):
        if self.old is None:
            try:
                self.spark.conf.unset(_ARROW_CONF)
            except Exception:
                pass
        else:
            self.spark.conf.set(_ARROW_CONF, self.old)


def rows_to_df(
    spark: SparkSession, rows: Iterable[tuple], schema: str | StructType
) -> DataFrame:
    """``createDataFrame(rows, schema)`` as an Arrow ``LocalRelation``.

    Same rows and schema as the list form (``tests/test_properties.py``
    pins the parity), but the rows are shipped column-wise as one Arrow
    table and the plan is a ``LocalRelation``: consumers run no Python
    worker. Spark reads a ``pyarrow.Table`` through Arrow whatever the
    session's Arrow conf says. Naive ``TIMESTAMP`` values are taken in
    the process's local time zone, as the list form takes them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrays = []
    for values, field, atype in zip(cols, struct.fields, arrow.types):
        if isinstance(field.dataType, TimestampType):
            values = [
                v.astimezone(timezone.utc) if v is not None and v.tzinfo is None else v
                for v in values
            ]
        arrays.append(pa.array(values, type=atype))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


def pandas_to_df(
    spark: SparkSession, pdf: pd.DataFrame, schema: str | None
) -> DataFrame:
    """Arrow-batched ``createDataFrame``; ``schema=None`` infers it from
    the pandas dtypes."""
    if len(pdf) == 0 and schema is not None:
        return rows_to_df(spark, [], schema)
    with _arrow_on(spark):
        return spark.createDataFrame(pdf, schema)
