"""Sources: loaders with provenance + ID injection.

Reference surface: PyDI/io/loaders.py (load_csv :336, load_table :1015,
load_fwf :365, load_json :434, load_parquet :503, load_excel :532,
load_xml :563, load_feather :925, load_pickle :954, load_html :985), all
funnelling through ``load_with_provenance`` (:238-330) which injects a
unique id column (:127-176) and provenance attrs (:179-235).

Spark-first mapping:
- Columnar/splittable formats (parquet/csv/json/xml/text) go through the
  native distributed readers — predicate pushdown and column pruning reach
  the scan; no driver materialization.
- Driver-only formats the reference supports (excel/html/feather) are
  loaded via pandas on the driver and handed to Spark as an Arrow local
  relation (``core.arrowio.pandas_to_df``); they are small-file formats
  by nature and clearly documented as such.
- ``load_pickle`` requires an explicit ``allow_unsafe=True`` opt-in
  (unpickling executes arbitrary code); it loads a pandas pickle on the
  driver the same way — a small-file interchange path, like excel/html.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import pandas_to_df
from pydi_spark.core.dataset import Dataset, file_provenance
from pydi_spark.core.ids import add_id_column


def _finalize(
    df: DataFrame,
    name: str,
    path: str,
    reader: str,
    add_index: bool,
    index_column_name: str | None,
    id_prefix: str | None,
    trust_score: float | None = None,
) -> Dataset:
    id_col = None
    if add_index:
        df, id_col = add_id_column(
            df, prefix=id_prefix or name, id_column=index_column_name
        )
    prov = file_provenance(path, reader)
    return Dataset.wrap(df, name=name, id_column=id_col,
                        trust_score=trust_score, **prov)


def load_parquet(
    spark: SparkSession,
    path: str,
    name: str,
    add_index: bool = False,
    index_column_name: str | None = None,
    id_prefix: str | None = None,
    trust_score: float | None = None,
) -> Dataset:
    """Parquet scan (reference: io/loaders.py:503-529)."""
    df = spark.read.parquet(path)
    return _finalize(df, name, path, "parquet", add_index,
                     index_column_name, id_prefix, trust_score)


def load_orc(
    spark: SparkSession,
    path: str,
    name: str,
    add_index: bool = False,
    index_column_name: str | None = None,
    id_prefix: str | None = None,
    trust_score: float | None = None,
) -> Dataset:
    """ORC scan — beyond the reference's format list (Spark-native
    columnar interchange with the Hive/Trino world; same pushdown and
    pruning behavior as parquet)."""
    df = spark.read.orc(path)
    return _finalize(df, name, path, "orc", add_index,
                     index_column_name, id_prefix, trust_score)


def load_csv(
    spark: SparkSession,
    path: str,
    name: str,
    add_index: bool = False,
    index_column_name: str | None = None,
    id_prefix: str | None = None,
    trust_score: float | None = None,
    header: bool = True,
    sep: str = ",",
    schema: Any = None,
    infer_schema: bool = True,
    **options: Any,
) -> Dataset:
    """CSV scan (reference: io/loaders.py:336-362)."""
    reader = spark.read.options(header=header, sep=sep, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    df = reader.csv(path)
    return _finalize(df, name, path, "csv", add_index,
                     index_column_name, id_prefix, trust_score)


def load_table(spark: SparkSession, path: str, name: str, **kwargs: Any) -> Dataset:
    """Tab-separated variant (reference: io/loaders.py:1015-1043)."""
    kwargs.setdefault("sep", "\t")
    return load_csv(spark, path, name, **kwargs)


def load_json(
    spark: SparkSession,
    path: str,
    name: str,
    add_index: bool = False,
    index_column_name: str | None = None,
    id_prefix: str | None = None,
    trust_score: float | None = None,
    multiline: bool = True,
    **options: Any,
) -> Dataset:
    """JSON scan; nested structs/arrays are native in Spark so the
    reference's ``nested_handling='aggregate'`` (io/loaders.py:434-500,
    lists kept as list cells) is the default representation here."""
    df = spark.read.options(multiLine=multiline, **options).json(path)
    return _finalize(df, name, path, "json", add_index,
                     index_column_name, id_prefix, trust_score)


def load_fwf(
    spark: SparkSession,
    path: str,
    name: str,
    colspecs: list[tuple[int, int]],
    columns: list[str],
    add_index: bool = False,
    index_column_name: str | None = None,
    id_prefix: str | None = None,
    trust_score: float | None = None,
) -> Dataset:
    """Fixed-width file (reference: io/loaders.py:365-431) as a distributed
    ``spark.read.text`` + substring projections — stays splittable."""
    raw = spark.read.text(path)
    cols = [
        F.trim(F.substring(F.col("value"), start + 1, stop - start)).alias(col)
        for (start, stop), col in zip(colspecs, columns)
    ]
    df = raw.select(*cols)
    return _finalize(df, name, path, "fwf", add_index,
                     index_column_name, id_prefix, trust_score)


def load_xml(
    spark: SparkSession,
    path: str,
    name: str,
    record_tag: str | None = None,
    nested_handling: str = "aggregate",
    add_index: bool = False,
    index_column_name: str | None = None,
    id_prefix: str | None = None,
    trust_score: float | None = None,
    **options: Any,
) -> Dataset:
    """XML scan via Spark's native XML source (Spark 4+).

    Reference: io/loaders.py:563-706 with ``nested_handling`` in
    {explode, aggregate, raw}: *aggregate* keeps repeated children as
    ArrayType list cells (:831-855) — the native representation here;
    *explode* produces the cartesian flattening (:856-866) via chained
    ``F.explode`` on every array column; *raw* keeps nested structs.
    ``record_tag`` auto-detect (:778-785) = driver-side sniff of the head.
    """
    if record_tag is None:
        record_tag = _sniff_record_tag(path)
    df = spark.read.options(**options).format("xml").option("rowTag", record_tag).load(path)
    df = _flatten_xml(df, nested_handling)
    return _finalize(df, name, path, "xml", add_index,
                     index_column_name, id_prefix, trust_score)


def _sniff_record_tag(path: str, max_events: int = 10000) -> str:
    """Most frequent *direct child of the root* (reference:
    io/loaders.py:778-785). Incremental parse of the head only — never
    materializes a large file on the driver."""
    import collections
    import xml.etree.ElementTree as ET

    counts: collections.Counter = collections.Counter()
    depth = 0
    for i, (event, elem) in enumerate(ET.iterparse(path, events=("start", "end"))):
        if event == "start":
            depth += 1
            if depth == 2:
                counts[elem.tag] += 1
        else:
            depth -= 1
        if i >= max_events and counts:
            break
    if not counts:
        raise ValueError(f"cannot auto-detect record tag in {path}")
    return counts.most_common(1)[0][0]


def _flatten_xml(df: DataFrame, nested_handling: str) -> DataFrame:
    from pyspark.sql.types import ArrayType, StructType

    if nested_handling == "raw":
        return df

    # Flatten struct columns to "{parent}_{child}" names, like the
    # reference's recursive flattening (io/loaders.py:788-868).
    def flatten_structs(d: DataFrame) -> DataFrame:
        while True:
            struct_cols = [f.name for f in d.schema.fields
                           if isinstance(f.dataType, StructType)]
            if not struct_cols:
                return d
            cols = []
            for f in d.schema.fields:
                if isinstance(f.dataType, StructType):
                    for sub in f.dataType.fields:
                        cols.append(F.col(f"`{f.name}`.`{sub.name}`")
                                    .alias(f"{f.name}_{sub.name}"))
                else:
                    cols.append(F.col(f"`{f.name}`"))
            d = d.select(*cols)

    df = flatten_structs(df)
    if nested_handling == "aggregate":
        # arrays of structs -> per-field arrays ("aggregate" list cells)
        def field_getter(field_name: str):
            # closure, NOT a defaulted 2-arg lambda (transform would pass
            # the element index as the second argument)
            return lambda x: x[field_name]

        for f in list(df.schema.fields):
            if isinstance(f.dataType, ArrayType) and isinstance(
                f.dataType.elementType, StructType
            ):
                for sub in f.dataType.elementType.fields:
                    df = df.withColumn(
                        f"{f.name}_{sub.name}",
                        F.transform(F.col(f.name), field_getter(sub.name)),
                    )
                df = df.drop(f.name)
        return df
    if nested_handling == "explode":
        # cartesian product across repeated child lists (io/loaders.py:856-866)
        changed = True
        while changed:
            changed = False
            for f in df.schema.fields:
                if isinstance(f.dataType, ArrayType):
                    df = df.withColumn(f.name, F.explode_outer(F.col(f.name)))
                    changed = True
                    break
            df = flatten_structs(df)
        return df
    raise ValueError(f"unknown nested_handling: {nested_handling}")


def _pandas_to_spark(spark: SparkSession, pdf: Any) -> DataFrame:
    pdf = pdf.convert_dtypes()
    pdf.columns = [str(c) for c in pdf.columns]
    return pandas_to_df(spark, pdf.astype(object).where(pdf.notna(), None), None)


def load_excel(
    spark: SparkSession,
    path: str,
    name: str,
    sheet_name: Any = None,
    add_index: bool = False,
    **kwargs: Any,
) -> dict[str, Dataset]:
    """Multi-sheet Excel -> dict of Datasets named ``{base}_{sheet}``
    (reference: io/loaders.py:532-560, fan-out :308-326). Driver-side
    read — Excel is a small-file format. Uses ``pandas.read_excel``
    when its engine (openpyxl) is importable, else the repo's
    pure-stdlib SpreadsheetML codec (io/xlsx.py), so the loader works
    without optional dependencies."""
    import pandas as pd

    try:
        sheets = pd.read_excel(path, sheet_name=sheet_name, **kwargs)
        if not isinstance(sheets, dict):
            sheets = {str(sheet_name or 0): sheets}
    except ImportError:
        from pydi_spark.io.xlsx import read_xlsx

        parsed = read_xlsx(path)
        if sheet_name is not None and not isinstance(sheet_name, (list, tuple)):
            if isinstance(sheet_name, int):
                key = list(parsed)[sheet_name]
            else:
                key = sheet_name
            parsed = {key: parsed[key]}
        sheets = {
            s: pd.DataFrame(rows, columns=cols)
            for s, (cols, rows) in parsed.items()
        }
    out: dict[str, Dataset] = {}
    for sheet, pdf in sheets.items():
        ds_name = f"{name}_{sheet}" if len(sheets) > 1 else name
        df = _pandas_to_spark(spark, pdf)
        out[ds_name] = _finalize(df, ds_name, path, "excel", add_index, None, None)
    return out


def load_html(
    spark: SparkSession, path: str, name: str, add_index: bool = False, **kwargs: Any
) -> dict[str, Dataset]:
    """HTML tables per page (reference: io/loaders.py:985-1012);
    driver-side ``pandas.read_html`` when lxml/bs4 is importable, else
    the repo's stdlib table parser (io/htmltables.py)."""
    import pandas as pd

    try:
        tables = pd.read_html(path, **kwargs)
    except ImportError:
        from pydi_spark.io.htmltables import read_html_tables

        with open(path, encoding=kwargs.get("encoding", "utf-8")) as fh:
            text = fh.read()
        tables = [
            pd.DataFrame(rows, columns=cols)
            for cols, rows in read_html_tables(text)
        ]
    out: dict[str, Dataset] = {}
    for i, pdf in enumerate(tables):
        ds_name = f"{name}_{i}" if len(tables) > 1 else name
        df = _pandas_to_spark(spark, pdf)
        out[ds_name] = _finalize(df, ds_name, path, "html", add_index, None, None)
    return out


def load_pickle(
    spark: SparkSession,
    path: str,
    name: str,
    add_index: bool = False,
    allow_unsafe: bool = False,
    **kwargs: Any,
) -> Dataset:
    """Pickled pandas DataFrame -> Dataset (reference:
    io/loaders.py:954-984). Driver-side like the other small-file
    interchange loaders, and **opt-in only**: unpickling executes
    arbitrary code from the file, so the caller must pass
    ``allow_unsafe=True`` and should only do so for files they
    produced themselves. Prefer the parquet round-trip for anything
    crossing a trust boundary — this loader exists for parity with
    pipelines that already persist ``to_pickle`` artifacts."""
    if not allow_unsafe:
        raise ValueError(
            "load_pickle deserializes arbitrary code; pass "
            "allow_unsafe=True only for files you created yourself "
            "(use parquet for anything crossing a trust boundary)"
        )
    import pandas as pd

    pdf = pd.read_pickle(path, **kwargs)
    if not isinstance(pdf, pd.DataFrame):
        raise TypeError(
            "load_pickle expected a pandas DataFrame in the pickle file"
        )
    df = _pandas_to_spark(spark, pdf)
    return _finalize(df, name, path, "pickle", add_index, None, None)


def load_feather(
    spark: SparkSession, path: str, name: str, add_index: bool = False, **kwargs: Any
) -> Dataset:
    """Feather via arrow on the driver (reference: io/loaders.py:925-951)."""
    import pyarrow.feather as feather

    pdf = feather.read_feather(path, **kwargs)
    df = pandas_to_df(spark, pdf, None)
    return _finalize(df, name, path, "feather", add_index, None, None)


def nanos_to_timestamp(df: DataFrame, column: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) regardless of
    how the parquet encodes it: TIMESTAMP(NANOS) read as a long under
    spark.sql.legacy.parquet.nanosAsLong (microsecond truncation), or
    TIMESTAMP(MICROS, isAdjustedToUTC=false) read as TIMESTAMP_NTZ
    (interpreted in the session TZ — callers pin UTC). Watermarks and
    time windows require the LTZ flavor."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[column].dataType
    if isinstance(dt, LongType):
        # integral `div`, NOT `/1000` (double division rounds the low
        # digits and shifts ~25% of timestamps by 1 microsecond)
        return df.withColumn(
            column, F.timestamp_micros(F.expr(f"`{column}` div 1000"))
        )
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(column, F.col(column).cast("timestamp"))
    return df


# -- value-shape helpers (reference: io/loaders.py:85-107, 886-922) ------

def list_to_string(col: str, sep: str = ", ") -> F.Column:
    """Join list cells into display strings (io/loaders.py:85-107)."""
    return F.array_join(F.col(col), sep)


def explode_delimited(
    df: DataFrame, column: str, pattern: str = r"\s+and\s+|,|;"
) -> DataFrame:
    """Split delimited strings into rows (io/loaders.py:886-922):
    ``explode(split(col, pattern))`` with trimming."""
    return df.withColumn(
        column,
        F.explode(F.transform(F.split(F.col(column), pattern), lambda x: F.trim(x))),
    )
