"""The ``Dataset`` wrapper: a Spark DataFrame plus integration metadata.

The reference stores ``dataset_name``, provenance, and per-source trust in
``pandas.DataFrame.attrs`` (PyDI/io/loaders.py:179-235,
PyDI/fusion/provenance.py:371-425) and *requires* ``dataset_name``
downstream (fusion raises without it, PyDI/fusion/engine.py:398-401).
Spark DataFrames carry no instance metadata, so the engine wraps them in a
thin dataclass. Every operator accepts either a ``Dataset`` or a plain
``DataFrame`` (the escape hatch); operators that need metadata raise a
clear error when given a bare DataFrame.

``Dataset`` is deliberately *not* an execution object: the wrapped ``df``
stays lazy and all transformations return plain DataFrames or new
``Dataset``s sharing the lazy plan.
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame


def _utcnow_iso() -> str:
    return _dt.datetime.now(_dt.timezone.utc).isoformat()


@dataclass
class Dataset:
    """A named DataFrame with provenance and trust metadata."""

    df: DataFrame
    name: str
    id_column: str | None = None
    provenance: dict[str, Any] = field(default_factory=dict)
    trust_score: float | None = None

    # -- construction -------------------------------------------------
    @staticmethod
    def wrap(
        df: DataFrame,
        name: str,
        id_column: str | None = None,
        trust_score: float | None = None,
        **provenance: Any,
    ) -> "Dataset":
        prov = {"dataset_name": name, "loaded_time": _utcnow_iso(), **provenance}
        if id_column:
            prov.setdefault("id_column_name", id_column)
        return Dataset(df=df, name=name, id_column=id_column,
                       provenance=prov, trust_score=trust_score)

    # -- functional updates -------------------------------------------
    def with_df(self, df: DataFrame) -> "Dataset":
        """Same metadata, new (lazy) plan."""
        return replace(self, df=df)

    def with_provenance(self, op: str, **params: Any) -> "Dataset":
        """Append an operation-level provenance entry
        (reference: datatranslation/mapping_translator.py:144-188)."""
        entry = {"op": op, "params": params, "ts": _utcnow_iso()}
        ops = list(self.provenance.get("operations", [])) + [entry]
        return replace(self, provenance={**self.provenance, "operations": ops})

    def with_column_provenance(self, column: str, **entry: Any) -> "Dataset":
        """Append a per-column lineage entry (reference: the translator
        writes ``Series.attrs`` per translated column,
        datatranslation/mapping_translator.py:144-188). Entries
        accumulate under ``provenance['columns'][column]``."""
        cols = {k: list(v) for k, v in self.provenance.get("columns", {}).items()}
        cols.setdefault(column, []).append({**entry, "ts": _utcnow_iso()})
        return replace(self, provenance={**self.provenance, "columns": cols})

    def column_provenance(self, column: str) -> list[dict[str, Any]]:
        """Lineage entries recorded for ``column`` (empty if none)."""
        return list(self.provenance.get("columns", {}).get(column, []))

    def with_trust(self, trust_score: float) -> "Dataset":
        return replace(self, trust_score=trust_score)

    # -- convenience ---------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def schema_columns(self) -> list[str]:
        """Data columns excluding the synthetic id column
        (reference: schemamatching/base.py:32-48)."""
        return [c for c in self.df.columns if c != self.id_column]


def as_dataframe(data: "Dataset | DataFrame") -> DataFrame:
    return data.df if isinstance(data, Dataset) else data


def file_provenance(path: str, reader: str) -> dict[str, Any]:
    """File-level provenance like the reference's ``_compute_file_metadata``
    (PyDI/io/loaders.py:36-82), minus content hashing: at 100 TB we record
    identity (path/size/mtime), not a driver-side sha256 of the bytes."""
    info: dict[str, Any] = {"reader": reader, "source_path": path}
    try:
        st = os.stat(path)
        info["file_size"] = st.st_size
        info["mtime"] = _dt.datetime.fromtimestamp(
            st.st_mtime, _dt.timezone.utc
        ).isoformat()
    except OSError:
        pass
    return info
