"""Fuzzy value canonicalization: collapse typo-variants of the same
string onto one canonical spelling.

The master-data step after profiling finds a free-text column with
near-duplicate spellings ("Muenchen" / "Munchen" / "Münchenn"):
cluster values whose edit distance is within ``max_distance`` and
rewrite every member to the cluster's canonical form. Composes three
existing machines — the ED-Join q-gram similarity join
(functions/joins.py), connected components (clustering/), and the
min-under-total-order canonical pick — so the scale contracts are
theirs: the join prunes with rarest-gram prefixes, CC is the driver /
star-contraction engine, and everything downstream is joins on the
DISTINCT-VALUE table (cardinality-bounded, not row-bounded).

Determinism: the canonical form is the component's minimum value in
string order (exactly connected_components' cluster_id contract), so
the mapping is a pure function of the value set.

Reference scope: PyDI normalizes values through parsers/transforms
but has no cross-ROW value clustering — beyond the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_mapping(
    df: DataFrame, col: str, max_distance: int, q: int
) -> DataFrame:
    """[value, canonical] — the shared core: distinct values -> edit
    join -> CC -> min-value label; singletons map to themselves.
    Checkpointed (it feeds multiple consumers: the sizes aggregate in
    canonicalize_values, or the rewrite join in apply_canonicalization
    — without it each action re-runs the distinct scan + CC join)."""
    from pydi_spark.clustering.connected_components import (
        connected_components,
    )
    from pydi_spark.functions import edit_distance_join

    vals = (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("value"))
        .distinct()
    )
    pairs = edit_distance_join(
        vals, None, "value", max_distance=max_distance,
        id_column="value", q=q,
    ).select("id1", "id2")
    comp = connected_components(pairs)
    return vals.join(
        comp, vals["value"] == comp["record_id"], "left"
    ).select(
        "value",
        F.coalesce(F.col("cluster_id"), F.col("value")).alias("canonical"),
    ).localCheckpoint(eager=False)


def canonicalize_values(
    df: DataFrame,
    col: str,
    max_distance: int = 1,
    q: int = 2,
) -> DataFrame:
    """[value, canonical, cluster_size] — one row per DISTINCT non-null
    value; ``canonical`` is the lexicographic minimum of its
    edit-distance component (self for singletons)."""
    mapped = _canonical_mapping(df, col, max_distance, q)
    sizes = mapped.groupBy("canonical").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return mapped.join(sizes, "canonical").select(
        "value", "canonical", "cluster_size"
    )


def apply_canonicalization(
    df: DataFrame,
    col: str,
    max_distance: int = 1,
    q: int = 2,
) -> DataFrame:
    """Rewrite ``col`` in place to each value's canonical form (nulls
    stay null). The mapping join is on the distinct-value table —
    broadcast-eligible for real categorical columns; the sizes
    aggregate canonicalize_values adds is never computed here."""
    mapping = _canonical_mapping(df, col, max_distance, q).select(
        F.col("value").alias("__v"), F.col("canonical").alias("__canon")
    )
    return (
        df.join(mapping, df[col].cast("string") == mapping["__v"], "left")
        .withColumn(col, F.coalesce(F.col("__canon"), F.col(col)))
        .drop("__v", "__canon")
    )
