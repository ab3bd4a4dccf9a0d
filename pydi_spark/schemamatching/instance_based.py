"""Instance-based schema matching: column-VALUE profile similarity.

Reference: InstanceBasedSchemaMatcher (PyDI/schemamatching/
instance_based.py:20-320): sample <= 1000 values per column (:70-89),
build term vectors (term_frequencies | binary_occurrence | tfidf,
:91-157), all-pairs vector similarity (cosine | jaccard | overlap),
threshold.

Spark shape: the per-column profiles come from ONE distributed pass per
table (one sample -> explode (column, value) cells and tokens -> count);
the similarity matrix over a few hundred small vectors is driver math.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.dataset import Dataset, as_dataframe
from pydi_spark.schemamatching.base import build_mapping, dataset_name, schema_columns


def _vector(counts: Counter, method: str, idf: dict[str, float] | None) -> dict[str, float]:
    if method == "binary_occurrence":
        return {t: 1.0 for t in counts}
    if method == "term_frequencies":
        return dict(counts)
    if method == "tfidf":
        return {t: c * (idf or {}).get(t, 1.0) for t, c in counts.items()}
    raise ValueError(f"unknown vector_creation_method: {method}")


def _cosine(a: dict, b: dict) -> float:
    dot = sum(v * b.get(t, 0.0) for t, v in a.items())
    na = math.sqrt(sum(v * v for v in a.values()))
    nb = math.sqrt(sum(v * v for v in b.values()))
    return dot / (na * nb) if na and nb else 0.0


def _jaccard(a: dict, b: dict) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb) if (sa or sb) else 0.0


def _overlap(a: dict, b: dict) -> float:
    sa, sb = set(a), set(b)
    m = min(len(sa), len(sb))
    return len(sa & sb) / m if m else 0.0


@dataclass
class InstanceBasedSchemaMatcher:
    vector_creation_method: str = "term_frequencies"
    similarity_function: str = "cosine"
    max_sample_size: int = 1000
    min_non_null_ratio: float = 0.1

    def _term_counts(self, df: DataFrame, columns: list[str]) -> dict[str, Counter]:
        """Token counts of the columns that pass the completeness filter
        (reference min_non_null_ratio). One aggregate gives the non-null
        counts and the sampling total; one pass samples the table once
        and explodes the kept columns as ``(col, v)`` cells."""
        row = df.agg(
            F.count("*").alias("__n"), *[F.count(F.col(c)).alias(c) for c in columns]
        ).collect()[0]
        total, n = row["__n"], self.max_sample_size
        out: dict[str, Counter] = {
            c: Counter()
            for c in columns
            if (row[c] or 0) / (total or 1) >= self.min_non_null_ratio
        }
        if not out:
            return out
        if total > n:
            df = df.sample(fraction=min(1.0, n * 1.2 / total), seed=42).limit(n)
        cells = F.array(
            *[F.struct(F.lit(c).alias("col"), F.col(c).cast("string").alias("v"))
              for c in out]
        )
        terms = df.select(F.explode(cells).alias("cell")).select(
            "cell.col",
            F.explode(F.split(F.lower(F.trim("cell.v")), r"[^\p{L}\p{N}]+")).alias("t"),
        )
        for r in terms.where("t != ''").groupBy("col", "t").count().collect():
            out[r["col"]][r["t"]] = r["count"]
        return out

    def match(
        self,
        source: Dataset | DataFrame,
        target: Dataset | DataFrame,
        threshold: float = 0.5,
    ) -> DataFrame:
        sdf = as_dataframe(source)
        s_counts = self._term_counts(sdf, schema_columns(source))
        t_counts = self._term_counts(as_dataframe(target), schema_columns(target))

        idf = None
        if self.vector_creation_method == "tfidf":
            docs = list(s_counts.values()) + list(t_counts.values())
            n_docs = len(docs) or 1
            df_counts: Counter = Counter()
            for d in docs:
                df_counts.update(set(d))
            idf = {t: math.log((1 + n_docs) / (1 + c)) + 1 for t, c in df_counts.items()}

        sim = {"cosine": _cosine, "jaccard": _jaccard, "overlap": _overlap}[
            self.similarity_function
        ]
        s_name, t_name = dataset_name(source, "source"), dataset_name(target, "target")
        rows = []
        for sc in s_counts:
            va = _vector(s_counts[sc], self.vector_creation_method, idf)
            for tc in t_counts:
                vb = _vector(t_counts[tc], self.vector_creation_method, idf)
                rows.append(
                    (s_name, sc, t_name, tc, float(sim(va, vb)), "instance_based")
                )
        return build_mapping(sdf.sparkSession, rows, threshold)
