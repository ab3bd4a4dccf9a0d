"""Rule-based matching: weighted-sum scoring over the blocked pair table.

Reference: RuleBasedMatcher (PyDI/entitymatching/rule_based.py:16-517):
per pair, fetch both records via index lookups (:118-119, :261-277), score
= sum(w_i * comparator_i(r1, r2)) (:302-339), keep score >= threshold
(:289-295). That per-pair Python loop becomes two hash joins
(pairs -> left records, pairs -> right records) plus one Column
expression per comparator — the whole thing is a single Catalyst plan
with whole-stage codegen, no Python unless a comparator needs the
pandas-UDF similarity tier.

Output: CorrespondenceSet ``[id1, id2, score, notes]``
(reference schema, entitymatching/base.py:14,52-57).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.blocking.base import resolve_side
from pydi_spark.core import plansize
from pydi_spark.core.dataset import Dataset
from pydi_spark.functions.comparators import BaseComparator


def join_pairs_to_records(
    pairs: DataFrame,
    left: Dataset | DataFrame,
    right: Dataset | DataFrame,
    id_column: str | None = None,
) -> DataFrame:
    """pairs[id1,id2,...] joined to both record tables, aliased l/r.

    The pair table is explicitly repartitioned first: when both record
    sides broadcast (the common case — dimensions are small next to the
    pair explosion), the whole downstream scoring pipeline would
    otherwise run inside the blocker's file-scan tasks — often ONE task
    for a small parquet probe side, serializing the quadratic per-pair
    work. An ids-only shuffle is narrow; the scoring width it buys is
    the same lesson as the band-join repartitions (NOTES.md)."""
    dl, idl = resolve_side(left, id_column)
    dr, idr = resolve_side(right, id_column)
    pairs = pairs.repartition(
        plansize.core_width(pairs.sparkSession), "id1", "id2"
    )
    return (
        pairs.alias("p")
        .join(dl.alias("l"), F.col("p.id1") == F.col(f"l.{idl}").cast("string"))
        .join(dr.alias("r"), F.col("p.id2") == F.col(f"r.{idr}").cast("string"))
    )


@dataclass
class RuleBasedMatcher:
    """Linear scoring rule over comparators.

    ``comparators``: list of BaseComparator or (BaseComparator, weight)
    tuples (reference weight parsing, rule_based.py:173-224). Weights are
    normalized to sum 1; a null comparator value contributes 0 (reference
    null->0.0 semantics, comparators.py:83-84).
    """

    comparators: list = field(default_factory=list)
    weights: list[float] | None = None

    def _parsed(self) -> list[tuple[BaseComparator, float]]:
        out: list[tuple[BaseComparator, float]] = []
        for i, c in enumerate(self.comparators):
            if isinstance(c, tuple):
                cmpr, w = c
            elif isinstance(c, dict):
                cmpr, w = c["comparator"], float(c.get("weight", 1.0))
            else:
                cmpr = c
                w = self.weights[i] if self.weights else 1.0
            out.append((cmpr, float(w)))
        total = sum(w for _, w in out)
        if total <= 0:
            raise ValueError("comparator weights must sum > 0")
        return [(c, w / total) for c, w in out]

    def score_expr(self) -> F.Column:
        parsed = self._parsed()
        acc = F.lit(0.0)
        for cmpr, w in parsed:
            sim = cmpr.expr(F.col(f"l.{cmpr.column}"), F.col(f"r.{cmpr.column}"))
            acc = acc + F.coalesce(sim, F.lit(0.0)) * F.lit(w)
        return acc

    def match(
        self,
        left: Dataset | DataFrame,
        right: Dataset | DataFrame,
        candidates: DataFrame,
        threshold: float = 0.0,
        id_column: str | None = None,
        debug: bool = False,
    ) -> DataFrame:
        """Score candidate pairs; keep >= threshold.

        ``debug=True`` adds one ``sim_{column}_{i}`` column per comparator
        (reference debug capture, rule_based.py:341-483).
        """
        joined = join_pairs_to_records(candidates, left, right, id_column)
        parsed = self._parsed()
        cols = [F.col("p.id1").alias("id1"), F.col("p.id2").alias("id2")]
        score = self.score_expr().alias("score")
        cols.append(score)
        cols.append(F.lit("rule_based").alias("notes"))
        if debug:
            for i, (cmpr, w) in enumerate(parsed):
                cols.append(
                    cmpr.expr(F.col(f"l.{cmpr.column}"), F.col(f"r.{cmpr.column}"))
                    .alias(f"sim_{cmpr.column}_{i}")
                )
        out = joined.select(*cols)
        return out.where(F.col("score") >= F.lit(float(threshold)))
