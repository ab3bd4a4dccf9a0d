"""Greedy 1:1 matching.

Reference: GreedyOneToOneMatchingAlgorithm (PyDI/entitymatching/
post_clustering/greedy_one_to_one.py:19-211): sort pairs desc by score,
keep a pair iff neither endpoint is already used. Order-dependent global
state -> driver-side sweep over the *collected* correspondence set
(output-sized; SURVEY §4.3 decision). Deterministic tie-break
(score desc, id1, id2).

A distributed equivalent: iterate [rank-1-per-id1 ∧ rank-1-per-id2 ->
accept, remove endpoints] — each round is two windows + anti-joins.
Under the strict total order (score desc, id1, id2) the locally-dominant
edges accepted each round are exactly the edges the sequential sweep
accepts (the classic parallel-greedy equivalence; the local oracle for
cluster_greedy_one_to_one replays the same iteration in SQL), so run to
convergence the two agree. ``cluster`` runs the exact sweep when the
driver gate (``core/plansize.py::driver_table``) accepts the
correspondence set; otherwise — above ~5M correspondences, or when the
driver refuses the transfer — the distributed epochs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.clustering.base import apply_threshold
from pydi_spark.core import plansize

MAX_ROUNDS = 50  # distributed convergence cap


def driver_order(table):
    """Arrow ``[id1, id2, score, ...]`` -> pandas ``[id1, id2, score,
    __null]`` in Spark's ``orderBy(desc("score"), "id1", "id2")`` order:
    NaN scores first, null ones last (``__null`` is the Arrow null mask:
    pandas makes both NaN), null ids first."""
    pdf = table.select(["id1", "id2", "score"]).to_pandas()
    pdf["__null"] = table.column("score").is_null().to_numpy(zero_copy_only=False)
    return pdf.sort_values(
        ["__null", "score", "id1", "id2"],
        ascending=[True, False, True, True],
        na_position="first",
    )


@dataclass
class GreedyOneToOneMatcher:
    threshold: float | None = None

    def cluster(self, correspondences: DataFrame) -> DataFrame:
        corr = apply_threshold(correspondences, self.threshold)
        # Arrow transfer: the sweep is output-sized by design, but py4j
        # row pickling still dominated at 1e5+ correspondences. Sorted
        # on the driver: a Spark orderBy costs a sampling job and an
        # exchange.
        corr, table = plansize.driver_table(corr, plansize.DRIVER_EDGE_LIMIT)
        if table is not None:
            return self._sweep(corr, table)
        return self._distributed(corr)

    @staticmethod
    def _sweep(corr: DataFrame, table) -> DataFrame:
        from pydi_spark.core.arrowio import pandas_to_df

        pdf = driver_order(table)
        used1: set = set()
        used2: set = set()
        kept = []
        for a, b in zip(pdf["id1"].tolist(), pdf["id2"].tolist()):
            kept.append(a not in used1 and b not in used2)
            if kept[-1]:
                used1.add(a)
                used2.add(b)
        out = pandas_to_df(
            corr.sparkSession, pdf.loc[kept, ["id1", "id2"]], "id1 string, id2 string"
        )
        return corr.join(out, ["id1", "id2"], "left_semi")

    def _distributed(self, corr: DataFrame) -> DataFrame:
        remaining = corr.select("id1", "id2", "score")
        accepted = None
        for _ in range(MAX_ROUNDS):
            if remaining.isEmpty():
                break
            w1 = Window.partitionBy("id1").orderBy(F.desc("score"), F.col("id2"))
            w2 = Window.partitionBy("id2").orderBy(F.desc("score"), F.col("id1"))
            best = (
                remaining.withColumn("__r1", F.row_number().over(w1))
                .withColumn("__r2", F.row_number().over(w2))
                .where("__r1 = 1 AND __r2 = 1")
                .drop("__r1", "__r2")
            )
            accepted = best if accepted is None else accepted.unionByName(best)
            remaining = (
                remaining.join(best.select("id1"), "id1", "left_anti")
                .join(best.select("id2"), "id2", "left_anti")
                .localCheckpoint(eager=True)
            )
        if accepted is None:
            return corr.limit(0)
        return corr.join(accepted.select("id1", "id2"), ["id1", "id2"], "left_semi")
