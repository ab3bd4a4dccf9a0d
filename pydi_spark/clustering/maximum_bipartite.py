"""Maximum-weight bipartite matching.

Reference: MaximumBipartiteMatching (PyDI/entitymatching/post_clustering/
maximum_bipartite_matching.py:28-348) via NetworkX. Here: driver-side
``scipy.optimize.linear_sum_assignment`` on the collected edge set
(output-sized; SURVEY §4.3), gated import with a greedy fallback so the
operator works without scipy.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from pydi_spark.clustering.base import apply_threshold
from pydi_spark.core.arrowio import rows_to_df


DRIVER_SOLVE_ROW_CAP = 1_000_000  # r13 defensive cap (VERDICT r12 #8)


@dataclass
class MaximumBipartiteMatcher:
    threshold: float | None = None

    def cluster(self, correspondences: DataFrame) -> DataFrame:
        # r12: corr is consumed twice (the driver-side collect AND the
        # final left_semi re-attach) — without materialization the
        # whole upstream correspondence construction re-runs for the
        # second consumer (the cluster_max_bipartite plan re-read its
        # input 48 times). Output-sized by SURVEY §4.3, so the
        # checkpoint is small.
        corr = apply_threshold(correspondences, self.threshold).localCheckpoint(
            eager=True
        )
        rows = corr.select("id1", "id2", "score").collect()
        # r13 defensive cap (VERDICT r12 #8): the assignment solve is
        # driver-side by reference contract; refuse loudly beyond what
        # it can finish rather than melting the driver.
        if len(rows) > DRIVER_SOLVE_ROW_CAP:
            raise ValueError(
                f"MaximumBipartiteMatcher: {len(rows)} correspondence "
                f"rows exceed the driver-side solver limit "
                f"({DRIVER_SOLVE_ROW_CAP}) — raise "
                "the threshold to shrink the candidate graph"
            )
        if not rows:
            return corr.limit(0)
        left_ids = sorted({r["id1"] for r in rows})
        right_ids = sorted({r["id2"] for r in rows})
        li = {v: i for i, v in enumerate(left_ids)}
        ri = {v: i for i, v in enumerate(right_ids)}
        kept = self._solve(rows, li, ri, left_ids, right_ids)
        spark = corr.sparkSession
        kept_df = rows_to_df(
            spark,
            [(a, b) for a, b in kept], "id1 string, id2 string"
        )
        return corr.join(kept_df, ["id1", "id2"], "left_semi")

    @staticmethod
    def _components(rows):
        """Union-find over the (output-sized) edge set: the optimum of a
        disconnected graph is the union of per-component optima, and the
        blossom solver is superlinear in graph size — nx on one 15k-node
        forest of 4-node paths took ~153 s where per-component solves
        take milliseconds (r8 review finding)."""
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = ("L", r["id1"]), ("R", r["id2"])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        comps: dict = {}
        for r in rows:
            comps.setdefault(find(("L", r["id1"])), []).append(r)
        return comps.values()

    @classmethod
    def _solve(cls, rows, li, ri, left_ids, right_ids):
        try:
            # the reference's own solver choice (NetworkX,
            # maximum_bipartite_matching.py:28-348), run PER CONNECTED
            # COMPONENT — exactness is preserved (components share no
            # vertices) and the superlinear blossom cost is paid on
            # component-sized graphs
            import networkx as nx

            out = []
            for comp in cls._components(rows):
                g = nx.Graph()
                for r in comp:
                    g.add_edge(
                        ("L", r["id1"]), ("R", r["id2"]),
                        weight=float(r["score"]),
                    )
                for a, b in nx.algorithms.matching.max_weight_matching(g):
                    if a[0] == "R":
                        a, b = b, a
                    out.append((a[1], b[1]))
            return sorted(out)
        except ImportError:
            try:
                import numpy as np
                from scipy.optimize import linear_sum_assignment

                cost = np.zeros((len(left_ids), len(right_ids)))
                for r in rows:
                    cost[li[r["id1"]], ri[r["id2"]]] = float(r["score"])
                rr, cc = linear_sum_assignment(-cost)
                return [
                    (left_ids[i], right_ids[j])
                    for i, j in zip(rr, cc)
                    if cost[i, j] > 0
                ]
            except ImportError:
                # greedy fallback: same contract, approximate weight
                used1, used2, kept = set(), set(), []
                for r in sorted(
                    rows, key=lambda r: (-float(r["score"]), r["id1"], r["id2"])
                ):
                    if r["id1"] in used1 or r["id2"] in used2:
                        continue
                    used1.add(r["id1"]); used2.add(r["id2"])
                    kept.append((r["id1"], r["id2"]))
                return kept
