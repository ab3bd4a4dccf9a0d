"""Post-clustering: CC vs union-find oracle, 1:1 properties."""

import random

import pytest

from pydi_spark.clustering import (
    CentreClusterer,
    ConnectedComponentClusterer,
    GreedyOneToOneMatcher,
    HierarchicalClusterer,
    MaximumBipartiteMatcher,
    StableMatcher,
    connected_components,
)


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


import pytest


@pytest.mark.parametrize("strategy", ["hybrid", "distributed", "auto"])
def test_cc_matches_union_find_on_random_graph(spark, strategy):
    random.seed(7)
    nodes = [f"n{i:04d}" for i in range(300)]
    edges = []
    # chains + random extra edges
    for i in range(0, 280, 7):
        seg = nodes[i:i + 7]
        edges += list(zip(seg, seg[1:]))
    edges += [tuple(random.sample(nodes, 2)) for _ in range(40)]
    df = spark.createDataFrame(edges, "id1 string, id2 string").repartition(4)
    got = {r["record_id"]: r["cluster_id"]
           for r in connected_components(df, strategy=strategy).collect()}
    touched = sorted({a for a, _ in edges} | {b for _, b in edges})
    want = _union_find(touched, edges)
    assert got == {n: want[n] for n in touched}


@pytest.mark.parametrize("driver_node_limit", [5_000_000, 0])
def test_cc_auto_join_derived_edges(spark, monkeypatch, driver_node_limit):
    """'auto' on a join-derived edge frame (its size estimate fails the
    driver gate): the exact edge count sends a driver-sized set straight
    to the driver union-find without the mapInPandas forest, and
    driver_node_limit=0 still takes the forest. Both give the
    union-find components."""
    import importlib

    from pyspark.sql import functions as F

    from pydi_spark.core.plansize import fits_estimate

    cc = importlib.import_module("pydi_spark.clustering.connected_components")
    random.seed(11)
    nodes = [f"n{i:03d}" for i in range(120)]
    pairs = [tuple(random.sample(nodes, 2)) for _ in range(80)]
    raw = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "k int, a string, b string"
    )
    keep = spark.createDataFrame([(i,) for i in range(0, 80, 2)], "k int")
    edges = raw.join(keep, "k").select(F.col("a").alias("id1"), F.col("b").alias("id2"))
    assert not fits_estimate(edges, cc.DRIVER_SAFE_EDGE_BYTES)
    forests = []
    build = cc._build_forest

    def counted_build(e):
        forests.append(e)
        return build(e)

    monkeypatch.setattr(cc, "_build_forest", counted_build)
    got = {r["record_id"]: r["cluster_id"] for r in cc.connected_components(
        edges, driver_node_limit=driver_node_limit).collect()}
    kept = pairs[0::2]
    touched = sorted({a for a, _ in kept} | {b for _, b in kept})
    want = _union_find(touched, kept)
    assert got == {n: want[n] for n in touched}
    assert len(forests) == (0 if driver_node_limit else 1)


def test_cc_clusterer_closure_edges(spark):
    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8), ("x", "y", 0.7)],
        "id1 string, id2 string, score double",
    )
    out = ConnectedComponentClusterer().cluster(corr)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert got == {("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")}


def test_stable_matching_mutual_best(spark):
    corr = spark.createDataFrame(
        [("l1", "r1", 0.9), ("l1", "r2", 0.5), ("l2", "r1", 0.6), ("l2", "r2", 0.8)],
        "id1 string, id2 string, score double",
    )
    out = {(r["id1"], r["id2"]) for r in StableMatcher().cluster(corr).collect()}
    assert out == {("l1", "r1"), ("l2", "r2")}


def test_greedy_one_to_one(spark):
    corr = spark.createDataFrame(
        [("l1", "r1", 0.9), ("l2", "r1", 0.95), ("l2", "r2", 0.5), ("l1", "r2", 0.1)],
        "id1 string, id2 string, score double",
    )
    out = {(r["id1"], r["id2"]) for r in GreedyOneToOneMatcher().cluster(corr).collect()}
    # greedy takes l2-r1 (0.95) first, then l1-r2 (0.1)
    assert out == {("l2", "r1"), ("l1", "r2")}
    # property: at most one match per id
    ids1 = [a for a, _ in out]
    ids2 = [b for _, b in out]
    assert len(ids1) == len(set(ids1)) and len(ids2) == len(set(ids2))


def test_bipartite_beats_greedy_total_weight(spark):
    corr = spark.createDataFrame(
        [("l1", "r1", 0.9), ("l2", "r1", 0.95), ("l2", "r2", 0.94)],
        "id1 string, id2 string, score double",
    )
    out = {(r["id1"], r["id2"]) for r in MaximumBipartiteMatcher().cluster(corr).collect()}
    assert out == {("l1", "r1"), ("l2", "r2")}  # total 1.84 > greedy 0.95


def test_centre_clusterer(spark):
    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("a", "c", 0.8), ("c", "d", 0.7)],
        "id1 string, id2 string, score double",
    )
    got = {r["record_id"]: r["cluster_id"] for r in CentreClusterer().assign(corr).collect()}
    # 'a' becomes the first centre; d can't attach to non-centre c
    assert got["a"] == "a" and got["b"] == "a" and got["c"] == "a"
    assert "d" not in got


def test_hierarchical_min_similarity(spark):
    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.3)],
        "id1 string, id2 string, score double",
    )
    got = {r["record_id"]: r["cluster_id"] for r in
           HierarchicalClusterer(min_similarity=0.5).assign(corr).collect()}
    assert got["a"] == got["b"]
    assert got["c"] != got["a"]


def test_hierarchical_linkage_semantics(spark):
    """The triangle that separates the three linkages (reference
    hierarchical_clusterer.py:21-323 over PRESENT cross-pairs): sims
    (a,b)=.875 > (a,c)=.8125 > (b,c)=.3125, floor .5. After the forced
    first merge {a,b}, the {a,b}-{c} similarity is MIN->max(.8125,
    .3125)=.8125 (merge), AVG->.5625 (merge), MAX->.3125 (stop)."""
    corr = spark.createDataFrame(
        [("a", "b", 0.875), ("a", "c", 0.8125), ("b", "c", 0.3125)],
        "id1 string, id2 string, score double",
    )

    def clusters(linkage):
        rows = HierarchicalClusterer(
            linkage=linkage, min_similarity=0.5
        ).assign(corr).collect()
        return {r["record_id"]: r["cluster_id"] for r in rows}

    for linkage in ("MIN", "AVG"):
        got = clusters(linkage)
        assert got["a"] == got["b"] == got["c"] == "a", (linkage, got)
    got = clusters("MAX")
    assert got["a"] == got["b"] == "a" and got["c"] == "c", got


def test_incremental_assignment(spark):
    from pydi_spark.clustering.incremental import assign_new_records

    existing = spark.createDataFrame(
        [("e1", "c1"), ("e2", "c1"), ("e3", "c9")], "record_id string, cluster_id string"
    )
    new_ids = spark.createDataFrame([("n1",), ("n2",), ("n3",), ("n4",)], "record_id string")
    n2e = spark.createDataFrame(
        [("n1", "e2", 0.9), ("n1", "e3", 0.8), ("n4", "e3", 0.2)],
        "id1 string, id2 string, score double",
    )
    n2n = spark.createDataFrame(
        [("n2", "n3", 0.95)], "id1 string, id2 string, score double"
    )
    out = {r["record_id"]: r["cluster_id"] for r in
           assign_new_records(existing, new_ids, n2e, n2n, threshold=0.5).collect()}
    assert out["n1"] == "c1"        # adopts best match's cluster
    assert out["n2"] == out["n3"]   # new-new merge -> shared fresh cluster
    assert out["n2"] == "n2"        # fresh id = min new record id
    assert out["n4"] == "n4"        # sub-threshold match -> singleton


def test_greedy_auto_distributed_matches_exact(spark):
    # strategy='auto' above the edge limit runs the distributed epochs;
    # under the strict total order they converge to the sequential sweep
    rows = [
        ("l1", "r1", 0.9), ("l2", "r1", 0.95), ("l2", "r2", 0.5),
        ("l1", "r2", 0.1), ("l3", "r2", 0.45), ("l3", "r3", 0.45),
        ("l4", "r3", 0.45), ("l4", "r4", 0.2),
    ]
    corr = spark.createDataFrame(rows, "id1 string, id2 string, score double")
    exact = {(r["id1"], r["id2"])
             for r in GreedyOneToOneMatcher(strategy="exact").cluster(corr).collect()}
    # driver_edge_limit=0 forces the distributed path through 'auto'
    auto = {(r["id1"], r["id2"])
            for r in GreedyOneToOneMatcher(driver_edge_limit=0).cluster(corr).collect()}
    assert auto == exact


def test_driver_collect_caps(spark, monkeypatch):
    """r13 defensive caps (VERDICT r12 #8): a collect that exceeds the
    hard row ceiling must fall back (CC: contracted forest / distributed
    union-find — identical output) or refuse loudly (hierarchical,
    bipartite), never proceed with an unbounded driver frame."""
    import pytest

    import importlib

    # the package re-exports shadow the module attributes
    cc = importlib.import_module(
        "pydi_spark.clustering.connected_components"
    )
    hier_mod = importlib.import_module("pydi_spark.clustering.hierarchical")
    bip_mod = importlib.import_module(
        "pydi_spark.clustering.maximum_bipartite"
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id1 string, id2 string"
    )
    expected = {r["record_id"]: r["cluster_id"]
                for r in cc.connected_components(edges).collect()}
    # cap of 0 rows trips the direct-edge collect inside the auto path:
    # the exactly-counted forest branch must still produce identical
    # components
    monkeypatch.setattr(cc, "DRIVER_COLLECT_ROW_CAP", 0)
    capped = {r["record_id"]: r["cluster_id"]
              for r in cc.connected_components(edges).collect()}
    assert capped == expected
    # explicit hybrid with both collects capped refuses loudly
    with pytest.raises(RuntimeError, match="driver collect cap"):
        cc.connected_components(edges, strategy="hybrid").collect()

    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.8)],
        "id1 string, id2 string, score double",
    )
    # MAX linkage forces the sequential (collected) path
    h = hier_mod.HierarchicalClusterer(linkage="MAX", min_similarity=0.5)
    assert h.assign(corr).count() == 4
    monkeypatch.setattr(hier_mod, "DRIVER_SOLVE_ROW_CAP", 1)
    with pytest.raises(ValueError, match="driver-side sequential limit"):
        h.assign(corr)
    m = bip_mod.MaximumBipartiteMatcher()
    assert m.cluster(corr).count() == 2
    monkeypatch.setattr(bip_mod, "DRIVER_SOLVE_ROW_CAP", 1)
    with pytest.raises(ValueError, match="driver-side solver limit"):
        m.cluster(corr)
