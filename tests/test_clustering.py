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


@pytest.mark.parametrize("strategy", ["distributed", "auto"])
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


@pytest.mark.parametrize("edge_limit", [5_000_000, 0])
def test_cc_auto_join_derived_edges(spark, monkeypatch, edge_limit):
    """'auto' on a join-derived edge frame: the exact edge count sends a
    driver-sized set straight to the driver union-find without the
    mapInPandas forest, and an edge limit of 0 still takes the forest.
    Both give the union-find components."""
    import importlib

    from pyspark.sql import functions as F

    from pydi_spark.core import plansize

    cc = importlib.import_module("pydi_spark.clustering.connected_components")
    monkeypatch.setattr(plansize, "DRIVER_EDGE_LIMIT", edge_limit)
    random.seed(11)
    nodes = [f"n{i:03d}" for i in range(120)]
    pairs = [tuple(random.sample(nodes, 2)) for _ in range(80)]
    raw = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)], "k int, a string, b string"
    )
    keep = spark.createDataFrame([(i,) for i in range(0, 80, 2)], "k int")
    edges = raw.join(keep, "k").select(F.col("a").alias("id1"), F.col("b").alias("id2"))
    forests = []
    build = cc._build_forest

    def counted_build(e):
        forests.append(e)
        return build(e)

    monkeypatch.setattr(cc, "_build_forest", counted_build)
    got = {r["record_id"]: r["cluster_id"]
           for r in cc.connected_components(edges).collect()}
    kept = pairs[0::2]
    touched = sorted({a for a, _ in kept} | {b for _, b in kept})
    want = _union_find(touched, kept)
    assert got == {n: want[n] for n in touched}
    assert len(forests) == (0 if edge_limit else 1)


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


def test_greedy_driver_order_matches_spark_order_by(spark):
    """The sweep's driver-side sort reproduces the Spark orderBy it
    replaced: score descending with NaN first and nulls last, then id1
    and id2 ascending with nulls first — on ties, NaN, null scores and
    null ids."""
    import math

    from pyspark.sql import functions as F

    from pydi_spark.clustering.greedy_one_to_one import driver_order

    nan = float("nan")
    rows = [
        ("b", "y", 0.5), ("a", "y", 0.5), ("a", "x", 0.5), (None, "x", 0.5),
        ("a", None, 0.5), (None, None, 0.5), ("c", "z", nan), ("a", "z", nan),
        ("c", "w", None), (None, "w", None), ("a", "w", None), ("d", "v", 1.0),
        ("d", "u", -0.0), ("e", "u", 0.0), ("e", "v", float("inf")),
        ("f", "t", float("-inf")), ("a", "x", 0.5), ("é", "s", 0.25),
        ("z", "s", 0.25), ("Z", "s", 0.25),
    ]
    corr = spark.createDataFrame(rows, "id1 string, id2 string, score double")

    def key(id1, id2, score, null):
        s = "null" if null else ("nan" if math.isnan(score) else score)
        return (id1, id2, s)

    want = [
        key(r["id1"], r["id2"], r["score"], r["score"] is None)
        for r in corr.orderBy(F.desc("score"), "id1", "id2").collect()
    ]
    pdf = driver_order(corr.toArrow())
    got = [key(*t) for t in zip(pdf["id1"], pdf["id2"], pdf["score"], pdf["__null"])]
    assert got == want


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


def test_greedy_auto_distributed_matches_exact(spark, monkeypatch):
    # a gate that accepts nothing sends the matcher to the distributed
    # epochs; under the strict total order they converge to the
    # sequential driver sweep
    from pydi_spark.core import plansize

    rows = [
        ("l1", "r1", 0.9), ("l2", "r1", 0.95), ("l2", "r2", 0.5),
        ("l1", "r2", 0.1), ("l3", "r2", 0.45), ("l3", "r3", 0.45),
        ("l4", "r3", 0.45), ("l4", "r4", 0.2),
    ]
    corr = spark.createDataFrame(rows, "id1 string, id2 string, score double")
    calls = []
    distributed = GreedyOneToOneMatcher._distributed

    def counted(self, c):
        calls.append(c)
        return distributed(self, c)

    monkeypatch.setattr(GreedyOneToOneMatcher, "_distributed", counted)
    sweep = {(r["id1"], r["id2"])
             for r in GreedyOneToOneMatcher().cluster(corr).collect()}
    assert not calls
    monkeypatch.setattr(plansize, "DRIVER_EDGE_LIMIT", 0)
    epochs = {(r["id1"], r["id2"])
              for r in GreedyOneToOneMatcher().cluster(corr).collect()}
    assert len(calls) == 1
    assert epochs == sweep


def test_driver_collect_caps(spark, monkeypatch):
    """r13 defensive caps (VERDICT r12 #8): a frame past its driver row
    cap must fall back (CC, greedy: the distributed path — identical
    output) or refuse loudly (hierarchical, bipartite, centre), never
    proceed with an unbounded driver frame."""
    from pydi_spark.core import plansize

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id1 string, id2 string"
    )
    expected = {r["record_id"]: r["cluster_id"]
                for r in connected_components(edges).collect()}
    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.8), ("c", "b", 0.7)],
        "id1 string, id2 string, score double",
    )
    greedy = {(r["id1"], r["id2"])
              for r in GreedyOneToOneMatcher().cluster(corr).collect()}
    # a limit of 0 rows refuses every collect behind the gate: the
    # edges', then the forest's — the distributed rounds must still
    # produce identical components, and greedy's epochs the same matching
    monkeypatch.setattr(plansize, "DRIVER_EDGE_LIMIT", 0)
    capped = {r["record_id"]: r["cluster_id"]
              for r in connected_components(edges).collect()}
    assert capped == expected
    assert {(r["id1"], r["id2"])
            for r in GreedyOneToOneMatcher().cluster(corr).collect()} == greedy

    # MAX linkage forces the sequential (collected) path
    h = HierarchicalClusterer(linkage="MAX", min_similarity=0.5)
    m = MaximumBipartiteMatcher()
    c = CentreClusterer()
    assert h.assign(corr).count() == 4
    assert m.cluster(corr).count() == 2
    assert c.assign(corr).count() == 4
    monkeypatch.setattr(plansize, "DRIVER_SOLVE_ROW_CAP", 2)
    for solve in (h.assign, m.cluster, c.assign):
        with pytest.raises(ValueError, match="driver-side solver limit"):
            solve(corr)


def test_driver_gate_counts_once_and_materializes_checkpoint(spark):
    """A frame offered to the driver gate is checkpointed and counted in
    one job over its rows, with no eager checkpoint's own count and no
    aggregate exchange before it; the Arrow collect is the only other
    job. The count materializes the checkpoint, so the collect does not
    re-run the lineage (the accumulator sees every row once)."""
    from pydi_spark.core.plansize import driver_table

    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def tap(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    edges = spark.createDataFrame(
        [(f"a{i}", f"b{i}") for i in range(50)], "id1 string, id2 string"
    ).mapInPandas(tap, "id1 string, id2 string")
    result = {}
    jobs = _jobs_in_group(
        sc, "driver-gate-job-budget",
        lambda: result.update(table=driver_table(edges, 50)[1]),
    )
    assert result["table"].num_rows == 50
    assert jobs <= 2, jobs
    assert seen.value == 50
    # one row past the cap: the count job alone, and no table
    jobs = _jobs_in_group(
        sc, "driver-gate-refused",
        lambda: result.update(table=driver_table(edges, 49)[1]),
    )
    assert result["table"] is None
    assert jobs <= 1, jobs


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


def test_driver_solver_job_budget(spark):
    """The driver-only solvers gate on one exact count and collect the
    checkpoint in one more job, whatever the partition count (the
    ``limit(cap + 1)`` take they used scanned 1, 4, 16, then the
    remaining partitions: about log4(P) + 1 jobs, with a pushed-down
    limit that compiled again on every call). A repeated call compiles
    nothing."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    # 64 partitions with no exchange ahead of them, so every job counted
    # below is the solver's own; the explode hides the row count from
    # the optimizer, as a matcher's join output does (a known bound lets
    # Spark drop a limit above it)
    corr = spark.range(0, 64, 1, 64).select(
        F.explode(F.array("id")).alias("id")
    ).select(
        F.format_string("a%02d", F.col("id") % 29).alias("id1"),
        F.format_string("b%02d", (F.col("id") * 7) % 31).alias("id2"),
        ((F.col("id") % 13) / 13.0).alias("score"),
    )
    solvers = {
        "hierarchical": lambda: HierarchicalClusterer(
            linkage="MAX", min_similarity=0.5).assign(corr),
        "bipartite": lambda: MaximumBipartiteMatcher().cluster(corr),
        "centre": lambda: CentreClusterer().assign(corr),
    }
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    budget = {"hierarchical": 2, "bipartite": 2, "centre": 2}
    for name, solve in solvers.items():
        solve()  # the first call may compile
        jobs = _jobs_in_group(sc, f"solver-budget-{name}", solve)
        assert jobs <= budget[name], (name, jobs)
        before = compiled.getCount()
        solve()
        assert compiled.getCount() == before, name


def test_driver_policy_lives_in_plansize():
    """core/plansize.py is the only module that decides whether a frame
    goes to the driver: no other package module runs an incremental
    ``limit(cap + 1)`` take, an Arrow or pandas collect, a ``count()``
    compared with a cap, or sets a driver row cap; the size estimate
    only pins broadcasts; and no clustering module but base.py defines
    a union-find."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "pydi_spark"
    cap = r"[A-Z][A-Z0-9_]*"
    patterns = [
        re.compile(r"\.limit\([^()]*\+\s*1\s*\)\.collect\(\)"),
        re.compile(r"toArrow\("),
        re.compile(r"collect_pandas\("),
        re.compile(rf"\.count\(\)\s*[<>]=?\s*{cap}\b"),
        re.compile(rf"\b{cap}\s*[<>]=?\s*[\w.]*\.count\(\)"),
        re.compile(
            r"^\s*(?:DRIVER_\w*|\w*_ROW_CAP|\w*_MAX_ROWS)\s*(?::[^=\n]*)?=(?!=)", re.M
        ),
        re.compile(r"fits_estimate\((?![^()]*BROADCAST_MAX_BYTES)[^()]*\)"),
    ]
    hits = [
        f"{f.relative_to(root)}: {m.group(0).strip()!r}"
        for f in sorted(root.rglob("*.py"))
        if f != root / "core" / "plansize.py"
        for p in patterns
        for m in p.finditer(f.read_text())
    ]
    hits += [
        f"{f.relative_to(root)}: 'def find('"
        for f in sorted((root / "clustering").glob("*.py"))
        if f.name != "base.py" and "def find(" in f.read_text()
    ]
    assert not hits, "driver policy outside core/plansize.py:\n" + "\n".join(hits)


# The eager ``localCheckpoint`` calls the package keeps, by (module,
# function), each with the reason neither the lazy form nor dropping
# the checkpoint will do. Every other checkpoint is
# ``localCheckpoint(eager=False)``; one that only a single action reads
# is not written at all.
EAGER_CHECKPOINTS = {
    ("clustering/connected_components.py", "connected_components"):
        "loop cut: each star round's edge set",
    ("clustering/greedy_one_to_one.py", "_distributed"):
        "loop cut: the remaining correspondences each round",
    ("events/ops.py", "funnel_stages"):
        "loop cut: each stage frame, whose lineage holds every earlier stage",
    ("llmdata/bpe.py", "train_bpe_merges"):
        "loop cut: the word table every checkpoint_every merges",
    ("llmdata/graph.py", "_pagerank_core"): "loop cut: the rank vector",
    ("llmdata/graph.py", "k_core"): "loop cut: the kept nodes and edges each peel",
    ("llmdata/graph.py", "label_propagation"): "loop cut: the label vector",
    ("llmdata/graph.py", "bfs_hops"): "loop cut: the frontier and visited set",
    ("llmdata/graph.py", "hits_micro"): "loop cut: the score vector",
    ("llmdata/graph.py", "feature_propagation"): "loop cut: the state vector",
    ("extraction/llm.py", "extract_with_log"):
        "side effect: one LLM inference run feeds both outputs",
    ("matching/model_based.py", "match_with_log"):
        "side effect: one LLM inference run feeds both outputs",
    ("streaming/dedup.py", "streaming_incremental_dedup.handle"):
        "side effect: decide before the store append, and read the store "
        "before writing to it",
}


def test_eager_checkpoints_are_allowlisted():
    """Every eager ``localCheckpoint`` under pydi_spark/ (``eager=True``
    or Spark's default) sits in a function on EAGER_CHECKPOINTS; a loop
    cut sits inside a ``for`` or ``while`` loop; and every entry still
    names an eager call."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "pydi_spark"
    kinds = ("loop cut:", "side effect:", "measured:")
    assert all(r.startswith(kinds) for r in EAGER_CHECKPOINTS.values())

    class Sites(ast.NodeVisitor):
        def __init__(self, module):
            self.module, self.scope, self.loops, self.found = module, [], 0, []

        def visit_FunctionDef(self, node):
            outer = self.loops
            self.scope.append(node.name)
            self.loops = 0
            self.generic_visit(node)
            self.scope.pop()
            self.loops = outer

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_For(self, node):
            self.loops += 1
            self.generic_visit(node)
            self.loops -= 1

        visit_While = visit_For

        def visit_Call(self, node):
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "localCheckpoint":
                flag = [k.value for k in node.keywords if k.arg == "eager"]
                flag += node.args[:1]
                lazy = flag and isinstance(flag[0], ast.Constant) and flag[0].value is False
                if not lazy:
                    key = (self.module, ".".join(self.scope))
                    self.found.append((key, node.lineno, self.loops > 0))
            self.generic_visit(node)

    eager = []
    for f in sorted(root.rglob("*.py")):
        sites = Sites(str(f.relative_to(root)))
        sites.visit(ast.parse(f.read_text()))
        eager += sites.found
    bad = [
        f"{mod}:{line} ({func})"
        for (mod, func), line, in_loop in eager
        if (mod, func) not in EAGER_CHECKPOINTS
        or (EAGER_CHECKPOINTS[mod, func].startswith("loop cut:") and not in_loop)
    ]
    assert not bad, "eager localCheckpoint, no allowlist reason:\n" + "\n".join(bad)
    assert set(EAGER_CHECKPOINTS) == {key for key, _, _ in eager}


def test_driver_transfer_refusal_falls_back_or_refuses(spark, monkeypatch):
    """When the driver refuses the Arrow transfer (maxResultSize, an
    evicted task result), connected components, greedy 1:1 and BCubed
    return their distributed output unchanged and the driver-only
    solvers raise the solver-limit ValueError; any other transfer error
    re-raises."""
    from pydi_spark.evaluation import bcubed_metrics

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id1 string, id2 string"
    )
    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.8), ("c", "b", 0.7)],
        "id1 string, id2 string, score double",
    )
    gold = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("x", "x"), ("y", "x")],
        "record_id string, cluster_id string",
    )

    def outputs():
        comps = connected_components(edges)
        return (
            sorted(map(tuple, comps.collect())),
            sorted(map(tuple, GreedyOneToOneMatcher().cluster(corr).collect())),
            [tuple(r) for r in bcubed_metrics(comps, gold).collect()],
        )

    want = outputs()

    refused = []

    def refuse(message):
        def to_arrow(self):
            refused.append(message)
            raise RuntimeError(message)
        monkeypatch.setattr(type(edges), "toArrow", to_arrow)

    refuse("Total size of serialized results is bigger than spark.driver.maxResultSize")
    assert outputs() == want
    # the edges, their forest, greedy's correspondences, bcubed's rows
    assert len(refused) == 4
    refuse("TaskResultLost (result lost from block manager)")
    assert outputs() == want
    for solve in (
        HierarchicalClusterer(linkage="MAX", min_similarity=0.5).assign,
        MaximumBipartiteMatcher().cluster,
        CentreClusterer().assign,
    ):
        with pytest.raises(ValueError, match="driver-side solver limit"):
            solve(corr)
    refuse("arrow schema mismatch")
    with pytest.raises(RuntimeError, match="arrow schema mismatch"):
        connected_components(edges)
