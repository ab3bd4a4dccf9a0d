"""Blocking operators: pair-set semantics and containment properties."""

import pytest
from pyspark.sql import functions as F

from pydi_spark.blocking import (
    EmbeddingBlocker,
    NoBlocker,
    SortedNeighbourhoodBlocker,
    StandardBlocker,
    TokenBlocker,
)


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        ("p1", "alice smith", "ny", 30),
        ("p2", "alice smyth", "ny", 31),
        ("p3", "bob jones", "la", 40),
        ("p4", "carol jones", "la", 35),
        ("p5", "dave brown", "sf", 50),
    ]
    return spark.createDataFrame(rows, "rid string, name string, city string, age int")


def pairs_set(df):
    return {(r["id1"], r["id2"]) for r in df.collect()}


def test_standard_blocker_self(people):
    out = StandardBlocker(on=["city"]).block(people, id_column="rid")
    assert pairs_set(out) == {("p1", "p2"), ("p3", "p4")}


def test_standard_blocker_two_tables(spark, people):
    other = spark.createDataFrame(
        [("q1", "ny"), ("q2", "sf")], "rid string, city string"
    )
    out = StandardBlocker(on=["city"]).block(people, other, id_column="rid")
    assert pairs_set(out) == {("p1", "q1"), ("p2", "q1"), ("p5", "q2")}


def test_no_blocker_cross(people):
    out = NoBlocker().block(people, id_column="rid")
    assert out.count() == 5 * 4 / 2
    # every other blocker's pairs are a subset of the cross product
    tok = TokenBlocker(column="name").block(people, id_column="rid")
    assert pairs_set(tok) <= pairs_set(out)


def test_token_blocker(people):
    out = TokenBlocker(column="name").block(people, id_column="rid")
    ps = pairs_set(out)
    assert ("p3", "p4") in ps  # share token 'jones'
    assert ("p1", "p5") not in ps


def test_token_blocker_hot_token_pruning(people):
    out = TokenBlocker(column="name", max_token_frequency=1).block(
        people, id_column="rid"
    )
    assert out.count() == 0  # every shared token has df >= 2


def test_sorted_neighbourhood_window(people):
    out = SortedNeighbourhoodBlocker(key="name", window=1).block(
        people, id_column="rid"
    )
    # sorted by name: p1,p2,p3,p4,p5 -> adjacent pairs only
    assert pairs_set(out) == {("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "p5")}


def test_sorted_neighbourhood_two_sided(spark, people):
    right = spark.createDataFrame(
        [("r1", "alice smith"), ("r2", "zzz")], "rid string, name string"
    )
    out = SortedNeighbourhoodBlocker(key="name", window=2).block(
        people, right, id_column="rid"
    )
    for id1, id2 in pairs_set(out):
        assert id1.startswith("p") and id2.startswith("r")


def test_embedding_blocker_brute(spark):
    rows = [
        ("a", [1.0, 0.0]), ("b", [0.99, 0.1]), ("c", [0.0, 1.0]), ("d", [0.1, 0.99]),
    ]
    df = spark.createDataFrame(rows, "rid string, vec array<float>")
    out = EmbeddingBlocker(vector_column="vec", method="brute", top_k=1,
                           threshold=0.5).block(df, df, id_column="rid")
    ps = pairs_set(out)
    assert ("a", "b") in ps and ("c", "d") in ps
    assert all(not (p in ps) for p in [("a", "c"), ("a", "d"), ("b", "c")])


def test_embedding_blocker_lsh_finds_identical(spark):
    import numpy as np

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((30, 16)).astype(float)
    rows = [(f"v{i}", [float(x) for x in vecs[i]]) for i in range(30)]
    rows.append(("dup", [float(x) for x in vecs[0]]))
    df = spark.createDataFrame(rows, "rid string, vec array<float>")
    out = EmbeddingBlocker(vector_column="vec", method="lsh", top_k=5,
                           threshold=0.99).block(df, df, id_column="rid")
    assert ("dup", "v0") in pairs_set(out) or ("v0", "dup") in pairs_set(out)


def test_standard_blocker_max_block_size(spark, people):
    # 'ny' and 'la' blocks have 1 pair each; add a hot city with 4 records
    hot = spark.createDataFrame(
        [(f"h{i}", f"name {i}", "hot", 20) for i in range(4)],
        "rid string, name string, city string, age int",
    )
    df = people.unionByName(hot)
    uncapped = StandardBlocker(on=["city"]).block(df, id_column="rid")
    capped = StandardBlocker(on=["city"], max_block_size=4).block(df, id_column="rid")
    assert uncapped.where("block_key = 'hot'").count() == 6
    assert capped.where("block_key = 'hot'").count() == 0  # 4*4 > 4 dropped
    assert capped.where("block_key = 'ny'").count() == 1   # 2*2 <= 4 kept


def test_salted_join_matches_plain_join(spark):
    from pydi_spark.functions.joins import salted_join

    big = spark.createDataFrame(
        [(i % 3, f"v{i}") for i in range(60)], "k int, v string"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, w string")
    plain = {(r["k"], r["v"], r["w"]) for r in big.join(small, "k").collect()}
    salted = {(r["k"], r["v"], r["w"]) for r in salted_join(big, small, "k", 4).collect()}
    assert salted == plain


def test_embedding_blocker_auto_method(spark):
    rows = [("a", [1.0, 0.0]), ("b", [0.99, 0.1]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "rid string, vec array<float>")
    # default method is auto: small right side -> brute, above cutoff -> lsh
    assert EmbeddingBlocker(vector_column="vec")._resolve_method(df) == "brute"
    assert (
        EmbeddingBlocker(vector_column="vec", brute_max_rows=2)._resolve_method(df)
        == "lsh"
    )
    # explicit methods are never overridden (no count action taken)
    assert EmbeddingBlocker(vector_column="vec", method="lsh")._resolve_method(df) == "lsh"


def test_asof_join_backward_forward_tolerance(spark):
    import datetime as dt

    from pydi_spark.functions.joins import asof_join
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    ts = lambda m: t0 + dt.timedelta(minutes=m)
    left = spark.createDataFrame(
        [("u1", ts(10), "L1"), ("u1", ts(30), "L2"), ("u2", ts(5), "L3"),
         ("u3", ts(1), "L4")],
        "uid string, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [("u1", ts(10), 1.0), ("u1", ts(25), 2.0), ("u2", ts(7), 3.0)],
        "uid string, ts timestamp, val double",
    )

    back = {r["tag"]: (r["val"], r["ts_right"]) for r in
            asof_join(left, right, on="ts", by="uid").collect()}
    assert back["L1"] == (1.0, ts(10))     # equal ts is eligible (at-or-before)
    assert back["L2"] == (2.0, ts(25))     # latest prior
    assert back["L3"] == (None, None)      # right at ts(7) is after ts(5)
    assert back["L4"] == (None, None)      # no right rows for u3 at all

    fwd = {r["tag"]: r["val"] for r in
           asof_join(left, right, on="ts", by="uid", direction="forward").collect()}
    assert fwd["L1"] == 1.0                # equal ts eligible
    assert fwd["L2"] is None               # nothing after ts(30)
    assert fwd["L3"] == 3.0                # next at ts(7)

    tol = {r["tag"]: r["val"] for r in
           asof_join(left, right, on="ts", by="uid",
                     tolerance=F.expr("INTERVAL 4 MINUTES")).collect()}
    assert tol["L1"] == 1.0                # gap 0 <= 4min
    assert tol["L2"] is None               # gap 5min > 4min -> nulled, row kept


def test_asof_join_tie_break_deterministic(spark):
    import datetime as dt

    from pydi_spark.functions.joins import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([("u", t, "L")], "uid string, ts timestamp, tag string")
    right = spark.createDataFrame(
        [("u", t, 1.0), ("u", t, 9.0), ("u", t, 4.0)],
        "uid string, ts timestamp, val double",
    )
    rows = asof_join(left, right, on="ts", by="uid").collect()
    assert len(rows) == 1 and rows[0]["val"] == 9.0  # greatest carried tuple wins


def test_range_join_numeric_vs_naive(spark):
    from pydi_spark.functions.joins import range_join

    points = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "pid long, x double"
    )
    intervals = spark.createDataFrame(
        [(1, 5.0, 20.0), (2, 18.0, 30.0), (3, 90.0, 95.0), (4, 200.0, 300.0)],
        "iv long, lo double, hi double",
    )
    got = {(r["pid"], r["iv"]) for r in
           range_join(points, intervals, on="x", between=("lo", "hi"),
                      bucket_width=7.0).collect()}
    naive = {(p, i) for p in range(100)
             for i, lo, hi in [(1, 5, 20), (2, 18, 30), (3, 90, 95), (4, 200, 300)]
             if lo <= p <= hi}
    assert got == naive
    # half-open + auto bucket width
    half = {(r["pid"], r["iv"]) for r in
            range_join(points, intervals, on="x", between=("lo", "hi"),
                       closed="left").collect()}
    assert half == {(p, i) for p in range(100)
                    for i, lo, hi in [(1, 5, 20), (2, 18, 30), (3, 90, 95)]
                    if lo <= p < hi}


def test_range_join_left_and_timestamps(spark):
    import datetime as dt
    from pydi_spark.functions.joins import range_join

    t0 = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=10 * i)) for i in range(12)],
        "pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [("w1", t0 + dt.timedelta(minutes=15), t0 + dt.timedelta(minutes=45))],
        "win string, s timestamp, e timestamp",
    )
    rows = range_join(points, intervals, on="ts", between=("s", "e"),
                      bucket_width=600, how="left").collect()
    assert len(rows) == 12  # every point survives
    by_pid = {r["pid"]: r["win"] for r in rows}
    assert {p for p, w in by_pid.items() if w == "w1"} == {2, 3, 4}
    assert by_pid[0] is None and by_pid[11] is None


def test_interval_overlap_join_vs_naive(spark):
    from pydi_spark.functions.joins import interval_overlap_join

    a_rows = [(i, "k%d" % (i % 2), float(i * 3), float(i * 3 + 4))
              for i in range(30)]
    b_rows = [(j, "k%d" % (j % 2), float(j * 5 + 1), float(j * 5 + 3))
              for j in range(20)]
    a = spark.createDataFrame(a_rows, "aid long, k string, s double, e double")
    b = spark.createDataFrame(b_rows, "bid long, k string, s double, e double")
    got = {(r["aid"], r["bid"]) for r in interval_overlap_join(
        a, b, ("s", "e"), ("s", "e"), by="k", bucket_width=4.0).collect()}
    naive = {(i, j) for i, ka, s1, e1 in a_rows for j, kb, s2, e2 in b_rows
             if ka == kb and s1 <= e2 and s2 <= e1}
    assert got == naive and got
    # exactly-once: collect() returns no duplicate pairs
    all_rows = interval_overlap_join(
        a, b, ("s", "e"), ("s", "e"), by="k", bucket_width=4.0).collect()
    assert len(all_rows) == len(got)
    # strict interior overlap drops touching endpoints
    strict = {(r["aid"], r["bid"]) for r in interval_overlap_join(
        a, b, ("s", "e"), ("s", "e"), by="k", bucket_width=4.0,
        closed="neither").collect()}
    naive_strict = {(i, j) for i, ka, s1, e1 in a_rows
                    for j, kb, s2, e2 in b_rows
                    if ka == kb and s1 < e2 and s2 < e1}
    assert strict == naive_strict and strict <= got
    # touching endpoints: counted under "both", dropped under "neither"
    t1 = spark.createDataFrame([(1, 0.0, 2.0)], "aid long, s double, e double")
    t2 = spark.createDataFrame([(9, 2.0, 5.0)], "bid long, s double, e double")
    assert interval_overlap_join(
        t1, t2, ("s", "e"), ("s", "e"), bucket_width=2.0).count() == 1
    assert interval_overlap_join(
        t1, t2, ("s", "e"), ("s", "e"), bucket_width=2.0,
        closed="neither").count() == 0
    # min_overlap keeps only pairs overlapping by >= 2 units
    deep = {(r["aid"], r["bid"]) for r in interval_overlap_join(
        a, b, ("s", "e"), ("s", "e"), by="k", bucket_width=4.0,
        min_overlap=2.0).collect()}
    naive_deep = {(i, j) for i, ka, s1, e1 in a_rows
                  for j, kb, s2, e2 in b_rows
                  if ka == kb and min(e1, e2) - max(s1, s2) >= 2.0}
    assert deep == naive_deep
    # auto bucket width reproduces the same pair set
    auto = {(r["aid"], r["bid"]) for r in interval_overlap_join(
        a, b, ("s", "e"), ("s", "e"), by="k").collect()}
    assert auto == naive


def test_interval_overlap_join_timestamps_and_suffix(spark):
    import datetime as dt
    import pytest as _pytest
    from pydi_spark.functions.joins import interval_overlap_join

    t0 = dt.datetime(2024, 1, 1)

    def m(x):
        return t0 + dt.timedelta(minutes=x)

    sessions = spark.createDataFrame(
        [(1, m(0), m(30)), (2, m(50), m(70)), (3, m(100), m(110))],
        "sid long, s timestamp, e timestamp",
    )
    promos = spark.createDataFrame(
        [("p1", m(25), m(55)), ("p2", m(200), m(240))],
        "pid string, s timestamp, e timestamp",
    )
    rows = interval_overlap_join(
        sessions, promos, ("s", "e"), ("s", "e"), bucket_width=1800
    ).collect()
    got = {(r["sid"], r["pid"]) for r in rows}
    assert got == {(1, "p1"), (2, "p1")}
    # colliding right columns carry the suffix
    assert {"s_right", "e_right"} <= set(rows[0].asDict())
    # inverted right intervals are dropped, not matched
    bad = promos.selectExpr("pid", "e AS s", "s AS e")
    assert interval_overlap_join(
        sessions, bad, ("s", "e"), ("s", "e"), bucket_width=1800
    ).count() == 0
    # type-family mismatch refuses loudly
    nums = spark.createDataFrame([(1, 0.0, 5.0)], "nid long, s double, e double")
    with _pytest.raises(ValueError, match="type family"):
        interval_overlap_join(sessions, nums, ("s", "e"), ("s", "e"))


def test_embedding_lsh_band_join_is_ids_only(spark):
    # the quadratic band join must stay ids-only: carrying vectors through
    # it multiplies the widest stage's shuffle bytes by dim x band fan-out
    # (vectors re-attach after the pair dedup)
    rows = [(f"v{i}", [float(i % 3), 1.0, float(i)]) for i in range(8)]
    df = spark.createDataFrame(rows, "rid string, vec array<float>")
    out = EmbeddingBlocker(vector_column="vec", method="lsh", top_k=3,
                           threshold=0.0).block(df, df, id_column="rid")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    band_lines = [ln for ln in plan.splitlines() if "band_key" in ln]
    assert band_lines, "expected band_key stages in the LSH plan"
    # 'vec' as the signature UDF's INPUT (sig(rid, vec)) is fine; the
    # carried-payload aliases vec1/vec2 must not appear on any band stage
    leaked = [ln for ln in band_lines if "vec1" in ln or "vec2" in ln]
    assert not leaked, (
        "vectors leaked into the band-join stage:\n" + "\n".join(leaked)
    )


def test_embedding_lsh_all_band_collision_emitted_once(spark):
    # identical vectors collide in EVERY band; the band join emits the
    # pair once per band and the min-shared-band filter must keep one
    rows = [("a", [1.0, 2.0, 3.0]), ("b", [1.0, 2.0, 3.0]),
            ("c", [-3.0, 0.5, 1.0])]
    df = spark.createDataFrame(rows, "rid string, vec array<float>")
    out = EmbeddingBlocker(vector_column="vec", method="lsh", top_k=10,
                           threshold=0.0, lsh_bands=4).block(df, df, id_column="rid")
    got = [(r["id1"], r["id2"]) for r in out.collect()]
    assert got.count(("a", "b")) == 1
    assert len(got) == len(set(got))


def test_pair_joins_go_through_the_kernel():
    """Band/token/gram pair joins emit and dedup pairs only through
    blocking/base.py (pair_join / first_shared_key / distinct_pairs):
    neither the min-shared-key predicate nor an (id1, id2) repartition
    may be hand-rolled again in blocking/, llmdata/ or joins.py."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "pydi_spark"
    files = [
        *(root / "blocking").glob("*.py"),
        *(root / "llmdata").glob("*.py"),
        root / "functions" / "joins.py",
    ]
    patterns = [
        re.compile(r"array_min\(\s*(?:F\.)?array_intersect\("),
        # repartition(<width>, "id1", "id2"), width possibly a call
        re.compile(r"repartition\((?:[^()]|\([^()]*\))*?\"id1\",\s*\"id2\""),
    ]
    hits = [
        f"{f.relative_to(root)}: {m.group(0)!r}"
        for f in files
        if f != root / "blocking" / "base.py"
        for p in patterns
        for m in p.finditer(f.read_text())
    ]
    assert not hits, "hand-rolled pair kernel:\n" + "\n".join(hits)


def test_meta_blocking_wnp_and_cnp(spark):
    from pydi_spark.blocking import meta_blocking

    # blocks: b1={1,2,3}, b2={1,2}, b3={2,3,4}, b4={5}(purged at cap 2? no)
    rows = [
        ("1", "b1"), ("2", "b1"), ("3", "b1"),
        ("1", "b2"), ("2", "b2"),
        ("2", "b3"), ("3", "b3"), ("4", "b3"),
        ("5", "b4"),
    ]
    a = spark.createDataFrame(rows, "rid string, block_key string")
    full = meta_blocking(a, pruning="none", weighting="cbs")
    got = {(r["id1"], r["id2"]): r["cbs"] for r in full.collect()}
    # pair (1,2) shares b1+b2 -> cbs 2; (2,3) shares b1+b3 -> cbs 2
    assert got[("1", "2")] == 2 and got[("2", "3")] == 2
    assert got[("1", "3")] == 1 and got[("3", "4")] == 1
    assert ("4", "5") not in got  # singleton block makes no pairs

    # WNP drops each node's below-average edges: node 1's edges have
    # weights {2:(1,2), 1:(1,3)} -> only (1,2) reaches the mean from
    # node 1, but (1,3) must survive only if node 3's side keeps it
    wnp = {(r["id1"], r["id2"]) for r in
           meta_blocking(a, pruning="wnp", weighting="cbs").collect()}
    assert ("1", "2") in wnp and ("2", "3") in wnp
    assert ("1", "3") not in wnp  # below mean on both endpoints

    # CNP top-1 per node keeps each node's single best edge
    cnp = {(r["id1"], r["id2"]) for r in
           meta_blocking(a, pruning="cnp", top_k=1, weighting="js").collect()}
    assert ("1", "2") in cnp and ("2", "3") in cnp
    assert len(cnp) <= 4

    # block purging: cap 2 kills b1/b3 -> only the b2 pair remains
    purged = meta_blocking(a, pruning="none", max_block_size=2).collect()
    assert {(r["id1"], r["id2"]) for r in purged} == {("1", "2")}


def test_meta_blocking_block_filtering(spark):
    from pydi_spark.blocking import meta_blocking

    # entity 1 is in 2 blocks: big b1 (3 members) and small b2 (2);
    # ratio 0.5 keeps ceil(0.5*2)=1 block per entity — the SMALLEST
    rows = [
        ("1", "b1"), ("2", "b1"), ("3", "b1"),
        ("1", "b2"), ("2", "b2"),
    ]
    a = spark.createDataFrame(rows, "rid string, block_key string")
    out = meta_blocking(a, pruning="none", weighting="cbs",
                        block_filter_ratio=0.5).collect()
    got = {(r["id1"], r["id2"]): r["cbs"] for r in out}
    # 1 and 2 keep only b2; 3 keeps b1 -> surviving pair: (1,2) via b2
    assert got == {("1", "2"): 1}


def test_progressive_pairs_prefix_stable(spark):
    """Best-first candidate ordering: rank follows (w_ppm desc, id1,
    id2); a larger budget strictly extends a smaller one."""
    from pydi_spark.blocking import progressive_pairs

    rows = [
        ("a", "red shiny box"), ("b", "red shiny box"),
        ("c", "red plain crate"), ("d", "blue plain crate"),
        ("e", "green unique widget thing"),
    ]
    df = spark.createDataFrame(rows, "rid string, name string")
    assignments = df.select(
        "rid", F.explode(F.split("name", " ")).alias("block_key")
    )
    p3 = progressive_pairs(assignments, budget=3).collect()
    assert [r["rank"] for r in p3] == [1, 2, 3]
    # a/b share all 3 blocks -> highest weight first
    assert (p3[0]["id1"], p3[0]["id2"]) == ("a", "b")
    # weights non-increasing down the ranks
    ws = [r["w_ppm"] for r in p3]
    assert ws == sorted(ws, reverse=True)
    p6 = progressive_pairs(assignments, budget=6).collect()
    assert [tuple(r) for r in p6[:3]] == [tuple(r) for r in p3]
    assert len(p6) == min(6, len(p6))


# ------------------------------------------------------------ phonetic

def test_soundex_known_values(spark):
    from pydi_spark.functions.phonetic import soundex_key_from, soundex_sql

    cases = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Jackson": "J250", "Washington": "W252",
        "Lee": "L000", "Wu": "W000", "Aubrey": "A160",
        "O'Brien": "O165", "": None, "123": None,
    }
    df = spark.createDataFrame([(n,) for n in cases], ["n"])
    got_expr = {
        r["n"]: r["s"]
        for r in df.selectExpr("n", f"{soundex_sql('n', 'spark')} AS s").collect()
    }
    got_col = {
        r["n"]: r["s"]
        for r in df.select("n", soundex_key_from(F.col("n")).alias("s")).collect()
    }
    assert got_expr == cases
    assert got_col == cases  # Column path stays in lockstep with the SQL builder


def test_soundex_spark_duckdb_parity(spark):
    """The SAME builder feeds both engines — parity on adversarial text."""
    import duckdb

    from pydi_spark.functions.phonetic import soundex_sql

    texts = [
        "Müller", "  spaced  out  ", "hhhh", "wwww", "aeiou", "BFPV",
        "x" * 50, "Mc'Donald-Smith", "ŁódźKraków", "a1b2c3", "Y", "H",
        "W", "pf", "PPPP", "tttttttttttttttttttttttttttttttttttt",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["n"])
    got_spark = [
        r["s"] for r in
        df.selectExpr("n", f"{soundex_sql('n', 'spark')} AS s")
        .orderBy("n").collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {soundex_sql('n', 'duckdb')} FROM (SELECT ? AS n)", [t]
        ).fetchone()[0]
        for t in sorted(texts)
    ]
    assert got_spark == got_duck


def test_phonetic_blocker(spark):
    from pydi_spark.functions import PhoneticBlocker

    L = spark.createDataFrame(
        [("1", "Lee Armstrong"), ("2", "Rupert"), ("3", "Ashcraft")],
        ["rid", "name"],
    )
    R = spark.createDataFrame(
        [("a", "Lee"), ("b", "Ashcroft"), ("c", "Robert")],
        ["rid", "name"],
    )
    # full-string soundex: 'Lee Armstrong' (L652) != 'Lee' (L000);
    # Rupert ~ Robert (both R163), Ashcraft ~ Ashcroft (A261)
    pairs_full = PhoneticBlocker(column="name").block(L, R, id_column="rid")
    assert {(r["id1"], r["id2"]) for r in pairs_full.collect()} == {
        ("2", "c"), ("3", "b"),
    }
    # first-token soundex additionally pairs Lee* ~ Lee
    pairs_tok = PhoneticBlocker(column="name", first_token_only=True).block(
        L, R, id_column="rid"
    )
    assert {(r["id1"], r["id2"]) for r in pairs_tok.collect()} == {
        ("1", "a"), ("2", "c"), ("3", "b"),
    }


# ----------------------------------------------------- grid distance join

def test_grid_distance_join_matches_brute_force(spark):
    import itertools

    from pydi_spark.functions import grid_distance_join

    # negative coordinates exercise floor-division cell snapping
    rows = [
        (str(i), ((i * 37) % 400) - 200, ((i * 91) % 400) - 200)
        for i in range(250)
    ]
    pts = spark.createDataFrame(rows, ["id", "x", "y"])
    for radius, cell in [(30, None), (30, 45)]:
        got = {
            (r["id1"], r["id2"])
            for r in grid_distance_join(
                pts, None, "x", "y", radius, id_column="id", cell_size=cell
            ).collect()
        }
        brute = {
            (a if a < b else b, b if a < b else a)
            for (a, xa, ya), (b, xb, yb) in itertools.combinations(rows, 2)
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= radius * radius
        }
        assert got == brute and got


def test_grid_distance_join_two_sided(spark):
    from pydi_spark.functions import grid_distance_join

    L = spark.createDataFrame([("l1", 0, 0), ("l2", 100, 100)], ["id", "x", "y"])
    R = spark.createDataFrame(
        [("r1", 3, 4), ("r2", 100, 110), ("r3", 500, 500)], ["id", "x", "y"]
    )
    got = {
        (r["id1"], r["id2"], r["dist2"])
        for r in grid_distance_join(L, R, "x", "y", 10, id_column="id").collect()
    }
    assert got == {("l1", "r1", 25), ("l2", "r2", 100)}


def test_grid_distance_join_validation(spark):
    import pytest as _pytest

    from pydi_spark.functions import grid_distance_join

    pts = spark.createDataFrame([("1", 0, 0)], ["id", "x", "y"])
    with _pytest.raises(ValueError):
        grid_distance_join(pts, None, "x", "y", 10, cell_size=5)


# ----------------------------------------------------- edit distance join

def _ed_brute(rows, k):
    import itertools

    from pydi_spark.functions.metrics_py import levenshtein_dist

    return {
        (a, b, levenshtein_dist(sa, sb))
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if levenshtein_dist(sa, sb) <= k
    }


def test_edit_distance_join_matches_brute_force(spark):
    from pydi_spark.functions import edit_distance_join

    # real-ish names plus adversarial shorts: "aba"/"aca" share zero
    # 2-grams at distance 1 (substitution kills both grams) — only the
    # short-string fallback can find them
    rows = [
        ("01", "jonathan smith"), ("02", "jonathan smyth"),
        ("03", "jonatan smith"), ("04", "maria garcia"),
        ("05", "mario garcia"), ("06", "aba"), ("07", "aca"),
        ("08", "ab"), ("09", "axb"), ("10", "aaaa"), ("11", "aaba"),
        ("12", ""), ("13", "a"), ("14", "totally unrelated str"),
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    for k in (1, 2):
        got = {
            (r["id1"], r["id2"], r["distance"])
            for r in edit_distance_join(
                df, None, "name", max_distance=k, id_column="id"
            ).collect()
        }
        assert got == _ed_brute(rows, k), f"k={k}"


def test_edit_distance_join_random_corpus(spark):
    import random

    from pydi_spark.functions import edit_distance_join

    rng = random.Random(7)
    rows = [
        (f"{i:03d}", "".join(rng.choice("abc") for _ in range(rng.randint(0, 8))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    got = {
        (r["id1"], r["id2"], r["distance"])
        for r in edit_distance_join(
            df, None, "s", max_distance=2, id_column="id", q=2
        ).collect()
    }
    assert got == _ed_brute(rows, 2)


def test_edit_distance_join_two_sided(spark):
    from pydi_spark.functions import edit_distance_join
    from pydi_spark.functions.metrics_py import levenshtein_dist

    L = [("l1", "spark"), ("l2", "sparkk"), ("l3", "zz")]
    R = [("r1", "spark"), ("r2", "stark"), ("r3", "z"), ("r4", "unrelated")]
    got = {
        (r["id1"], r["id2"], r["distance"])
        for r in edit_distance_join(
            spark.createDataFrame(L, ["id", "s"]),
            spark.createDataFrame(R, ["id", "s"]),
            "s", max_distance=1, id_column="id",
        ).collect()
    }
    brute = {
        (a, b, levenshtein_dist(sa, sb))
        for a, sa in L for b, sb in R if levenshtein_dist(sa, sb) <= 1
    }
    assert got == brute
    assert ("l3", "r3", 1) in got  # cross-join short fallback


def test_edit_distance_join_gram_cap(spark):
    """max_gram_frequency (VERDICT r6 #4): a deterministic hot-gram
    drop — capped output is a subset of uncapped; with the cap above
    every gram frequency it is the identity; a cap that kills the only
    shared gram loses exactly the pairs whose prefixes were all hot."""
    import pytest as _pytest

    from pydi_spark.functions import edit_distance_join

    # 'ZZ' is the hot gram: every record shares it; the distinguishing
    # digit grams are rare
    rows = [(f"{i:02d}", f"ZZZZZZ{i % 4}{i // 4}") for i in range(12)]
    df = spark.createDataFrame(rows, ["id", "s"])
    uncapped = {
        (r["id1"], r["id2"], r["distance"])
        for r in edit_distance_join(
            df, None, "s", max_distance=1, id_column="id"
        ).collect()
    }
    assert uncapped == _ed_brute(rows, 1)
    # cap above max freq (12) -> identity
    same = {
        (r["id1"], r["id2"], r["distance"])
        for r in edit_distance_join(
            df, None, "s", max_distance=1, id_column="id",
            max_gram_frequency=12,
        ).collect()
    }
    assert same == uncapped
    # cap below the hot gram's freq: kept grams per record are
    # Z{d1} and {d1}{d2}, so true pairs sharing d1 survive (they meet
    # on Z{d1}) while pairs differing in d1 lose their only shared
    # gram (the hot ZZ) — the documented deterministic recall trade
    capped = {
        (r["id1"], r["id2"], r["distance"])
        for r in edit_distance_join(
            df, None, "s", max_distance=1, id_column="id",
            max_gram_frequency=6,
        ).collect()
    }
    by_id = dict(rows)
    expected = {t for t in uncapped if by_id[t[0]][6] == by_id[t[1]][6]}
    assert capped == expected
    assert capped < uncapped
    # cap at 1: every shared gram is dropped -> main path yields nothing
    starved = edit_distance_join(
        df, None, "s", max_distance=1, id_column="id", max_gram_frequency=1
    ).collect()
    assert starved == []
    with _pytest.raises(ValueError):
        edit_distance_join(
            df, None, "s", id_column="id", max_gram_frequency=0
        )


def test_edit_distance_join_validation(spark):
    import pytest as _pytest

    from pydi_spark.functions import edit_distance_join

    df = spark.createDataFrame([("1", "x")], ["id", "s"])
    with _pytest.raises(ValueError):
        edit_distance_join(df, None, "s", max_distance=-1)
    with _pytest.raises(ValueError):
        edit_distance_join(df, None, "s", q=0)
    # nulls and empty inputs never error
    df2 = spark.createDataFrame([("1", None), ("2", "ab")], ["id", "s"])
    assert edit_distance_join(df2, None, "s").collect() == []


def test_blocking_key_report(spark):
    from pydi_spark.blocking import blocking_key_report

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", None), ("b", "x"), (None, "y")],
        "k1 string, k2 string",
    )
    got = {
        r["key"]: (r["n_rows"], r["n_null"], r["n_blocks"],
                   r["max_block"], r["self_pairs"])
        for r in blocking_key_report(df, ["k1", "k2"]).collect()
    }
    # k1: a=3, b=1 (null dropped) -> pairs 3*2/2 + 0 = 3
    assert got["k1"] == (4, 1, 2, 3, 3)
    # k2: x=3, y=1 -> 3 pairs
    assert got["k2"] == (4, 1, 2, 3, 3)
    budget = {
        r["key"]: r["within_budget"]
        for r in blocking_key_report(df, ["k1"], max_pairs_budget=2).collect()
    }
    assert budget["k1"] == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        blocking_key_report(df, [])


def test_estimate_pairs_overflow_safe(spark):
    """estimate_pairs multiplies two block counts in decimal, not long
    (the r6 int64-overflow rule) — same numeric answer on small data."""
    from pydi_spark.blocking import estimate_pairs
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a",)] * 3 + [("b",)] * 2, "k string")
    assert estimate_pairs(df, df, F.col("k")) == 9 + 4


def test_interval_overlap_auto_width_survives_point_majority(spark):
    """Auto bucket width derives from POSITIVE durations only: a
    majority of zero-length (point) intervals must not drag the width
    to the 1-unit floor and explode long windows into billions of
    buckets (r9 self-review finding)."""
    from pydi_spark.functions.joins import interval_overlap_join

    points = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(200)],
        "pid long, s double, e double",
    )
    windows = spark.createDataFrame(
        [(1, 0.0, 3_600_000.0)], "wid long, s double, e double"
    )
    out = interval_overlap_join(
        points, windows, ("s", "e"), ("s", "e")
    )
    # every point sits inside the one window; completes without a
    # giga-bucket explode (the window explodes into O(1) buckets
    # because the width comes from ITS length, the only positive one)
    assert out.count() == 200
    # all-point inputs (no positive duration anywhere) still work
    pp = interval_overlap_join(
        points, points.selectExpr("pid AS qid", "s", "e"), ("s", "e"),
        ("s", "e"),
    )
    assert pp.count() == 200  # each point overlaps exactly itself
