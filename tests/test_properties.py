"""Property-based tests (hypothesis) for the pure-Python metric tier.

SURVEY §5.2 item 3: metric bounds/symmetry/identity over adversarial
inputs. These drive metrics_py directly (no Spark) so hypothesis can
run hundreds of cases cheaply; the Spark tier is pinned to this tier by
tests/test_similarity.py::test_native_matches_python.
"""

import datetime
import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pydi_spark.functions import metrics_py

TEXT = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs"), max_codepoint=0x24F),
    max_size=30,
)

SYMMETRIC = [
    "hamming", "levenshtein", "damerau_levenshtein", "jaro", "jaccard",
    "sorensen_dice", "overlap", "cosine", "bag", "lcsseq", "lcsstr",
    "ratcliff_obershelp", "length", "identity", "tanimoto",
]


@settings(max_examples=150, deadline=None)
@given(a=TEXT, b=TEXT)
def test_bounds_all_metrics(a, b):
    for name, fn in metrics_py.REGISTRY.items():
        v = fn(a, b)
        assert -1e-9 <= v <= 1 + 1e-9, (name, a, b, v)
        assert not math.isnan(v), (name, a, b)


@settings(max_examples=150, deadline=None)
@given(a=TEXT)
def test_identity_is_one(a):
    for name, fn in metrics_py.REGISTRY.items():
        v = fn(a, a)
        assert v >= 1 - 1e-9, (name, a, v)


@settings(max_examples=150, deadline=None)
@given(a=TEXT, b=TEXT)
def test_symmetry(a, b):
    for name in SYMMETRIC:
        fn = metrics_py.REGISTRY[name]
        assert abs(fn(a, b) - fn(b, a)) < 1e-9, (name, a, b)


@settings(max_examples=100, deadline=None)
@given(a=TEXT, b=TEXT)
def test_levenshtein_triangle_with_empty(a, b):
    """d(a,b) <= d(a,'') + d('',b) = len(a)+len(b)."""
    d = metrics_py.levenshtein_dist(a, b)
    assert d <= len(a) + len(b)
    assert d >= abs(len(a) - len(b))


@settings(max_examples=100, deadline=None)
@given(s=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=5), max_size=8))
def test_mra_encode_stable(s):
    for tok in s:
        e1 = metrics_py._mra_encode(tok)
        assert e1 == metrics_py._mra_encode(tok)
        assert len(e1) <= 6


@settings(max_examples=200, deadline=None)
@given(
    word=st.text(alphabet="ab", min_size=1, max_size=14),
    merges=st.lists(
        st.tuples(st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"]),
                  st.sampled_from(["a", "b", "aa", "ab", "ba", "bb"])),
        min_size=1, max_size=4,
    ),
)
def test_bpe_replay_equals_greedy_pure(word, merges):
    """The double-space replace replay == ranked-greedy apply, on a
    tiny alphabet that maximizes same-symbol chains and boundary
    sharing (the failure mode of the single-space representation).
    Pure-Python replay mirror of merge_replay_expr's semantics."""
    from pydi_spark.llmdata.bpe import greedy_apply

    # merges must be learnable-in-order: a pair may only reference
    # symbols that exist (chars or earlier merge outputs), and can
    # never repeat — BPE learns a pair at most once (after the merge
    # the pair is a single symbol), and a duplicate would corrupt the
    # rank dict (last index wins) while the replay applies list-order
    symbols = {"a", "b"}
    valid = []
    for a, b in merges:
        if a in symbols and b in symbols and (a, b) not in valid:
            valid.append((a, b))
            symbols.add(a + b)
    if not valid:
        return
    sym = "  " + "  ".join(word) + "  "
    for a, b in valid:
        sym = sym.replace(f" {a}  {b} ", f" {a}{b} ")
    replay = [p for p in sym.split() if p]
    ranks = {m: i for i, m in enumerate(valid)}
    assert replay == greedy_apply(word, ranks), (word, valid)


@settings(max_examples=25, deadline=None)
@given(
    changes=st.lists(
        st.tuples(
            st.sampled_from(["k0", "k1", "k2", "k3"]),   # key
            st.text(alphabet="xyz", min_size=1, max_size=3),  # payload
            st.integers(min_value=0, max_value=9),       # version
            st.sampled_from(["I", "U", "D"]),            # op
        ),
        max_size=12,
    )
)
def test_apply_changes_matches_lww_reference(spark, changes):
    """apply_changes == a dict-based last-writer-wins replay under the
    same total order (version desc, op asc, md5(payload)) for any
    change feed, including version ties and delete-then-insert."""
    import hashlib

    from pydi_spark.io import apply_changes

    base_rows = [("k0", "base0"), ("k1", "base1")]
    base = spark.createDataFrame(base_rows, "id string, v string")
    if changes:
        ch = spark.createDataFrame(
            [(k, p, ver, op) for k, p, ver, op in changes],
            "id string, v string, version long, op string",
        )
    else:
        ch = spark.createDataFrame([], "id string, v string, version long, op string")
    got = {r["id"]: r["v"] for r in apply_changes(base, ch, key_col="id").collect()}

    # reference: pick per key the max under (version, -ord(op-asc), -hash)
    def row_hash(key, payload):
        import json
        # Spark's to_json: compact separators, struct field order
        return hashlib.md5(
            json.dumps({"id": key, "v": payload},
                       separators=(",", ":")).encode()
        ).hexdigest()

    cand: dict = {}
    for k, p in base_rows:
        cand.setdefault(k, []).append((-1, "B", row_hash(k, p), p))
    for k, p, ver, op in changes:
        cand[k] = cand.get(k, [])
        cand[k].append((ver, op, row_hash(k, p), p))
    want = {}
    for k, rows in cand.items():
        # order: version desc, op asc, hash asc -> first wins
        rows.sort(key=lambda r: (-r[0], r[1], r[2]))
        ver, op, _, p = rows[0]
        if op != "D":
            want[k] = p
    assert got == want, (changes, got, want)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-10**12, 10**12)),
            st.one_of(st.none(), st.floats(allow_nan=False,
                                           allow_infinity=False,
                                           width=64)),
            st.one_of(st.none(), st.text(max_size=12)),
            st.one_of(st.none(), st.booleans()),
        ),
        max_size=12,
    )
)
def test_xlsx_codec_roundtrip(rows, tmp_path_factory):
    """write_xlsx -> read_xlsx is the identity on the supported cell
    classes (int / float / arbitrary-unicode str / bool / None)."""
    import math
    import os
    import tempfile

    from pydi_spark.io.xlsx import read_xlsx, write_xlsx

    cols = ["i", "f", "s", "b"]
    with tempfile.TemporaryDirectory(dir="spark-warehouse") as d:
        p = os.path.join(d, "t.xlsx")
        write_xlsx(p, {"data": (cols, [list(r) for r in rows])})
        got_cols, got_rows = read_xlsx(p)["data"]
    assert got_cols == cols
    assert len(got_rows) == len(rows)
    for (i, f, s, b), got in zip(rows, got_rows):
        gi, gf, gs, gb = got
        assert gi == i
        if f is None:
            assert gf is None
        else:
            # integral floats round-trip as ints (Excel number model)
            assert math.isclose(float(gf), f, rel_tol=0, abs_tol=0) or gf == f
        # exact: control chars (incl. \r) ride the _xHHHH_ escape
        assert gs == s
        assert gb == b


@settings(max_examples=80, deadline=None)
@given(
    v=st.floats(min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False),
    pair=st.sampled_from([
        ("km", "mi"), ("kg", "lb"), ("h", "min"), ("m/s", "mph"),
        ("gb", "mb"), ("c", "f"), ("f", "k"), ("k", "c"),
        # round-6 categories
        ("kwh", "j"), ("bar", "psi"), ("n", "lbf"), ("deg", "rad"),
        ("g/cm3", "kg/m3"), ("€", "usd"), ("%", "bps"), ("dozen", "pair"),
    ]),
)
def test_convert_units_expr_invertible_pure(v, pair):
    """a->b then b->a returns the input (up to float rounding), for
    linear AND affine categories — the pure-python replay of
    convert_units_expr's arithmetic."""
    from pydi_spark.normalization.units import UNITS_TABLE

    table = {a: (c, f) for a, c, f, _ in UNITS_TABLE}
    a, b = pair

    def conv(x, fu, tu):
        cat, ff = table[fu]
        _, tf = table[tu]
        if cat == "temperature":
            as_c = {"f": (x - 32.0) * 5.0 / 9.0,
                    "k": x - 273.15}.get(fu, x)
            return {"f": as_c * 9.0 / 5.0 + 32.0,
                    "k": as_c + 273.15}.get(tu, as_c)
        return x * ff / tf

    there = conv(v, a, b)
    back = conv(there, b, a)
    assert abs(back - v) <= 1e-6 * max(1.0, abs(v))


@settings(max_examples=120, deadline=None)
@given(doc=st.text(max_size=300))
def test_html_table_parser_never_crashes(doc):
    """read_html_tables must be total over arbitrary text — malformed
    markup yields zero-or-more tables, never an exception."""
    from pydi_spark.io.htmltables import read_html_tables

    for cols, rows in read_html_tables(doc):
        assert isinstance(cols, list)
        for r in rows:
            assert len(r) == len(cols)


@settings(max_examples=60, deadline=None)
@given(
    cols=st.lists(st.text(min_size=1, max_size=8), min_size=1,
                  max_size=4, unique=True),
    nrows=st.integers(0, 6),
)
def test_html_table_roundtrip(cols, nrows):
    """html_table -> read_html_tables preserves shape and string cells
    (whitespace-trimmed, as pandas.read_html does)."""
    from pydi_spark.io.htmltables import html_table, read_html_tables

    rows = [[f"v{r}c{c}" for c in range(len(cols))] for r in range(nrows)]
    parsed = read_html_tables("<html>" + html_table(cols, rows) + "</html>")
    assert len(parsed) == 1
    got_cols, got_rows = parsed[0]
    assert got_cols == [c.strip() for c in cols] or got_cols == cols
    assert got_rows == rows


@settings(max_examples=150, deadline=None)
@given(s=st.text(max_size=24))
def test_quantity_regex_total_pure(s):
    """The quantity regex never throws and never mis-attributes: any
    match's captured number is a parsable numeric literal and the
    modifier, when captured, is a known keyword (pure-python replay of
    the same RE2-safe pattern both engines run)."""
    import re

    from pydi_spark.normalization.units import QUANTITY_MODIFIERS, QUANTITY_RE

    m = re.match(QUANTITY_RE, s)
    if m is None:
        return
    num, mod, _unit = m.group(1), m.group(2), m.group(3)
    float(num.replace(",", "."))
    if mod:
        assert mod.lower() in QUANTITY_MODIFIERS


@settings(max_examples=100, deadline=None)
@given(
    v=st.integers(min_value=0, max_value=10_000),
    alias=st.sampled_from([
        "km", "kg", "kwh", "bar", "deg", "g/cm3", "n", "%", "dozen",
        "fl oz", "nautical mile", "°f", "kilowatt hours", "newtons",
    ]),
)
def test_quantity_parse_roundtrip_pure(v, alias):
    """'<v> <alias>' parses to value v and resolves alias's category —
    for symbols, multi-word names, and generated plurals alike."""
    import re

    from pydi_spark.normalization.units import QUANTITY_RE, UNITS_TABLE

    table = {a: c for a, c, _f, _b in UNITS_TABLE}
    m = re.match(QUANTITY_RE, f"{v} {alias}")
    assert m is not None
    assert float(m.group(1)) == v and not m.group(2)
    assert m.group(3).lower() == alias
    assert m.group(3).lower() in table


def test_soundex_fuzz_spark_duckdb_parity(spark):
    """Random-text fuzz of the Soundex builder across engines — one
    batched collect per engine (the adversarial fixed list lives in
    test_blocking; this sweeps the long tail)."""
    import random
    import string

    import duckdb

    from pydi_spark.functions.phonetic import soundex_sql

    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + " '-éüßŁ"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 30)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["n"])
    got_spark = [
        (r["n"], r["s"]) for r in
        df.selectExpr("n", f"{soundex_sql('n', 'spark')} AS s").collect()
    ]
    con = duckdb.connect()
    got_duck = {
        t: con.execute(
            f"SELECT {soundex_sql('n', 'duckdb')} FROM (SELECT ? AS n)", [t]
        ).fetchone()[0]
        for t in texts
    }
    for t, s in got_spark:
        assert s == got_duck[t], (t, s, got_duck[t])


def test_median_and_quantiles_match_python_statistics(spark):
    """Batched random-multiset sweep: exact lower medians and discrete
    quantiles match the stdlib/numpy reference definitions — one Spark
    job covers 40 random groups (per-example Spark jobs would be 100x
    slower than this single batched collect)."""
    import random
    import statistics

    from pydi_spark.profiling import exact_quantiles, grouped_lower_median

    rng = random.Random(7)
    groups = {
        f"g{i:02d}": [
            rng.randrange(-50, 50) for _ in range(rng.randrange(1, 40))
        ]
        for i in range(40)
    }
    rows = [(g, v) for g, vals in groups.items() for v in vals]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        r["g"]: r["median"]
        for r in grouped_lower_median(df, ["g"], "v").collect()
    }
    for g, vals in groups.items():
        assert got[g] == statistics.median_low(vals), g
    # discrete quantile = element at rank ceil(p*n) of the sorted list
    one = sorted(groups["g00"])
    q = exact_quantiles(
        df.where(df.g == "g00"), ["v"], ps=(0.1, 0.5, 0.9)
    ).collect()[0]
    import math

    for p, col in ((0.1, "p_100000"), (0.5, "p_500000"), (0.9, "p_900000")):
        assert q[col] == one[math.ceil(p * len(one)) - 1]


def test_detect_anomalies_partition_independence(spark):
    from pydi_spark.profiling import detect_anomalies

    rows = [("k", i, (i * 37) % 23) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    a = sorted(
        tuple(r)
        for r in detect_anomalies(df.repartition(1), ["k"], "v").collect()
    )
    b = sorted(
        tuple(r)
        for r in detect_anomalies(df.repartition(16), ["k"], "v").collect()
    )
    assert a == b and a


def test_attribution_brute_force_parity(spark):
    """attribute_conversions (linear) vs a driver-side brute replay on
    seeded random event logs: same pairs, same ppm credits, exact 1e6
    conservation per conversion."""
    import datetime
    import random

    from pydi_spark.events import attribute_conversions

    for seed in (3, 11):
        rng = random.Random(seed)
        t0 = datetime.datetime(2026, 1, 1)
        rows = []
        for eid in range(120):
            rows.append((
                rng.randrange(6),
                eid,
                t0 + datetime.timedelta(minutes=rng.randrange(0, 5000)),
                rng.choice(["click", "view", "purchase", "noise"]),
            ))
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, event_type string"
        )
        got = {
            (r["user_id"], r["touch_id"], r["conversion_id"]): r["credit_ppm"]
            for r in attribute_conversions(
                df, ["click", "view"], "purchase", model="linear",
                lookback_hours=24,
            ).collect()
        }
        # brute replay
        lb = datetime.timedelta(hours=24)
        expected = {}
        for u, cid, cts, typ in rows:
            if typ != "purchase":
                continue
            touches = sorted(
                (ts, tid) for (tu, tid, ts, tt) in rows
                if tu == u and tt in ("click", "view")
                and ts <= cts and ts > cts - lb
            )
            if not touches:
                expected[(u, None, cid)] = 1_000_000
                continue
            n = len(touches)
            for rk, (_, tid) in enumerate(touches, start=1):
                expected[(u, tid, cid)] = 1_000_000 // n + (
                    1 if rk <= 1_000_000 % n else 0
                )
        assert got == expected, f"seed {seed}"
        per_conv = {}
        for (u, t, c), ppm in got.items():
            per_conv[c] = per_conv.get(c, 0) + ppm
        assert all(v == 1_000_000 for v in per_conv.values())


def test_active_users_brute_force_parity(spark):
    import datetime
    import random

    from pydi_spark.events import active_users

    for seed, w in ((5, 1), (5, 7), (9, 30)):
        rng = random.Random(seed)
        t0 = datetime.datetime(2026, 3, 1)
        rows = [
            (rng.randrange(8),
             t0 + datetime.timedelta(hours=rng.randrange(0, 24 * 40)))
            for _ in range(200)
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {r["day"]: r["n_active"]
               for r in active_users(df, window_days=w).collect()}
        days = {(u, (ts - datetime.datetime(1970, 1, 1)).days)
                for u, ts in rows}
        d0, d1 = (min(d for _, d in days), max(d for _, d in days))
        expected = {
            d: len({u for u, ud in days if d - w < ud <= d})
            for d in range(d0, d1 + 1)
        }
        assert got == expected, f"seed {seed} w {w}"


def test_histogram_totals_reconcile(spark):
    import random

    from pydi_spark.profiling import equi_width_histogram

    for seed in (2, 7):
        rng = random.Random(seed)
        vals = [rng.uniform(-50, 50) for _ in range(300)] + [None] * 5
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        out = equi_width_histogram(df, "x", n_buckets=13).collect()
        assert sum(r["n"] for r in out) == len(vals)
        buckets = [r["bucket"] for r in out]
        assert len(buckets) == len(set(buckets))
        assert set(b for b in buckets if 0 <= b < 13) == set(range(13))


def test_interval_overlap_join_random_parity(spark):
    """Randomized (seeded) interval sets vs the quadratic naive join —
    the exactly-once emission guard must neither drop nor duplicate a
    pair under any bucket width."""
    import random

    rng = random.Random(421)
    a_rows, b_rows = [], []
    for i in range(60):
        s = float(rng.randrange(100))
        a_rows.append((i, rng.randrange(3), s, s + rng.randrange(12)))
    for j in range(50):
        s = float(rng.randrange(100))
        b_rows.append((j, rng.randrange(3), s, s + rng.randrange(20)))
    from pydi_spark.functions import interval_overlap_join

    a = spark.createDataFrame(a_rows, "aid long, k long, s double, e double")
    b = spark.createDataFrame(b_rows, "bid long, k long, s double, e double")
    naive = {(i, j) for i, ka, s1, e1 in a_rows for j, kb, s2, e2 in b_rows
             if ka == kb and s1 <= e2 and s2 <= e1}
    for width in (1.0, 5.0, 17.0, 200.0):
        rows = interval_overlap_join(
            a, b, ("s", "e"), ("s", "e"), by="k", bucket_width=width
        ).collect()
        got = [(r["aid"], r["bid"]) for r in rows]
        assert len(got) == len(set(got)), f"duplicates at width {width}"
        assert set(got) == naive, f"mismatch at width {width}"


def test_rank_normalize_matches_pandas_rank(spark):
    """pct_ppm must equal pandas rank(method='min') percent-rank
    floored to ppm, for a seeded multiset with heavy ties."""
    import random

    import pandas as pd

    rng = random.Random(77)
    vals = [rng.randrange(10) for _ in range(120)]
    from pydi_spark.functions import rank_normalize

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, x long"
    )
    got = {r["id"]: r["pct_ppm"] for r in rank_normalize(df, "x").collect()}
    s = pd.Series(vals)
    below = s.rank(method="min").astype(int) - 1
    n = len(vals)
    want = {i: (int(b) * 1_000_000) // (n - 1) for i, b in below.items()}
    assert got == want


def test_event_cooccurrence_random_brute_parity(spark):
    """Seeded random baskets vs a pure-python brute force: counts,
    support, and lift must match exactly (integer floors included)."""
    import itertools
    import random

    from pydi_spark.events import event_cooccurrence

    rng = random.Random(9)
    rows = [(f"g{rng.randrange(12)}", f"i{rng.randrange(6)}")
            for _ in range(150)]
    df = spark.createDataFrame(rows, "g string, item string")
    got = {(r["item1"], r["item2"]):
           (r["n_pair"], r["n_i"], r["n_j"], r["support_ppm"],
            r["lift_micro"])
           for r in event_cooccurrence(df, ["g"], "item").collect()}
    baskets = {}
    for g, i in rows:
        baskets.setdefault(g, set()).add(i)
    n = len(baskets)
    item_n = {}
    for s in baskets.values():
        for i in s:
            item_n[i] = item_n.get(i, 0) + 1
    want = {}
    allp = {}
    for s in baskets.values():
        for a, b in itertools.combinations(sorted(s), 2):
            allp[(a, b)] = allp.get((a, b), 0) + 1
    for (a, b), np_ in allp.items():
        want[(a, b)] = (
            np_, item_n[a], item_n[b], np_ * 1_000_000 // n,
            np_ * n * 1_000_000 // (item_n[a] * item_n[b]),
        )
    assert got == want


def test_gini_matches_python_formula(spark):
    """Seeded random values vs the textbook rank formula computed in
    pure python (micro quantization included)."""
    import random

    from pydi_spark.profiling import gini_concentration

    rng = random.Random(31)
    vals = [rng.randrange(50) / 7 for _ in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = gini_concentration(df, "v").collect()[0]
    import math

    vm = sorted(int(math.floor(v * 1_000_000)) for v in vals)
    n, s = len(vm), sum(vm)
    t = sum((i + 1) * x for i, x in enumerate(vm))
    want = (2 * t - (n + 1) * s) * 1_000_000 // (n * s)
    assert got["gini_ppm"] == want and got["n"] == n
    assert got["total_micro"] == s


def test_lorenz_matches_python_formula(spark):
    """Seeded random values (with heavy ties) vs the pure-python bucket
    arithmetic: ranks 1..n over the sorted micro multiset, bucket =
    (rank-1)*k div n + 1, cumulative ppm = cum*1e6 div total."""
    import math
    import random

    from pydi_spark.profiling import lorenz_curve

    rng = random.Random(47)
    vals = [rng.randrange(8) / 3 for _ in range(157)]  # heavy ties
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["bucket"]: (r["n"], r["bucket_micro"], r["cum_value_ppm"])
        for r in lorenz_curve(df, "v", n_buckets=7).collect()
    }
    vm = sorted(int(math.floor(v * 1_000_000)) for v in vals)
    n, total = len(vm), sum(vm)
    buckets = {}
    for i, x in enumerate(vm):
        b = i * 7 // n + 1
        cnt, s = buckets.get(b, (0, 0))
        buckets[b] = (cnt + 1, s + x)
    want, cum = {}, 0
    for b in sorted(buckets):
        cnt, s = buckets[b]
        cum += s
        want[b] = (cnt, s, cum * 1_000_000 // total)
    assert got == want


def test_modularity_matches_python_formula(spark):
    """Seeded random graph + random partition vs the textbook
    sum_c(e_c/m - (d_c/2m)^2) computed in exact fractions."""
    import random
    from fractions import Fraction

    from pydi_spark.llmdata import modularity_score

    rng = random.Random(53)
    nodes = list(range(24))
    edges = set()
    while len(edges) < 60:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    comm = {v: f"c{rng.randrange(4)}" for v in nodes}
    edf = spark.createDataFrame(sorted(edges), "id1 int, id2 int")
    cdf = spark.createDataFrame(
        [(v, c) for v, c in comm.items()], "id int, community string"
    )
    row = modularity_score(edf, cdf).collect()[0]
    m = len(edges)
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    cs = sorted({comm[v] for v in deg})
    q = Fraction(0)
    for c in cs:
        ec = sum(1 for a, b in edges if comm[a] == c and comm[b] == c)
        dc = sum(d for v, d in deg.items() if comm[v] == c)
        q += Fraction(ec, m) - Fraction(dc, 2 * m) ** 2
    assert Fraction(row["q_num"], row["q_den"]) == q
    assert abs(row["q"] - float(q)) < 1e-12
    assert row["m_edges"] == m and row["n_nodes"] == len(deg)


def test_assortativity_matches_python_formula(spark):
    """Seeded random graph vs the sqrt-free symmetric-marginal Pearson
    computed in exact fractions over the doubled edge list."""
    import random
    from fractions import Fraction

    from pydi_spark.llmdata import degree_assortativity

    rng = random.Random(59)
    edges = set()
    while len(edges) < 40:
        a, b = rng.sample(range(18), 2)
        edges.add((min(a, b), max(a, b)))
    edf = spark.createDataFrame(sorted(edges), "id1 int, id2 int")
    row = degree_assortativity(edf).collect()[0]
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    pairs = [(deg[a], deg[b]) for a, b in edges]
    pairs += [(y, x) for x, y in pairs]
    M = len(pairs)
    s1 = sum(x for x, _ in pairs)
    s2 = sum(x * x for x, _ in pairs)
    p = sum(x * y for x, y in pairs)
    num, den = M * p - s1 * s1, M * s2 - s1 * s1
    assert (row["r_num"], row["r_den"]) == (num, den)
    if den:
        assert abs(row["r"] - num / den) < 1e-12


def test_pps_matches_python_walk(spark):
    """Seeded random weights vs the pure-python cumulative walk in the
    same md5 order — selected ids, hit counts, and the sum(n_hits)==k
    telescoping identity."""
    import hashlib
    import random

    from pydi_spark.llmdata import pps_systematic_sample

    rng = random.Random(61)
    rows = [(i, rng.randrange(1, 30)) for i in range(83)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    k = 13
    got = {
        r["doc_id"]: r["n_hits"]
        for r in pps_systematic_sample(df, k, "w", "doc_id").collect()
    }
    walk = sorted(rows, key=lambda r: (
        hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    want, c, total = {}, 0, sum(w for _, w in rows)
    for i, w in walk:
        c += w
        hits = c * k // total - (c - w) * k // total
        if hits:
            want[i] = hits
    assert got == want and sum(got.values()) == k


def test_bot_report_median_matches_python(spark):
    """Seeded random event times vs pure-python floor-mean-of-middles
    medians per user."""
    import datetime as dt
    import random

    from pydi_spark.events import bot_report

    rng = random.Random(67)
    t0 = dt.datetime(2024, 3, 1)
    rows, want = [], {}
    for u in range(12):
        n = rng.randrange(2, 15)
        offs = sorted(rng.sample(range(100_000), n))
        for j, o in enumerate(offs):
            rows.append((u, j, t0 + dt.timedelta(milliseconds=o)))
        gaps = sorted(b - a for a, b in zip(offs, offs[1:]))
        m = len(gaps)
        lo, hi = gaps[(m + 1) // 2 - 1], gaps[(m + 2) // 2 - 1]
        want[u] = (n, (lo + hi) // 2)
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {
        r["user_id"]: (r["n_events"], r["median_gap_ms"])
        for r in bot_report(df, min_events=5, max_median_gap_ms=10).collect()
    }
    assert got == want


def test_feature_propagation_matches_python_sim(spark):
    """Seeded random graph + features vs a pure-python synchronous
    simulation of the self-inclusive neighbour mean (3 rounds)."""
    import random

    from pydi_spark.llmdata import feature_propagation

    rng = random.Random(71)
    edges = set()
    while len(edges) < 30:
        a, b = rng.sample(range(15), 2)
        edges.add((min(a, b), max(a, b)))
    feats = {v: rng.randrange(0, 5000) for v in range(15) if rng.random() < 0.8}
    edf = spark.createDataFrame(sorted(edges), "id1 int, id2 int")
    fdf = spark.createDataFrame(
        [(v, x) for v, x in feats.items()], "id int, value_micro long"
    )
    got = {
        r["id"]: r["value_micro"]
        for r in feature_propagation(edf, fdf, n_iter=3).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    state = dict(feats)
    for _ in range(3):
        nxt = {}
        for v, x in state.items():
            known = [state[u] for u in adj.get(v, ()) if u in state]
            nxt[v] = (x + sum(known)) // (1 + len(known))
        state = nxt
    assert got == state


def test_pair_kernel_matches_brute_force(spark):
    """Random (id, key-array) tables, self-join and two-sided: the
    kernel's min-shared-key path (key_sets), its distinct_pairs path and
    a Python brute force agree on {(id1, id2): min shared key}. Tables
    include a hot key shared by most records, a pair sharing every key,
    and empty key arrays."""
    import random

    from pyspark.sql import functions as F

    from pydi_spark.blocking.base import distinct_pairs, pair_join

    def table(rng, prefix, n):
        rows = []
        for i in range(n):
            k = rng.choice([0, 0, 1, 2, 3, 4])
            keys = rng.sample([f"k{j}" for j in range(12)], k)
            if rng.random() < 0.6:
                keys.append("hot")  # shared by many records
            rows.append((f"{prefix}{i:02d}", keys))
        # a pair sharing every key, and a keyless record
        rows.append((f"{prefix}97", ["k1", "k2", "k3", "hot"]))
        rows.append((f"{prefix}98", ["hot", "k3", "k2", "k1"]))
        rows.append((f"{prefix}99", []))
        return rows

    def brute(lrows, rrows, self_join):
        want = {}
        for a, ka in lrows:
            for b, kb in rrows:
                shared = set(ka) & set(kb)
                if shared and (not self_join or a < b):
                    want[(a, b)] = min(shared)
        return want

    def side(rows, n):
        df = spark.createDataFrame(rows, f"id{n} string, s{n} array<string>")
        return df.select(f"id{n}", f"s{n}", F.explode(f"s{n}").alias("key"))

    def collect(pairs):
        rows = pairs.select("id1", "id2", "key").collect()
        got = {(r["id1"], r["id2"]): r["key"] for r in rows}
        assert len(got) == len(rows), "duplicate (id1, id2) rows"
        return got

    rng = random.Random(1405)
    for _ in range(2):
        lrows = table(rng, "a", 25)
        for self_join in (True, False):
            rrows = lrows if self_join else table(rng, "b", 20)
            l, r = side(lrows, 1), side(rrows, 2)
            want = brute(lrows, rrows, self_join)
            assert ("a97", rrows[-2][0]) in want  # shares every key
            carried = pair_join(
                l, r, "key", self_join=self_join, key_sets=("s1", "s2")
            )
            emitted = pair_join(
                l.drop("s1"), r.drop("s2"), "key", self_join=self_join
            )
            assert collect(carried) == want
            assert collect(distinct_pairs(emitted.select("id1", "id2", "key"))) == want


_DRIVER_FRAME_CASES = [
    (
        "pair_completeness double, pair_quality double, total_candidates long, "
        "notes string, holds int",
        [(0.5, None, 3, "x", 1), (None, 0.25, None, None, None)],
    ),
    ("cell int, cvec array<double>", [(0, [0.5, -1.0]), (1, []), (2, None)]),
    ("attribute string, datasets_present array<string>, is_shared boolean",
     [("a", ["s1", "s2"], True), ("b", [], False), (None, None, None)]),
    ("column_name string, sketch binary", [("c", b"\x00\x01\xff"), ("d", None)]),
    ("k string, m map<string,bigint>", [("a", {"x": 1, "y": None}), ("b", None)]),
    ("d date, ts timestamp",
     [(datetime.date(2024, 2, 29), datetime.datetime(2024, 2, 29, 23, 59, 59, 1)),
      (None, None)]),
    ("record_id string, cluster_id string", []),
]


@pytest.mark.parametrize("ddl, rows", _DRIVER_FRAME_CASES)
@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_rows_to_df_matches_create_dataframe(spark, ddl, rows, tz):
    """rows_to_df gives createDataFrame(rows, ddl)'s rows and schema, as
    a LocalRelation (no Python-worker stage). The non-UTC process time
    zone pins naive TIMESTAMP values to local time, as the list form
    reads them."""
    import os
    import time

    from pydi_spark.core.arrowio import rows_to_df

    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        got = rows_to_df(spark, rows, ddl)
        want = spark.createDataFrame(rows, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_driver_frames_go_through_arrowio():
    """Driver-built frames are made only by core/arrowio.py (rows_to_df
    / pandas_to_df): a createDataFrame anywhere else in the package
    would bring back a Python-worker stage for driver-sized data."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "pydi_spark"
    hits = [
        f"{f.relative_to(root)}:{i}"
        for f in root.rglob("*.py")
        if f != root / "core" / "arrowio.py"
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not hits, "createDataFrame outside core/arrowio.py:\n" + "\n".join(hits)
