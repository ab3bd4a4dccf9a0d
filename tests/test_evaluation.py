"""Evaluation operators: metrics math + sweep monotonicity."""

import pytest

from pydi_spark.evaluation import (
    cluster_consistency_report,
    cluster_size_distribution,
    evaluate_blocking,
    evaluate_matching,
    threshold_sweep,
)


@pytest.fixture(scope="module")
def labeled(spark):
    corr = spark.createDataFrame(
        [("a", "x", 0.9), ("b", "y", 0.8), ("c", "z", 0.4)],
        "id1 string, id2 string, score double",
    )
    gold = spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 0), ("c", "z", 1), ("d", "w", 1)],
        "id1 string, id2 string, label int",
    )
    return corr, gold


def test_evaluate_blocking(spark, labeled):
    corr, gold = labeled
    out = evaluate_blocking(corr.select("id1", "id2"), gold, 4, 4).collect()[0]
    # gold positives: ax, cz, dw; candidates contain ax, cz -> PC=2/3
    assert out["pair_completeness"] == pytest.approx(2 / 3)
    assert out["pair_quality"] == pytest.approx(2 / 3)
    assert out["total_candidates"] == 3
    assert out["reduction_ratio"] == pytest.approx(1 - 3 / 16)


@pytest.mark.parametrize("n", [10, 10_000])
def test_evaluate_blocking_null_ids_never_match(spark, n):
    """A pair with a NULL id is in both candidates and gold but never
    matches (the oracle's JOIN semantics) on either side of the
    10M-pair universe gate: 10 x 10 takes the union+groupBy path,
    10,000 x 10,000 the join path."""
    cands = spark.createDataFrame(
        [("a", "x"), (None, "y"), ("c", "z")], "id1 string, id2 string"
    )
    gold = spark.createDataFrame([("a", "x"), (None, "y")], "id1 string, id2 string")
    out = evaluate_blocking(cands, gold, n, n).collect()[0]
    assert out["true_positives_found"] == 1
    assert out["total_candidates"] == 3
    assert out["total_true_pairs"] == 2


def test_evaluate_matching(spark, labeled):
    corr, gold = labeled
    out = evaluate_matching(corr, gold, threshold=0.5).collect()[0]
    # predicted: ax, by; tp=ax, fp=by, fn=cz+dw, tn=0
    assert out["tp"] == 1 and out["fp"] == 1 and out["fn"] == 2 and out["tn"] == 0
    assert out["precision"] == pytest.approx(0.5)
    assert out["recall"] == pytest.approx(1 / 3)


def test_threshold_sweep_monotone_recall(spark, labeled):
    corr, gold = labeled
    rows = threshold_sweep(corr, gold, [0.0, 0.5, 0.85, 1.0]).collect()
    recalls = [r["recall"] for r in rows]
    assert recalls == sorted(recalls, reverse=True)
    by_t = {r["threshold"]: r for r in rows}
    assert by_t[0.0]["tp"] == 2
    assert by_t[0.85]["tp"] == 1


def test_cluster_reports(spark):
    corr = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8)], "id1 string, id2 string, score double"
    )
    rep = cluster_consistency_report(corr).collect()
    row = rep[0]
    assert row["n_entities"] == 3 and row["n_edges"] == 2
    assert row["consistency"] == pytest.approx(2 / 3)

    from pydi_spark.clustering import connected_components

    dist = cluster_size_distribution(
        connected_components(corr.select("id1", "id2"))
    ).collect()
    assert [(r["cluster_size"], r["n_clusters"]) for r in dist] == [(3, 1)]


def test_write_record_groups_by_consistency(spark, tmp_path):
    """Each connected group lands in the highest consistency bucket it
    reaches (reference evaluation.py:782-859); below every bucket it is
    'low'. Consistencies: x-y 1.0, k1..k4 5/6, a-b-c 2/3, p..t 4/10."""
    from pydi_spark.evaluation.matching_eval import (
        write_record_groups_by_consistency,
    )

    edges = [("x", "y"), ("a", "b"), ("b", "c"),
             ("k1", "k2"), ("k1", "k3"), ("k1", "k4"), ("k2", "k3"), ("k3", "k4"),
             ("p", "q"), ("q", "r"), ("r", "s"), ("s", "t")]
    corr = spark.createDataFrame(
        [(a, b, 0.9) for a, b in edges], "id1 string, id2 string, score double"
    )
    out = str(tmp_path / "groups")
    write_record_groups_by_consistency(corr, out)
    got = {r["cluster_id"]: (r["bucket"], r["n_entities"], r["n_edges"])
           for r in spark.read.json(out).collect()}
    assert got == {
        "x": (">=1.0", 2, 1),
        "k1": (">=0.8", 4, 5),
        "a": (">=0.5", 3, 2),
        "p": ("low", 5, 4),
    }


# ----------------------------------------------------- events analytics

def _ts(s):
    import datetime

    return datetime.datetime.fromisoformat(s)


def test_assign_sessions_and_stats(spark):
    from pydi_spark.events import assign_sessions, session_stats

    rows = [
        (1, 10, _ts("2026-01-01 10:00:00"), "view"),
        (1, 11, _ts("2026-01-01 10:10:00"), "click"),
        (1, 12, _ts("2026-01-01 11:30:00"), "view"),     # 80 min gap
        (2, 20, _ts("2026-01-01 09:00:00"), "view"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    got = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in assign_sessions(df).collect()
    }
    assert got == {(1, 10): 1, (1, 11): 1, (1, 12): 2, (2, 20): 1}
    stats = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration_us"])
        for r in session_stats(df).collect()
    }
    assert stats[(1, 1)] == (2, 600_000_000)
    assert stats[(1, 2)] == (1, 0)
    assert stats[(2, 1)] == (1, 0)


def test_funnel_stages_strict_sequence(spark):
    from pydi_spark.events import funnel_stages

    rows = [
        # u1 full funnel
        (1, _ts("2026-01-01 10:00:00"), "view"),
        (1, _ts("2026-01-01 11:00:00"), "click"),
        (1, _ts("2026-01-01 12:00:00"), "purchase"),
        # u2 click BEFORE view -> stays at stage 1
        (2, _ts("2026-01-01 10:00:00"), "click"),
        (2, _ts("2026-01-01 11:00:00"), "view"),
        # u3 click too late (>24h)
        (3, _ts("2026-01-01 10:00:00"), "view"),
        (3, _ts("2026-01-03 10:00:00"), "click"),
        # u4 never views -> outside funnel
        (4, _ts("2026-01-01 10:00:00"), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {
        r["stage"]: r["n_users"]
        for r in funnel_stages(df, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 2, 3: 1}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        funnel_stages(df, ["view"])


def test_retention_cohorts(spark):
    from pydi_spark.events import retention_cohorts

    rows = [
        (1, _ts("2026-01-05 10:00:00"), "signup"),   # Monday
        (1, _ts("2026-01-06 10:00:00"), "view"),     # wk 0
        (1, _ts("2026-01-14 10:00:00"), "view"),     # wk 1
        (2, _ts("2026-01-07 10:00:00"), "signup"),   # same cohort week
        (2, _ts("2026-01-20 10:00:00"), "view"),     # wk 2
        (3, _ts("2026-01-01 10:00:00"), "view"),     # never signs up
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {
        (r["cohort_week"], r["wk_off"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert got == {
        ("2026-01-05", 0): 2,   # both signups active in week 0
        ("2026-01-05", 1): 1,
        ("2026-01-05", 2): 1,
    }


def test_event_path_ngrams(spark):
    from pydi_spark.events import event_path_ngrams

    rows = [
        (1, 10, _ts("2026-01-01 10:00:00"), "a"),
        (1, 11, _ts("2026-01-01 10:01:00"), "b"),
        (1, 12, _ts("2026-01-01 10:02:00"), "c"),
        (1, 13, _ts("2026-01-01 12:00:00"), "a"),   # new session
        (1, 14, _ts("2026-01-01 12:01:00"), "b"),
        (2, 20, _ts("2026-01-01 10:00:00"), "a"),
        (2, 21, _ts("2026-01-01 10:01:00"), "b"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    bi = {
        r["path"]: (r["cnt"], r["n_users"])
        for r in event_path_ngrams(df, n=2).collect()
    }
    # a>b occurs 3x (u1 twice across two sessions, u2 once), 2 users;
    # sessions never bridge: no c>a bigram
    assert bi == {"a>b": (3, 2), "b>c": (1, 1)}
    tri = {
        r["path"]: (r["cnt"], r["n_users"])
        for r in event_path_ngrams(df, n=3).collect()
    }
    assert tri == {"a>b>c": (1, 1)}


def test_resample_timeseries_fills_gaps(spark):
    from pydi_spark.events import resample_timeseries

    rows = [
        ("a", 10, _ts("2026-01-01 10:05:00"), 1.25),
        ("a", 11, _ts("2026-01-01 10:30:00"), 2.0),
        ("a", 12, _ts("2026-01-01 13:10:00"), 4.0),   # 2 empty hours
        ("b", 20, _ts("2026-01-01 00:00:00"), 0.5),
    ]
    df = spark.createDataFrame(rows, ["k", "event_id", "ts", "value"])
    got = {
        (r["k"], r["bucket_start_us"]): (r["n_events"], r["value_micro"])
        for r in resample_timeseries(
            df, key_col="k", interval_minutes=60, value_col="value"
        ).collect()
    }
    h = 3_600_000_000
    base = int(_ts("2026-01-01 10:00:00").replace(
        tzinfo=__import__("datetime").timezone.utc).timestamp()) * 1_000_000
    # NOTE: createDataFrame treats naive datetimes in session tz (UTC in
    # tests) so the arithmetic below is exact
    assert got[("a", base)] == (2, 3_250_000)
    assert got[("a", base + h)] == (0, 0)
    assert got[("a", base + 2 * h)] == (0, 0)
    assert got[("a", base + 3 * h)] == (1, 4_000_000)
    assert len([k for k in got if k[0] == "a"]) == 4
    assert len([k for k in got if k[0] == "b"]) == 1
    # no fill -> empty buckets absent
    sparse = resample_timeseries(
        df, key_col="k", interval_minutes=60, fill=False
    )
    assert sparse.count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        resample_timeseries(df, interval_minutes=0)


def test_resample_timeseries_null_key_fill(spark):
    """ADVICE r6: the fill path's grid-to-agg join must be null-safe —
    a NULL-key group's real aggregates were silently replaced with
    zeros when fill=True."""
    from pydi_spark.events import resample_timeseries

    rows = [
        (None, _ts("2026-01-01 10:05:00"), 1.0),
        (None, _ts("2026-01-01 12:30:00"), 2.0),  # 1 empty hour between
        ("a", _ts("2026-01-01 10:10:00"), 3.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value"])
    got = {
        (r["k"], r["bucket_start_us"]): (r["n_events"], r["value_micro"])
        for r in resample_timeseries(
            df, key_col="k", interval_minutes=60, value_col="value"
        ).collect()
    }
    h = 3_600_000_000
    base = int(_ts("2026-01-01 10:00:00").replace(
        tzinfo=__import__("datetime").timezone.utc).timestamp()) * 1_000_000
    assert got[(None, base)] == (1, 1_000_000)
    assert got[(None, base + h)] == (0, 0)
    assert got[(None, base + 2 * h)] == (1, 2_000_000)
    assert got[("a", base)] == (1, 3_000_000)
    assert len(got) == 4


def test_find_sequence_gaps(spark):
    from pydi_spark.profiling import find_sequence_gaps

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (7,), (8,), (12,), (None,), (12,)], "v int"
    )
    got = sorted(
        (r["gap_start"], r["gap_end"], r["n_missing"])
        for r in find_sequence_gaps(df, "v").collect()
    )
    assert got == [(4, 6, 3), (9, 11, 3)]
    assert find_sequence_gaps(df.where("v < 4"), "v").count() == 0
    assert find_sequence_gaps(df.where("v IS NULL"), "v").count() == 0


def test_event_path_ngrams_null_event_types(spark):
    """Review fix: a NULL event type must not splice its neighbours
    into a fake path (concat_ws skips nulls silently)."""
    from pydi_spark.events import event_path_ngrams

    rows = [
        (1, 10, _ts("2026-01-01 10:00:00"), "a"),
        (1, 11, _ts("2026-01-01 10:01:00"), None),
        (1, 12, _ts("2026-01-01 10:02:00"), "c"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "event_type"])
    got = {r["path"] for r in event_path_ngrams(df, n=2).collect()}
    assert got == {"a>c"}  # null row dropped BEFORE sequencing, documented


def test_resample_all_null_values_bucket_is_zero(spark):
    from pydi_spark.events import resample_timeseries

    df = spark.createDataFrame(
        [("k", _ts("2026-01-01 10:05:00"), None)],
        "k string, ts timestamp, value double",
    )
    for fill in (True, False):
        r = resample_timeseries(
            df, key_col="k", value_col="value", fill=fill
        ).collect()[0]
        assert (r["n_events"], r["value_micro"]) == (1, 0), fill


def test_adjusted_rand_index_known_values(spark):
    from pydi_spark.evaluation import adjusted_rand_index

    def frames(pred_labels, gold_labels):
        p = spark.createDataFrame(
            [(str(i), str(c)) for i, c in enumerate(pred_labels)],
            ["record_id", "cluster_id"],
        )
        g = spark.createDataFrame(
            [(str(i), str(c)) for i, c in enumerate(gold_labels)],
            ["record_id", "cluster_id"],
        )
        return p, g

    # identical clusterings -> ARI = 1
    p, g = frames([0, 0, 1, 1, 2, 2], [5, 5, 6, 6, 7, 7])
    r = adjusted_rand_index(p, g).collect()[0]
    assert r["ari_micro"] == 1_000_000
    assert (r["n"], r["n_pred_clusters"], r["n_gold_clusters"]) == (6, 3, 3)
    # sklearn-documented example: ARI([0,0,1,1],[0,0,1,2]) ~ 0.5714
    p, g = frames([0, 0, 1, 1], [0, 0, 1, 2])
    r = adjusted_rand_index(p, g).collect()[0]
    assert r["ari_micro"] == 571_428
    # independent-ish split -> degenerate den (every record alone both
    # sides) yields null
    p, g = frames([0, 1, 2], [3, 4, 5])
    assert adjusted_rand_index(p, g).collect()[0]["ari_micro"] is None


def test_calibration_table(spark):
    from pydi_spark.evaluation import calibration_table

    scored = spark.createDataFrame(
        [("a", "1", 0.05), ("b", "2", 0.08), ("c", "3", 0.95),
         ("d", "4", 0.97), ("e", "5", 1.0)],
        ["id1", "id2", "score"],
    )
    gold = spark.createDataFrame(
        [("c", "3", 1), ("d", "4", 1), ("a", "1", 0)],
        ["id1", "id2", "label"],
    )
    got = {r["bucket"]: (r["n"], r["n_pos"], r["precision_ppm"],
                         r["bucket_lo_ppm"])
           for r in calibration_table(scored, gold).collect()}
    assert got[0] == (2, 0, 0, 0)             # unlabeled counts negative
    assert got[9] == (3, 2, 666_666, 900_000)  # score 1.0 clamped to 9
    import pytest as _pytest

    with _pytest.raises(ValueError):
        calibration_table(scored, gold, n_buckets=1)


def test_attribute_conversions_models(spark):
    from pydi_spark.events import attribute_conversions

    rows = [
        # user 1: three touches inside the 24h window, one outside
        (1, 1, _ts("2026-01-01 09:00:00"), "click"),
        (1, 2, _ts("2026-01-01 10:00:00"), "view"),
        (1, 3, _ts("2026-01-01 11:00:00"), "click"),
        (1, 4, _ts("2025-12-30 11:00:00"), "click"),  # outside lookback
        (1, 9, _ts("2026-01-01 12:00:00"), "purchase"),
        # user 2: no touches at all -> unattributed
        (2, 19, _ts("2026-01-01 12:00:00"), "purchase"),
        # user 3: only an out-of-window touch -> unattributed too
        (3, 20, _ts("2025-12-01 00:00:00"), "click"),
        (3, 29, _ts("2026-01-01 12:00:00"), "purchase"),
        # user 4: a NULL-id in-window touch must NOT desync the split
        # (dropped up front) — the real touch keeps full credit
        (4, None, _ts("2026-01-01 11:00:00"), "click"),
        (4, 41, _ts("2026-01-01 11:30:00"), "click"),
        (4, 49, _ts("2026-01-01 12:00:00"), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )

    def run(model):
        return {
            (r["user_id"], r["touch_id"], r["conversion_id"]): r["credit_ppm"]
            for r in attribute_conversions(
                df, ["click", "view"], "purchase", model=model,
                lookback_hours=24,
            ).collect()
        }

    linear = run("linear")
    # 1e6 div 3 = 333333 rem 1 -> earliest touch gets the extra ppm
    assert linear[(1, 1, 9)] == 333334
    assert linear[(1, 2, 9)] == 333333
    assert linear[(1, 3, 9)] == 333333
    assert linear[(2, None, 19)] == 1_000_000
    assert linear[(3, None, 29)] == 1_000_000
    assert linear[(4, 41, 49)] == 1_000_000  # NULL-id touch dropped
    assert (1, 4, 9) not in linear  # outside the lookback
    # conservation: exactly 1e6 per conversion
    per_conv = {}
    for (u, t, c), ppm in linear.items():
        per_conv[c] = per_conv.get(c, 0) + ppm
    assert set(per_conv.values()) == {1_000_000}

    first = run("first")
    assert first == {(1, 1, 9): 1_000_000, (2, None, 19): 1_000_000,
                     (3, None, 29): 1_000_000, (4, 41, 49): 1_000_000}
    last = run("last")
    assert last == {(1, 3, 9): 1_000_000, (2, None, 19): 1_000_000,
                    (3, None, 29): 1_000_000, (4, 41, 49): 1_000_000}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        attribute_conversions(df, ["click"], "purchase", model="nope")
    with _pytest.raises(ValueError):
        attribute_conversions(df, [], "purchase")
    with _pytest.raises(ValueError):
        attribute_conversions(df, ["click"], "purchase", lookback_hours=0)


def test_active_users_rolling_windows(spark):
    from pydi_spark.events import active_users

    d0 = _ts("2026-01-01 12:00:00")
    day = 86400
    import datetime

    def at(day_off, u):
        return (u, d0 + datetime.timedelta(seconds=day * day_off))

    rows = [at(0, 1), at(0, 2), at(1, 1), at(4, 3), at(4, 3)]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    base_day = 20454  # 2026-01-01 epoch-day
    dau = {r["day"] - base_day: r["n_active"]
           for r in active_users(df, window_days=1).collect()}
    assert dau == {0: 2, 1: 1, 2: 0, 3: 0, 4: 1}
    wau = {r["day"] - base_day: r["n_active"]
           for r in active_users(df, window_days=7).collect()}
    # day 4 sees users {1,2,3} (days 0,1,4 all within trailing 7)
    assert wau == {0: 2, 1: 2, 2: 2, 3: 2, 4: 3}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        active_users(df, window_days=0)


def test_equi_width_histogram(spark):
    from pydi_spark.profiling import equi_width_histogram

    df = spark.createDataFrame(
        [(float(v),) for v in [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10]]
        + [(None,)],
        "x double",
    )
    # auto bounds: lo=0 hi=10, 5 buckets of width 2; x=10 lands in the
    # last bucket; the null lands in -1
    got = {r["bucket"]: r["n"]
           for r in equi_width_histogram(df, "x", n_buckets=5).collect()}
    assert got == {0: 2, 1: 2, 2: 2, 3: 2, 4: 3, -1: 1}
    # explicit narrow bounds: out-of-range buckets -2 / n_buckets
    got = {r["bucket"]: r["n"]
           for r in equi_width_histogram(
               df, "x", n_buckets=2, lo=2.0, hi=6.0).collect()}
    assert got == {0: 2, 1: 3, -2: 2, 2: 4, -1: 1}
    # degenerate hi == lo
    one = spark.createDataFrame([(5.0,), (5.0,)], "x double")
    got = {r["bucket"]: r["n"]
           for r in equi_width_histogram(one, "x", n_buckets=3).collect()}
    assert got == {0: 2, 1: 0, 2: 0}
    # all-null column
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    got = {r["bucket"]: r["n"]
           for r in equi_width_histogram(nulls, "x").collect()}
    assert got == {-1: 2}
    # one explicit bound + all-null data: same null-bucket answer,
    # never a TypeError from float(None)
    got = {r["bucket"]: r["n"]
           for r in equi_width_histogram(nulls, "x", lo=0.0).collect()}
    assert got == {-1: 2}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        equi_width_histogram(df, "x", n_buckets=0)
    with _pytest.raises(ValueError):
        equi_width_histogram(df, "x", lo=5.0, hi=1.0)


def test_cohort_value(spark):
    """LTV table: value sums quantize to exact micros; n_users matches
    retention_cohorts' distinct count; pre-signup events excluded."""
    from pydi_spark.events import cohort_value, retention_cohorts

    rows = [
        # u1 signs up week of Mon 2024-01-01; spends in wk 0 and wk 1
        (1, "u1", "signup", "2024-01-02 10:00:00", 0.0),
        (2, "u1", "purchase", "2024-01-03 10:00:00", 10.5),
        (3, "u1", "purchase", "2024-01-09 10:00:00", 2.25),
        # u2 same cohort, only wk 0 activity (value NULL -> 0)
        (4, "u2", "signup", "2024-01-04 09:00:00", None),
        # u2 pre-signup event must NOT count
        (5, "u2", "view", "2023-12-20 09:00:00", 99.0),
        # u3 never signs up -> outside every cohort
        (6, "u3", "purchase", "2024-01-03 12:00:00", 50.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, "
              "ts_s string, value double",
    ).withColumn("ts", __import__("pyspark").sql.functions.to_timestamp("ts_s"))
    got = {(r["cohort_week"], r["wk_off"]): r
           for r in cohort_value(df).collect()}
    wk0 = got[("2024-01-01", 0)]
    assert wk0["n_users"] == 2
    assert wk0["value_micro"] == 10_500_000  # u1 10.5 + signups 0
    wk1 = got[("2024-01-01", 1)]
    assert wk1["n_users"] == 1 and wk1["value_micro"] == 2_250_000
    assert len(got) == 2  # u3 and pre-signup rows excluded
    ret = {(r["cohort_week"], r["wk_off"]): r["n_users"]
           for r in retention_cohorts(df).collect()}
    assert all(got[k]["n_users"] == ret[k] for k in got)


def test_bcubed_metrics(spark):
    """Worked example (Amigo et al. fig-style): gold {a,b,c},{d,e};
    predicted {a,b},{c,d},{e}. Per-record P: a,b=1, c=1/2, d=1/2, e=1
    -> mean 0.8; per-record R: a,b=2/3, c=1/3, d=1/2, e=1/2 -> mean
    (2/3+2/3+1/3+1/2+1/2)/5 = 8/15."""
    from pydi_spark.evaluation import bcubed_metrics

    pred = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("c", "p2"), ("d", "p2"), ("e", "p3")],
        "record_id string, cluster_id string",
    )
    gold = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2"), ("e", "g2")],
        "record_id string, cluster_id string",
    )
    r = bcubed_metrics(pred, gold).collect()[0]
    assert r["n_records"] == 5
    # per-record ppm floors: P = [1e6,1e6,500000,500000,1e6] -> 800000
    assert r["precision_ppm"] == 800000
    # R = [666666,666666,333333,500000,500000] -> sum 2666665 div 5
    assert r["recall_ppm"] == 533333
    assert abs(r["f1"] - (2 * 0.8 * 0.533333) / (0.8 + 0.533333)) < 1e-5
    # identical clusterings -> perfect scores
    perfect = bcubed_metrics(pred, pred).collect()[0]
    assert perfect["precision_ppm"] == perfect["recall_ppm"] == 1000000
    assert perfect["f1"] == 1.0


def test_bcubed_rejects_overlapping_clusters(spark):
    import pytest as _pytest

    from pydi_spark.evaluation import bcubed_metrics

    pred = spark.createDataFrame(
        [("a", "p1"), ("a", "p2"), ("b", "p1")],
        "record_id string, cluster_id string",
    )
    gold = spark.createDataFrame(
        [("a", "g1"), ("b", "g1")], "record_id string, cluster_id string")
    with _pytest.raises(ValueError, match="multiple clusters"):
        bcubed_metrics(pred, gold)
    with _pytest.raises(ValueError, match="gold"):
        bcubed_metrics(gold, pred)
    # exact duplicate ROWS are fine (distinct, not ambiguity)
    dup_rows = spark.createDataFrame(
        [("a", "g1"), ("a", "g1"), ("b", "g1")],
        "record_id string, cluster_id string",
    )
    r = bcubed_metrics(dup_rows, gold).collect()[0]
    assert r["precision_ppm"] == 1000000


_BCUBED_CASES = {
    "worked_example": (
        [("a", "p1"), ("b", "p1"), ("c", "p2"), ("d", "p2"), ("e", "p3")],
        [("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2"), ("e", "g2")],
    ),
    # a null record id never joins; a null cluster id keeps its record
    # out of the cells; one-sided records only reach the partition check
    "nulls_and_one_sided": (
        [(None, "p1"), ("a", None), ("b", "p1"), ("c", "p1"), ("d", "p2"),
         ("x", "p9")],
        [(None, "g1"), ("a", "g1"), ("b", "g1"), ("c", None), ("d", "g1"),
         ("y", "g3")],
    ),
    "duplicate_rows_non_ascii": (
        [("é", "ü"), ("é", "ü"), ("日本", "ü"), ("z", "ß"), ("z", "ß")],
        [("é", "g"), ("日本", "g"), ("日本", "g"), ("z", "g")],
    ),
    "all_one_sided": ([("a", "p")], [("b", "g")]),
    "empty": ([], []),
}


@pytest.mark.parametrize("case", sorted(_BCUBED_CASES))
def test_bcubed_driver_and_distributed_rows_match(spark, monkeypatch, case):
    """The driver branch (both sides together within the row cap) and
    the distributed cell plan give the same row. A cap of 0 refuses
    every non-empty input; -1 refuses the empty one too."""
    from pydi_spark.core import plansize
    from pydi_spark.evaluation import bcubed_metrics

    schema = "record_id string, cluster_id string"
    pred_rows, gold_rows = _BCUBED_CASES[case]
    pred = spark.createDataFrame(pred_rows, schema)
    gold = spark.createDataFrame(gold_rows, schema)
    on_driver = bcubed_metrics(pred, gold).collect()
    monkeypatch.setattr(plansize, "BCUBED_DRIVER_ROW_CAP", 0 if pred_rows else -1)
    distributed = bcubed_metrics(pred, gold).collect()
    assert on_driver == distributed
    if not pred_rows:
        assert on_driver[0]["n_records"] == 0
        assert on_driver[0]["precision_ppm"] is None
        assert on_driver[0]["f1"] is None


@pytest.mark.parametrize("cap", [None, 0])
def test_bcubed_overlap_refused_on_both_branches(spark, monkeypatch, cap):
    """Each branch names the record and the side it belongs to: the
    predicted side, the gold side, and a null record id in two clusters
    (the distributed window groups null ids together)."""
    from pydi_spark.core import plansize
    from pydi_spark.evaluation import bcubed_metrics

    if cap is not None:
        monkeypatch.setattr(plansize, "BCUBED_DRIVER_ROW_CAP", cap)
    schema = "record_id string, cluster_id string"
    overlap = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("b", None)], schema)
    clean = spark.createDataFrame([("a", "g1"), ("b", "g1")], schema)
    with pytest.raises(ValueError, match="record 'b' .* predicted"):
        bcubed_metrics(overlap, clean)
    with pytest.raises(ValueError, match="record 'b' .* gold"):
        bcubed_metrics(clean, overlap)
    null_overlap = spark.createDataFrame(
        [(None, "p1"), (None, "p2"), ("a", "p1")], schema)
    with pytest.raises(ValueError, match="record None .* gold"):
        bcubed_metrics(clean, null_overlap)


@pytest.mark.parametrize("cap", [None, 35])
def test_bcubed_runs_each_input_lineage_once(spark, monkeypatch, cap):
    """Whichever branch runs, each side's lineage is computed once: the
    counted checkpoint feeds the driver collect and the cell plan alike.
    At a cap of 35 the 30 predicted rows alone would fit and the 70 of
    both sides do not: a per-side collect that fitted the predicted
    side and then fell back would run its lineage a second time."""
    from pydi_spark.core import plansize
    from pydi_spark.evaluation import bcubed_metrics

    if cap is not None:
        monkeypatch.setattr(plansize, "BCUBED_DRIVER_ROW_CAP", cap)
    sc = spark.sparkContext
    seen = sc.accumulator(0)

    def tap(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    schema = "record_id string, cluster_id string"
    pred = spark.createDataFrame(
        [(str(i), f"p{i // 3}") for i in range(30)], schema).mapInPandas(tap, schema)
    gold = spark.createDataFrame(
        [(str(i), f"g{i // 5}") for i in range(40)], schema).mapInPandas(tap, schema)
    assert bcubed_metrics(pred, gold).collect()[0]["n_records"] == 30
    assert seen.value == 70


def test_bcubed_job_budget(spark):
    """Driver-sized inputs cost their own shuffles, one count and one
    Arrow collect: at most 4 jobs per call here (the distributed cell
    plan runs about 15)."""
    from pydi_spark.evaluation import bcubed_metrics

    schema = "record_id string, cluster_id string"
    pred = spark.createDataFrame(
        [(str(i), f"p{i // 3}") for i in range(60)], schema).repartition(4)
    gold = spark.createDataFrame(
        [(str(i), f"g{i // 4}") for i in range(60)], schema).repartition(4)
    sc = spark.sparkContext
    group = "bcubed-job-budget"
    sc.setJobGroup(group, group)
    try:
        row = bcubed_metrics(pred, gold).collect()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    assert row[0]["n_records"] == 60
    assert jobs <= 4, jobs


def test_evaluate_matching_refuses_conflicting_labels(spark, labeled):
    """A gold pair listed as both a match and a non-match has no one
    label to count; repeats with the same label collapse to one pair."""
    corr, gold = labeled
    repeated = gold.unionByName(gold)
    assert (evaluate_matching(corr, repeated, threshold=0.5).collect()
            == evaluate_matching(corr, gold, threshold=0.5).collect())
    conflicting = gold.unionByName(spark.createDataFrame(
        [("c", "z", 0)], "id1 string, id2 string, label int"))
    with pytest.raises(ValueError, match=r"\('c', 'z'\) is labelled both"):
        evaluate_matching(corr, conflicting)


def test_rfm_segments_hand_worked(spark):
    """8 users with strictly distinct R/F/M metrics: quartiles under
    ((rn-1)*4) div n + 1 are 2 users per tile; the segment cascade and
    the recency inversion (most recent -> r_score 4) checked by hand."""
    import datetime as dt

    from pydi_spark.events import rfm_segments

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user u{i}: last event t0 + i days, i+1 events of value 10*(i+1)
    for i in range(8):
        for j in range(i + 1):
            rows.append(
                (i * 100 + j, t0 + dt.timedelta(days=i, hours=j),
                 f"u{i}", "click", float(10 * (i + 1)))
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id string, "
              "event_type string, value double"
    )
    out = {r["user_id"]: r.asDict() for r in rfm_segments(df).collect()}
    assert len(out) == 8
    # u7: most recent, most frequent, highest value -> all 4s, champion
    assert (out["u7"]["r_score"], out["u7"]["f_score"],
            out["u7"]["m_score"]) == (4, 4, 4)
    assert out["u7"]["segment"] == "champion"
    # u0: oldest (7 days before max), least frequent, lowest value
    assert (out["u0"]["r_score"], out["u0"]["f_score"],
            out["u0"]["m_score"]) == (1, 1, 1)
    assert out["u0"]["segment"] == "dormant"
    assert out["u0"]["recency_days"] == 7 and out["u7"]["recency_days"] == 0
    assert out["u0"]["frequency"] == 1 and out["u7"]["frequency"] == 8
    # exact micro sums: u3 has 4 events of 40.0 -> 160e6
    assert out["u3"]["monetary_micro"] == 160_000_000
    # quartiles: ranks 1-8 over 8 users -> tiles (1,1,2,2,3,3,4,4)
    assert [out[f"u{i}"]["f_score"] for i in range(8)] == [
        1, 1, 2, 2, 3, 3, 4, 4]
    # recency inverted: ascending recency_days = descending score
    assert [out[f"u{i}"]["r_score"] for i in range(8)] == [
        1, 1, 2, 2, 3, 3, 4, 4]
    # explicit as_of shifts recency but not the ordering
    shifted = {r["user_id"]: r["recency_days"]
               for r in rfm_segments(
                   df, as_of=t0 + dt.timedelta(days=9)).collect()}
    assert shifted["u7"] == 2 and shifted["u0"] == 9
    # partition-independence of the global ranks
    out13 = {r["user_id"]: (r["r_score"], r["f_score"], r["m_score"],
                            r["segment"])
             for r in rfm_segments(df.repartition(13)).collect()}
    assert out13 == {u: (d["r_score"], d["f_score"], d["m_score"],
                         d["segment"]) for u, d in out.items()}


def test_event_cooccurrence_support_and_lift(spark):
    import pytest as _pytest

    from pydi_spark.events import event_cooccurrence

    # 4 baskets: {a,b} x2, {a,c}, {d}; duplicates inside a basket
    # count once
    rows = [
        ("g1", "a"), ("g1", "b"), ("g1", "a"),
        ("g2", "a"), ("g2", "b"),
        ("g3", "a"), ("g3", "c"),
        ("g4", "d"), ("g4", None),
    ]
    df = spark.createDataFrame(rows, "g string, item string")
    out = {(r["item1"], r["item2"]): r.asDict()
           for r in event_cooccurrence(df, ["g"], "item").collect()}
    assert set(out) == {("a", "b"), ("a", "c")}
    ab = out[("a", "b")]
    assert (ab["n_pair"], ab["n_i"], ab["n_j"]) == (2, 3, 2)
    assert ab["support_ppm"] == 500_000          # 2/4 baskets
    # lift = (2*4)/(3*2) = 4/3 -> 1333333 micro (floor)
    assert ab["lift_micro"] == 1_333_333
    ac = out[("a", "c")]
    assert ac["support_ppm"] == 250_000
    # lift = (1*4)/(3*1) = 4/3 as well
    assert ac["lift_micro"] == 1_333_333
    # min_pairs prunes the singleton pair
    strong = {(r["item1"], r["item2"]) for r in event_cooccurrence(
        df, ["g"], "item", min_pairs=2).collect()}
    assert strong == {("a", "b")}
    # the hot-basket cap drops g1/g2-sized baskets before the join
    capped = event_cooccurrence(
        df, ["g"], "item", max_items_per_group=1).collect()
    assert capped == []
    with _pytest.raises(ValueError, match="group_cols"):
        event_cooccurrence(df, [], "item")


def test_experiment_report_rates_and_contamination(spark):
    from pydi_spark.events import experiment_report

    rows = [
        # control: u1 converts, u2 does not
        ("u1", "control", "view"), ("u1", "control", "purchase"),
        ("u2", "control", "view"),
        # treatment: u3/u4 convert, u5 does not
        ("u3", "t1", "purchase"), ("u4", "t1", "purchase"),
        ("u5", "t1", "view"),
        # u6 saw BOTH variants -> excluded + counted
        ("u6", "control", "purchase"), ("u6", "t1", "view"),
        # null variant ignored
        ("u7", None, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id string, variant string, "
                                     "event_type string")
    out = {r["variant"]: r.asDict()
           for r in experiment_report(df, "variant", "purchase").collect()}
    assert set(out) == {"control", "t1"}
    c, t = out["control"], out["t1"]
    assert (c["n_users"], c["n_converted"], c["conv_ppm"]) == (2, 1, 500_000)
    assert (t["n_users"], t["n_converted"], t["conv_ppm"]) == (3, 2, 666_666)
    assert c["uplift_ppm"] == 0 and t["uplift_ppm"] == 166_666
    assert c["n_multi_variant_users"] == 1
    # absent control -> NULL uplift everywhere, rates intact
    out2 = {r["variant"]: r["uplift_ppm"] for r in experiment_report(
        df, "variant", "purchase", control="nope").collect()}
    assert out2 == {"control": None, "t1": None}


def test_rfm_segments_null_hygiene(spark):
    """NULL user ids / NULL timestamps are excluded BEFORE ranking —
    a NULL recency key would sort NULLS FIRST in Spark and NULLS LAST
    in SQL engines, shifting every quartile (r9 self-review finding)."""
    import datetime as dt

    from pydi_spark.events import rfm_segments

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("u1", t0, 10.0), ("u2", t0 + dt.timedelta(days=1), 20.0),
        (None, t0, 99.0),            # NULL user: dropped
        ("u3", None, 50.0),          # NULL ts: dropped entirely
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, "
                                     "value double")
    out = {r["user_id"] for r in rfm_segments(df).collect()}
    assert out == {"u1", "u2"}


def test_bot_report_hand_computed(spark):
    """25 events 1s apart -> median 1000ms, flagged; 60s apart -> not
    flagged; 5 fast events -> under min_events, not flagged; a
    single-event user has no gaps and is absent. Even gap count:
    median = floor((lo+hi)/2)."""
    import datetime as dt

    import pytest

    from pydi_spark.events import bot_report

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(25):
        rows.append((1, i, t0 + dt.timedelta(seconds=i)))
        rows.append((2, i, t0 + dt.timedelta(seconds=60 * i)))
    for i in range(5):
        rows.append((3, i, t0 + dt.timedelta(seconds=i)))
    rows.append((4, 0, t0))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    out = {
        r["user_id"]: (r["n_events"], r["median_gap_ms"], r["is_bot"])
        for r in bot_report(df, min_events=20, max_median_gap_ms=2000).collect()
    }
    assert out == {1: (25, 1000, 1), 2: (25, 60000, 0), 3: (5, 1000, 0)}
    # even count: gaps 1000/3000 -> median 2000
    df2 = spark.createDataFrame(
        [(9, 0, t0), (9, 1, t0 + dt.timedelta(seconds=1)),
         (9, 2, t0 + dt.timedelta(seconds=4))],
        "user_id long, event_id long, ts timestamp",
    )
    o2 = bot_report(df2).collect()[0]
    assert (o2["n_events"], o2["median_gap_ms"]) == (3, 2000)
    with pytest.raises(ValueError, match="min_events"):
        bot_report(df, min_events=1)
    with pytest.raises(ValueError, match="max_median_gap_ms"):
        bot_report(df, max_median_gap_ms=-1)
