"""Normalization: transforms, nulls, types, units, parsers, validators."""

import pytest
from pyspark.sql import functions as F

from pydi_spark.normalization import (
    DataQualityChecker,
    apply_column_transforms,
    detect_column_types,
    null_standardize_expr,
    outlier_bounds,
)
from pydi_spark.normalization.datasets import DatasetNormalizer, NormalizationConfig
from pydi_spark.normalization.parsers import (
    extract_domain,
    normalize_phone,
    normalize_url,
    parse_boolean,
    parse_coordinate,
    parse_currency,
    parse_numeric,
    parse_percentage,
    remove_accents,
)
from pydi_spark.normalization.text import handle_brackets, normalize_header, normalize_text
from pydi_spark.normalization.units import normalize_units, parse_unit_from_header


def one(spark, expr, value, schema="x string"):
    return spark.createDataFrame([(value,)], schema).select(expr.alias("r")).collect()[0]["r"]


def test_transforms(spark):
    df = spark.createDataFrame(
        [("  Hello   World ", "1,234.5", "n/a")], "a string, b string, c string"
    )
    out = apply_column_transforms(
        df, {"a": ["strip", "normalize_whitespace", "lower"], "b": "to_numeric"}
    ).collect()[0]
    assert out["a"] == "hello world"
    assert out["b"] == 1234.5


def test_null_standardization(spark):
    df = spark.createDataFrame(
        [("n/a",), ("-",), ("unbekannt",), ("real",), ("",)], "x string"
    )
    out = [r["r"] for r in df.select(null_standardize_expr("x").alias("r")).collect()]
    assert out == [None, None, None, "real", None]


def test_type_detection(spark):
    rows = [(str(i), f"{i}.5", "2024-01-0" + str(i % 9 + 1), f"u{i}@x.io", "yes" if i % 2 else "no", "txt " + str(i))
            for i in range(1, 30)]
    df = spark.createDataFrame(
        rows, "i string, f string, d string, e string, b string, s string"
    )
    types = {c: v["type"] for c, v in detect_column_types(df, sample_size=0).items()}
    assert types["i"] == "integer"
    assert types["f"] == "float"
    assert types["d"] == "date"
    assert types["e"] == "email"
    assert types["b"] == "boolean"
    assert types["s"] == "string"


def test_dataset_normalizer_coerces(spark):
    df = spark.createDataFrame(
        [("1,200", "2021-05-06", "yes", "n/a"), ("3,400", "2022-07-08", "no", "x")],
        "num string, dt string, flag string, misc string",
    )
    out, result = DatasetNormalizer(NormalizationConfig(sample_size=0)).normalize_dataset(df)
    row = out.orderBy("num").collect()[0]
    assert row["num"] == 1200.0
    assert str(row["dt"]).startswith("2021-05-06")
    assert row["flag"] is True
    assert row["misc"] is None  # textual null standardized
    assert "num" in result.applied


def test_outlier_bounds(spark):
    df = spark.createDataFrame([(float(x),) for x in [1, 2, 3, 4, 100]], "x double")
    lo, hi = outlier_bounds(df, "x", method="iqr")
    assert lo < 1 and hi < 100


def test_units(spark):
    df = spark.createDataFrame(
        [("12 km",), ("3 mi",), ("100 °F",), ("2.5 thousand m",)], "q string"
    )
    out = normalize_units(df, "q")
    got = {r["q"]: (r["q_value"], r["q_unit"], r["q_category"]) for r in out.collect()}
    assert got["12 km"][0] == pytest.approx(12000.0)
    assert got["3 mi"][0] == pytest.approx(4828.032)
    assert got["100 °F"][0] == pytest.approx(37.777, abs=1e-2)
    assert got["2.5 thousand m"][0] == pytest.approx(2500.0)
    assert got["12 km"][1:] == ("m", "length")
    assert parse_unit_from_header("Speed (km/h)") == "km/h"
    assert parse_unit_from_header("Name") is None


def test_units_catalog_breadth(spark):
    """Round-6 registry broadening (reference units.py:105-345):
    18 categories, symbol + full-name + plural aliases, legacy aliases
    byte-stable, no duplicate alias rows (a dup would fan out the
    broadcast join in normalize_units)."""
    from pydi_spark.normalization.units import UNITS_TABLE

    aliases = [a for a, *_ in UNITS_TABLE]
    assert len(aliases) == len(set(aliases)), "duplicate alias would fan out joins"
    cats = {c for _, c, _, _ in UNITS_TABLE}
    assert cats == {
        "length", "mass", "volume", "time", "speed", "data", "frequency",
        "power", "area", "temperature", "energy", "pressure", "force",
        "angle", "density", "currency", "percentage", "count",
    }
    d = {a: (c, f, b) for a, c, f, b in UNITS_TABLE}
    # legacy aliases keep their exact mapping (oracle stability)
    assert d["km"] == ("length", 1000.0, "m")
    assert d["lbs"] == ("mass", 0.45359237, "kg")
    assert d["gib"] == ("data", 1073741824.0, "b")
    assert d["kmh"] == ("speed", 1 / 3.6, "m/s")
    # name + plural generation (the reference _add_units rule)
    assert d["kilometer"] == d["kilometers"] == d["km"]
    assert d["inches"] == d["in"]
    # first-wins homonyms: 'pound' is mass (listed first), not currency
    assert d["pound"][0] == "mass"
    # 3-letter names pluralize like longer ones (days/tons hole, r6)
    assert d["days"] == d["day"] and d["tons"] == d["ton"]
    df = spark.createDataFrame(
        [("2 kWh",), ("3 bar",), ("90 deg",), ("1.5 g/cm3",), ("7 N",),
         ("16 fl oz",), ("45 %",), ("2 dozen",), ("3 nautical miles",)],
        "q string",
    )
    got = {r["q"]: (r["q_value"], r["q_unit"], r["q_category"])
           for r in normalize_units(df, "q").collect()}
    assert got["2 kWh"] == (pytest.approx(7200000.0), "j", "energy")
    assert got["3 bar"] == (pytest.approx(300000.0), "pa", "pressure")
    assert got["90 deg"] == (pytest.approx(1.570797), "rad", "angle")
    assert got["1.5 g/cm3"] == (pytest.approx(1500.0), "kg/m3", "density")
    assert got["7 N"] == (pytest.approx(7.0), "n", "force")
    assert got["16 fl oz"] == (pytest.approx(0.4546096), "l", "volume")
    assert got["45 %"] == (pytest.approx(45.0), "%", "percentage")
    assert got["2 dozen"] == (pytest.approx(24.0), "count", "count")
    assert got["3 nautical miles"] == (pytest.approx(5556.0), "m", "length")


def test_parsers(spark):
    assert one(spark, parse_boolean("x"), "Oui") is True
    assert one(spark, parse_numeric("x"), "1.234,56") == 1.23456  # default sep '.'
    assert one(spark, parse_numeric("x", decimal_sep=","), "1.234,56") == 1234.56
    assert one(spark, parse_percentage("x"), "45%") == pytest.approx(0.45)
    cur = one(spark, parse_currency("x"), "€1,234.50")
    assert cur["amount"] == 1234.50 and cur["currency"] == "EUR"
    coord = one(spark, parse_coordinate("x"), "48.85, 2.35")
    assert coord["lat"] == pytest.approx(48.85) and coord["lon"] == pytest.approx(2.35)
    assert one(spark, normalize_url("x"), "Example.COM/Path/") == "https://example.com/Path"
    assert one(spark, extract_domain("x"), "https://www.foo.org/bar") == "foo.org"
    assert one(spark, normalize_phone("x"), "+1 (555) 123-4567") == "+15551234567"
    assert one(spark, remove_accents("x"), "café naïve") == "cafe naive"


def test_text_normalizers(spark):
    assert (
        one(spark, normalize_text("x", strip_html=True), "<b>Hello</b>&nbsp; WORLD")
        == "hello world"
    )
    assert one(spark, normalize_header("x"), "myColumnName (EUR)") == "my_column_name_eur"
    assert one(spark, handle_brackets("x", "remove"), "Title (2024)") == "Title"
    assert one(spark, handle_brackets("x", "extract"), "Title (2024)") == "2024"


def test_analyze_column_quality(spark):
    """Per-column snapshot (reference columns.py:526-572): real NULLs
    and textual null tokens both count as textual nulls, completeness
    counts only real NULLs, lengths average over non-null values."""
    from pydi_spark.normalization.typedetect import analyze_column_quality

    df = spark.createDataFrame(
        [("abc",), ("n/a",), (None,), ("abcd",), ("abc",)], "x string"
    )
    q = analyze_column_quality(df, "x")
    assert q == {
        "rows": 5,
        "non_null": 4,
        "textual_nulls": 2,
        "approx_distinct": 3,
        "avg_length": pytest.approx(3.25),
        "completeness": pytest.approx(0.8),
    }
    assert analyze_column_quality(df.limit(0), "x")["completeness"] is None


def test_quality_checker(spark):
    df = spark.createDataFrame(
        [("a@x.io", 5), ("bad-email", 50), (None, 500)], "email string, n int"
    )
    rep = (
        DataQualityChecker()
        .add_email("email")
        .add_range("n", 0, 100)
        .add_completeness("email")
        .run(df)
    )
    got = {r["check"]: (r["n_checked"], r["n_violations"]) for r in rep.collect()}
    assert got["email:email"] == (2, 1)  # nulls not checked
    assert got["range:n"] == (3, 1)
    assert got["completeness:email"] == (3, 1)


def test_encoding_and_country(spark):
    from pydi_spark.normalization.parsers import (
        detect_encoding_issues,
        fix_encoding,
        standardize_country_name,
    )

    assert one(spark, fix_encoding("x"), "CafÃ© rÃ©sumÃ©") == "Café résumé"
    assert one(spark, detect_encoding_issues("x"), "CafÃ©") is True
    assert one(spark, detect_encoding_issues("x"), "Café") is False
    assert one(spark, standardize_country_name("x"), " USA ") == "United States"
    assert one(spark, standardize_country_name("x"), "Great Britain") == "United Kingdom"
    assert one(spark, standardize_country_name("x"), "France") == "France"


def test_convert_units_direct(spark):
    from pydi_spark.normalization import convert_units, convert_units_expr

    df = spark.createDataFrame(
        [(1.0, "km", "mi"), (10.0, "kg", "lb"), (2.0, "h", "min"),
         (212.0, "f", "k"), (100.0, "c", "f"), (5.0, "km", "kg"),
         (3.0, "zorp", "m")],
        "v double, fu string, tu string",
    )
    out = {(r["fu"], r["tu"]): (r["converted"], r["converted_ok"])
           for r in convert_units(df, "v", "fu", "tu").collect()}
    assert out[("km", "mi")][0] == pytest.approx(0.62137119, abs=1e-6)
    assert out[("kg", "lb")][0] == pytest.approx(22.0462262, abs=1e-5)
    assert out[("h", "min")][0] == pytest.approx(120.0)
    assert out[("f", "k")][0] == pytest.approx(373.15)
    assert out[("c", "f")][0] == pytest.approx(212.0)
    # category mismatch and unknown unit -> null + ok=0
    assert out[("km", "kg")] == (None, 0)
    assert out[("zorp", "m")] == (None, 0)
    # the pure-expression variant matches the join variant
    expr_out = {
        (r["fu"], r["tu"]): r["e"]
        for r in df.select(
            "fu", "tu",
            convert_units_expr(F.col("v"), F.col("fu"), F.col("tu")).alias("e"),
        ).collect()
    }
    for k, (v, _ok) in out.items():
        if v is None:
            assert expr_out[k] is None
        else:
            assert expr_out[k] == pytest.approx(v)


def test_parse_numeric_locales(spark):
    from pydi_spark.normalization.parsers import locale_separators

    assert one(spark, parse_numeric("x", locale="de"), "1.234,56") == 1234.56
    assert one(spark, parse_numeric("x", locale="fr"), "1 234,56") == 1234.56
    # Babel renders NBSP group separators for fr — both space kinds parse
    assert one(spark, parse_numeric("x", locale="fr"), "1 234,56") == 1234.56
    assert one(spark, parse_numeric("x", locale="de_CH"), "1'234.56") == 1234.56
    assert one(spark, parse_numeric("x", locale="pt-BR"), "R 1.234,56") is None  # R not stripped
    assert one(spark, parse_numeric("x", locale="pt-BR"), "1.234,56") == 1234.56
    assert one(spark, parse_numeric("x", locale="en"), "$1,234.56") == 1234.56
    # fallback de-AT -> de; unknown locale raises
    assert locale_separators("de-AT") == (".", ",")
    with pytest.raises(ValueError):
        locale_separators("xx_YY")
    # no-locale behavior unchanged
    assert one(spark, parse_numeric("x"), "1,234.5") == 1234.5


def test_translate_per_column_provenance(spark):
    from pydi_spark.core.dataset import Dataset
    from pydi_spark.translation import MappingTranslator

    df = spark.createDataFrame([(1, "x")], "mid int, title string")
    ds = Dataset.wrap(df, name="movies_a")
    mapping = spark.createDataFrame(
        [("movies_a", "title", "name", 0.9),
         ("movies_a", "title", "label", 0.4),
         ("movies_b", "title", "other", 1.0)],
        "source_dataset string, source_column string, "
        "target_column string, score double",
    )
    out = MappingTranslator().translate(ds, mapping)
    assert out.df.columns == ["mid", "name"]
    lineage = out.column_provenance("name")
    assert len(lineage) == 1
    e = lineage[0]
    assert e["translated_from"] == "title"
    assert e["source_dataset"] == "movies_a"
    assert e["score"] == 0.9
    assert out.column_provenance("mid") == []


def test_units_targets_and_headers(spark):
    """Per-category target units (reference UnitNormalizer contract,
    units.py:527-650) and header-declared units (extract_units_from_
    headers, :653-726): targets redirect only their category, headers
    make bare numeric columns quantity columns, and plural modifiers
    ('2 thousands m') parse."""
    from pydi_spark.normalization import normalize_header_units
    from pydi_spark.normalization.units import normalize_units

    df = spark.createDataFrame(
        [("3 km", "50 °F"), ("2 thousands m", "10 K")],
        "dist string, temp string",
    )
    out = normalize_units(
        normalize_units(df, "dist", target_units={"length": "km"}),
        "temp",
        target_units={"temperature": "°f"},
    )
    got = {r["dist"]: r for r in out.collect()}
    assert got["3 km"]["dist_value"] == pytest.approx(3.0)
    assert got["3 km"]["dist_unit"] == "km"
    assert got["2 thousands m"]["dist_value"] == pytest.approx(2.0)
    assert got["3 km"]["temp_value"] == pytest.approx(50.0)  # °F -> °F
    assert got["3 km"]["temp_unit"] == "°f"
    assert got["2 thousands m"]["temp_value"] == pytest.approx(
        (10 - 273.15) * 9.0 / 5.0 + 32.0
    )
    with pytest.raises(ValueError):
        normalize_units(df, "dist", target_units={"length": "kg"})

    hdr = spark.createDataFrame(
        [(5.0, 212.0), (1.5, 32.0)],
        "`Speed (km/h)` double, `Temp (°F)` double",
    )
    hout = normalize_header_units(hdr)
    rows = {r["Speed (km/h)"]: r for r in hout.collect()}
    assert rows[5.0]["Speed (km/h)_value"] == pytest.approx(5.0 / 3.6)
    # large/small magnitudes must convert too (the string-round-trip
    # implementation nulled anything a double renders scientifically)
    big = spark.createDataFrame(
        [(15_000_000.0,), (0.0001,)], "`Dist (km)` double"
    )
    bg = {r["Dist (km)"]: r["Dist (km)_value"]
          for r in normalize_header_units(big).collect()}
    assert bg[15_000_000.0] == pytest.approx(1.5e10)
    assert bg[0.0001] == pytest.approx(0.1)
    assert rows[5.0]["Speed (km/h)_category"] == "speed"
    assert rows[5.0]["Temp (°F)_value"] == pytest.approx(100.0)
    assert rows[1.5]["Temp (°F)_value"] == pytest.approx(0.0)
    # headers without units pass through untouched
    plain = spark.createDataFrame([(1,)], "n int")
    assert normalize_header_units(plain).columns == ["n"]


# ------------------------------------------------------------ FD repair

def test_repair_fd_violations(spark):
    from pydi_spark.normalization import fd_repair_report, repair_fd_violations

    df = spark.createDataFrame(
        [
            (1, "a", "x"), (2, "a", "x"), (3, "a", "y"),   # majority x
            (4, "b", None), (5, "b", None),                # all-null group
            (6, "c", "p"), (7, "c", "q"),                  # tie -> min 'p'
            (8, None, "z"),                                # null det untouched
        ],
        "id int, det string, dep string",
    )
    out = {r["id"]: (r["dep"], r["__repaired"])
           for r in repair_fd_violations(df, "det", "dep").collect()}
    assert out[1] == ("x", 0) and out[2] == ("x", 0)
    assert out[3] == ("x", 1)                  # y -> majority x
    assert out[4] == (None, 0) and out[5] == (None, 0)
    assert out[6] == ("p", 0) and out[7] == ("p", 1)  # tie breaks to 'p'
    assert out[8] == ("z", 0)
    rep = fd_repair_report(df, "det", "dep").collect()[0]
    assert (rep["n_groups"], rep["n_violating_groups"],
            rep["n_rows_changed"]) == (2, 2, 2)


# ----------------------------------------------------- imputation

def test_impute_missing_strategies(spark):
    from pydi_spark.normalization import impute_missing

    df = spark.createDataFrame(
        [
            ("g1", 1.0, 10, "a"), ("g1", 3.0, 20, "a"),
            ("g1", None, 30, "b"), ("g1", 2.0, None, None),
            ("g2", None, 5, "z"), ("g2", 8.0, None, None),
        ],
        ["g", "mean_col", "med_col", "mode_col"],
    )
    got = impute_missing(
        df,
        {"mean_col": "mean", "med_col": "median", "mode_col": "mode"},
        group_by=["g"],
    )
    rows = {
        (r["g"], r["med_col"] or -1, r["mode_col"] or ""): r
        for r in got.collect()
    }
    assert got.count() == 6
    # g1 mean of (1,3,2) = 2.0 fills the null
    assert rows[("g1", 30, "b")]["mean_col"] == 2.0
    # g1 median of (10,20,30) = 20 fills row 4's med_col
    g1_null_med = [r for r in got.collect() if r["g"] == "g1" and r["med_col"] == 20]
    assert len(g1_null_med) == 2  # original 20 + imputed
    # g1 mode: 'a' (2 of 3)
    assert [r["mode_col"] for r in got.collect() if r["g"] == "g1"].count("a") == 3
    # g2 mean fills with its only value
    assert all(r["mean_col"] == 8.0 for r in got.collect() if r["g"] == "g2")


def test_impute_missing_global_constant_and_validation(spark):
    import pytest as _pytest

    from pydi_spark.normalization import impute_missing

    df = spark.createDataFrame(
        [(1.0, None), (None, "x"), (3.0, None)], ["v", "s"]
    )
    got = impute_missing(df, {"v": "median", "s": ("constant", "?")})
    vals = sorted((r["v"], r["s"]) for r in got.collect())
    assert vals == [(1.0, "?"), (1.0, "x"), (3.0, "?")]
    with _pytest.raises(ValueError):
        impute_missing(df, {"v": "average"})
    with _pytest.raises(ValueError):
        impute_missing(df, {"nope": "mean"})


def test_impute_missing_all_null_group_stays_null(spark):
    from pydi_spark.normalization import impute_missing

    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", None), ("g2", None)], ["g", "v"]
    )
    got = {(r["g"], r["v"]) for r in impute_missing(
        df, {"v": "mean"}, group_by=["g"]
    ).collect()}
    assert got == {("g1", 1.0), ("g2", None)}


# ----------------------------------------------------- robust transforms

def test_clip_outliers(spark):
    from pydi_spark.normalization import clip_outliers

    rows = [(float(v),) for v in range(1, 101)] + [(None,)]
    df = spark.createDataFrame(rows, ["v"])
    got = clip_outliers(df, ["v"], lower=0.05, upper=0.95)
    vals = [r["v"] for r in got.collect()]
    assert vals.count(None) == 1
    nn = [v for v in vals if v is not None]
    assert min(nn) == 5.0 and max(nn) == 95.0
    assert vals.count(5.0) == 5 and vals.count(95.0) == 6
    assert sorted(nn)[10] == 11.0  # interior untouched
    import pytest as _pytest

    with _pytest.raises(ValueError):
        clip_outliers(df, ["v"], lower=0.9, upper=0.1)


def test_collapse_rare_categories(spark):
    import pytest as _pytest

    from pydi_spark.normalization import collapse_rare_categories

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1 + [(None,)], ["cat"]
    )
    by_count = [
        r["cat"]
        for r in collapse_rare_categories(df, "cat", min_count=3).collect()
    ]
    assert by_count.count("a") == 5 and by_count.count("b") == 3
    assert by_count.count("__other__") == 1 and by_count.count(None) == 1
    # share: >= 40% of the 9 non-null rows -> only 'a' (5/9)
    by_share = [
        r["cat"]
        for r in collapse_rare_categories(
            df, "cat", min_share_ppm=400_000
        ).collect()
    ]
    assert by_share.count("a") == 5 and by_share.count("__other__") == 4
    with _pytest.raises(ValueError):
        collapse_rare_categories(df, "cat")
    with _pytest.raises(ValueError):
        collapse_rare_categories(df, "cat", min_count=1, min_share_ppm=1)


def test_impute_missing_null_group_key(spark):
    """Review fix: a NULL group key is a group — the null-safe join
    must deliver its fill."""
    from pydi_spark.normalization import impute_missing

    df = spark.createDataFrame(
        [(None, 1.0), (None, None), ("g", 4.0)], ["g", "v"]
    )
    got = {(r["g"], r["v"]) for r in impute_missing(
        df, {"v": "mean"}, group_by=["g"]
    ).collect()}
    assert got == {(None, 1.0), ("g", 4.0)}


def test_canonicalize_values_known_clusters(spark):
    from pydi_spark.normalization import (
        apply_canonicalization,
        canonicalize_values,
    )

    rows = [("munchen",), ("muenchen",), ("munchenn",), ("berlin",),
            ("berlim",), ("tokyo",), (None,), ("munchen",)]
    df = spark.createDataFrame(rows, ["city"])
    got = {
        r["value"]: (r["canonical"], r["cluster_size"])
        for r in canonicalize_values(df, "city", max_distance=2).collect()
    }
    # munchen/muenchen/munchenn all within ed<=2 of each other or chained
    assert got["munchen"] == ("muenchen", 3)
    assert got["muenchen"][0] == "muenchen"
    assert got["berlin"] == ("berlim", 2)
    assert got["tokyo"] == ("tokyo", 1)     # singleton
    fixed = [
        r["city"]
        for r in apply_canonicalization(df, "city", max_distance=2).collect()
    ]
    assert fixed.count("muenchen") == 4 and fixed.count(None) == 1
    assert "munchen" not in fixed


def test_encode_categories(spark):
    from pydi_spark.normalization import encode_categories

    df = spark.createDataFrame(
        [("b",), ("b",), ("a",), ("a",), ("c",), (None,)], "v string"
    )
    # frequency order: a and b tie at 2 -> value ASC breaks it (a=0,
    # b=1), c=2; null -> -1
    got = {
        (r["v"], r["v_enc"])
        for r in encode_categories(df, "v", method="ordinal").collect()
    }
    assert got == {("a", 0), ("b", 1), ("c", 2), (None, -1)}
    lex = {
        (r["v"], r["v_enc"])
        for r in encode_categories(
            df, "v", method="ordinal", order="lexicographic"
        ).collect()
    }
    assert lex == {("a", 0), ("b", 1), ("c", 2), (None, -1)}
    freq = {
        (r["v"], r["v_enc"])
        for r in encode_categories(df, "v", method="frequency").collect()
    }
    assert freq == {("a", 2), ("b", 2), ("c", 1), (None, 0)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        encode_categories(df, "v", method="onehot")
    with _pytest.raises(ValueError):
        encode_categories(df, "v", order="random")


URL_CASES = [
    ("HTTP://WWW.Example.com:80/a/?utm_source=x&id=3#frag",
     "http://example.com/a/?id=3"),   # slash before '?' is kept
    ("https://Shop.com:443/item/7/", "https://shop.com/item/7"),
    ("http://shop.com/item?a=1&utm_b=2&c=3", "http://shop.com/item?a=1&c=3"),
    ("http://shop.com/?utm_a=1&utm_b=2", "http://shop.com"),
    ("https://a.com/p?ref=9", "https://a.com/p"),
    ("shop.com/item/5/", "shop.com/item/5"),        # no scheme: pass-through-ish
    ("  http://a.com//  ", "http://a.com"),
    ("http://a.com:8080/x", "http://a.com:8080/x"),  # non-default port kept
    ("ftp://Files.example.com/x", "ftp://files.example.com/x"),
    ("http://a.com/x?fbclid=abc&gclid=def", "http://a.com/x"),
    (None, None),
]


def test_canonical_url_values(spark):
    from pydi_spark.functions.urls import canonical_url

    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    got = [
        r["url_canonical"]
        for r in df.select(canonical_url("url").alias("url_canonical")).collect()
    ]
    # order-stable small local frame; compare as multiset to be safe
    assert sorted(x or "" for x in got) == sorted(
        (e or "") for _, e in URL_CASES
    )


def test_canonical_url_cross_engine_parity(spark):
    """The SAME builder feeds Spark and DuckDB — assert the two engines
    agree on a battery of messy URLs (the oracle-parity property the
    normalize_urls contract query relies on)."""
    import duckdb

    from pydi_spark.functions.urls import canonical_url_sql

    urls = [u for u, _ in URL_CASES if u is not None] + [
        "HTTPS://WWW.A.B.C:443/",
        "http://a.com/x?utm_source=1",
        "http://a.com/x?utm_source=1&utm_medium=2&keep=3",
        "http://A.com#only-frag",
        "https://a.com:443",
        "http://www.a.com:80//deep/path//",
        "weird string no url",
        "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got_spark = [
        r["c"]
        for r in df.select(
            F.expr(canonical_url_sql("url", "spark")).alias("c")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT {canonical_url_sql('url', 'duckdb')} FROM t ORDER BY i"
        ).fetchall()
    ]
    assert got_spark == got_duck, list(
        zip(urls, got_spark, got_duck)
    )


def test_mask_columns(spark):
    from pydi_spark.normalization import mask_columns
    import pytest as _pytest

    df = spark.createDataFrame(
        [("alice@x.com", "555-1234", "Alice", "ab", None)],
        "email string, phone string, name string, short string, missing string",
    )
    out = mask_columns(df, {
        "email": "hash", "phone": "redact", "name": "partial",
        "short": "partial", "missing": "hash",
    }).collect()[0]
    import hashlib
    assert out["email"] == hashlib.md5(b"alice@x.com").hexdigest()
    assert out["phone"] == "[REDACTED]"
    assert out["name"] == "A***e"
    assert out["short"] == "[REDACTED]"  # too short to keep edges
    assert out["missing"] is None        # NULL stays NULL
    # determinism: equal values stay joinable under 'hash'
    two = spark.createDataFrame(
        [("k1", "alice@x.com"), ("k2", "alice@x.com")], "id string, email string")
    hashed = mask_columns(two, {"email": "hash"}).select("email").distinct()
    assert hashed.count() == 1
    # keyed pseudonym: salted hash differs from unsalted and between salts
    h1 = mask_columns(two, {"email": "hash"}, salt="s1").select("email").collect()[0][0]
    h2 = mask_columns(two, {"email": "hash"}, salt="s2").select("email").collect()[0][0]
    h0 = mask_columns(two, {"email": "hash"}).select("email").collect()[0][0]
    assert len({h0, h1, h2}) == 3 and len(h1) == 64  # sha2-256 hex
    with _pytest.raises(ValueError):
        mask_columns(df, {"email": "rot13"})
    with _pytest.raises(ValueError):
        mask_columns(df, {"nope": "hash"})


def test_k_anonymity_report(spark):
    import pytest as _pytest

    from pydi_spark.normalization import k_anonymity_report

    rows = [
        ("us", "m", 1), ("us", "m", 2), ("us", "m", 2),
        ("us", "f", 3),
        ("de", None, 4), ("de", None, 4),
    ]
    df = spark.createDataFrame(rows, "country string, g string, sens int")
    out = {(r["country"], r["g"]): r.asDict()
           for r in k_anonymity_report(
               df, ["country", "g"], k=2, sensitive_col="sens").collect()}
    assert out[("us", "m")]["group_size"] == 3
    assert out[("us", "m")]["meets_k"] == 1
    assert out[("us", "m")]["l_distinct"] == 2
    # singleton class violates k=2
    assert out[("us", "f")]["meets_k"] == 0
    # NULL quasi-identifier forms its own class
    assert out[("de", None)]["group_size"] == 2
    assert out[("de", None)]["l_distinct"] == 1  # k-anonymous, l=1 leak
    # no sensitive column -> no l_distinct column
    cols = k_anonymity_report(df, ["country"], k=2).columns
    assert "l_distinct" not in cols and "meets_k" in cols
    with _pytest.raises(ValueError, match="columns not in frame"):
        k_anonymity_report(df, ["nope"], k=2)
    with _pytest.raises(ValueError, match="qi_cols"):
        k_anonymity_report(df, [], k=2)


def test_value_cluster_report(spark):
    from pydi_spark.normalization import value_cluster_report

    rows = [
        ("ACME Corp.",), ("ACME Corp.",), ("acme corp",), (" Acme-CORP ",),
        ("Widget Inc",), ("widget, inc.",),
        ("Unique LLC",),          # singleton key -> omitted
        (None,), ("  ",),         # null/empty-key rows ignored
    ]
    df = spark.createDataFrame(rows, "name string")
    out = value_cluster_report(df, "name").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["cluster_key"], []).append(r)
    assert set(by_key) == {"acme corp", "inc widget"}
    acme = {r["value"]: r for r in by_key["acme corp"]}
    assert set(acme) == {"ACME Corp.", "acme corp", " Acme-CORP "}
    # canonical = most frequent raw value
    assert all(r["canonical"] == "ACME Corp." for r in acme.values())
    assert acme["ACME Corp."]["n_rows"] == 2
    assert all(r["n_values"] == 3 for r in acme.values())
    # tie in widget cluster -> lexicographically smallest value wins
    widget = {r["value"]: r for r in by_key["inc widget"]}
    assert all(r["canonical"] == "Widget Inc" for r in widget.values())
    # tokens sort: "widget, inc." -> key "inc widget" (sorted)
    assert "Unique LLC" not in {r["value"] for r in out}
