"""Unit system: a broadcast dimension table + conversion expressions.

Reference: PyDI/normalization/units.py — 18 UnitCategories (:22-42),
quantity modifiers hundred..quadrillion (:45-56), a 500+ unit registry
with base-conversion factors (:105-345), QuantityParser (:347-425),
UnitNormalizer with per-category targets (:527-650), header unit
extraction "Speed (km/h)" (:653-726).

Spark shape (SURVEY §2.9): ``regexp_extract`` the (number, modifier,
unit) parts, broadcast-join a units dimension table
[alias, category, factor, base_unit], multiply. Temperature is affine —
special-cased expression. The dimension table is data, not code: easy to
extend and the join broadcasts for free.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df

# session -> units dim DataFrame (see units_dim)
_DIM_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# Unit catalog, mirroring the reference's comprehensive registry
# (units.py:105-345: 18 categories; symbol + full name + plural all
# resolve). Each entry: (symbol, full_name_or_None, factor_to_base,
# optional extra aliases). LEGACY symbols stay listed first within
# their category and alias resolution is FIRST-WINS, so every alias
# that was green under earlier oracles keeps its exact
# (category, factor, base) — new rows only ever ADD aliases.
_CATALOG: list[tuple[str, str, list[tuple]]] = [
    ("length", "m", [
        ("mm", "millimeter", 0.001), ("cm", "centimeter", 0.01),
        ("m", "meter", 1.0), ("km", "kilometer", 1000.0),
        ("in", "inch", 0.0254), ("ft", "foot", 0.3048, ("feet",)),
        ("yd", "yard", 0.9144), ("mi", "mile", 1609.344),
        ("dm", "decimeter", 0.1),
        ("μm", "micrometer", 1e-6, ("um", "µm")),
        ("nm", "nanometer", 1e-9), ("mil", None, 2.54e-5),
        ("nmi", "nautical mile", 1852.0),
        ("fathom", None, 1.8288, ("fathoms",)),
        ("au", "astronomical unit", 149597870700.0),
        ("ly", "light year", 9.461e15), ("pc", "parsec", 3.086e16),
    ]),
    ("mass", "kg", [
        ("mg", "milligram", 1e-6), ("g", "gram", 0.001),
        ("kg", "kilogram", 1.0),
        ("t", "ton", 1000.0, ("tonne", "tonnes", "mt")),
        ("lb", "pound", 0.45359237, ("lbs",)),
        ("oz", "ounce", 0.028349523125),
        ("st", "stone", 6.35029), ("cwt", "hundredweight", 50.8023),
        ("ozt", "troy ounce", 0.0311035),
        ("grain", None, 6.47989e-5, ("grains",)),
        ("carat", None, 0.0002, ("carats", "ct")),
    ]),
    ("volume", "l", [
        ("ml", "milliliter", 0.001), ("cl", "centiliter", 0.01),
        ("l", "liter", 1.0), ("gal", "gallon", 3.785411784, ("us gal",)),
        ("dl", "deciliter", 0.1), ("hl", "hectoliter", 100.0),
        ("qt", "quart", 0.946353), ("pt", "pint", 0.473176),
        ("cup", None, 0.236588, ("cups",)),
        ("fl oz", "fluid ounce", 0.0284131),
        ("tbsp", "tablespoon", 0.0147868), ("tsp", "teaspoon", 0.00492892),
        ("m³", "cubic meter", 1000.0, ("m3",)),
        ("cm³", "cubic centimeter", 0.001, ("cm3", "cc")),
    ]),
    ("time", "s", [
        ("ms", "millisecond", 0.001), ("s", "second", 1.0, ("sec", "secs")),
        ("min", "minute", 60.0, ("mins",)),
        ("h", "hour", 3600.0, ("hr", "hrs")),
        ("d", "day", 86400.0),
        ("week", None, 604800.0, ("weeks", "wk")),
        ("year", None, 31556952.0, ("years", "yr")),
    ]),
    ("speed", "m/s", [
        ("m/s", None, 1.0), ("km/h", None, 1 / 3.6, ("kmh", "kph")),
        ("mph", None, 0.44704), ("kn", "knot", 0.514444),
        ("ft/s", None, 0.3048, ("fps",)),
    ]),
    ("data", "b", [
        ("b", "byte", 1.0), ("kb", "kilobyte", 1e3),
        ("mb", "megabyte", 1e6), ("gb", "gigabyte", 1e9),
        ("tb", "terabyte", 1e12), ("pb", "petabyte", 1e15),
        ("kib", "kibibyte", 1024.0), ("mib", "mebibyte", 1048576.0),
        ("gib", "gibibyte", 1073741824.0),
        ("tib", "tebibyte", 1099511627776.0),
        ("bit", None, 0.125, ("bits",)),
    ]),
    ("frequency", "hz", [
        ("hz", "hertz", 1.0), ("khz", "kilohertz", 1e3),
        ("mhz", "megahertz", 1e6), ("ghz", "gigahertz", 1e9),
    ]),
    ("power", "w", [
        ("w", "watt", 1.0), ("kw", "kilowatt", 1e3),
        ("mw", "megawatt", 1e6), ("hp", "horsepower", 745.699872),
        ("gw", "gigawatt", 1e9),
    ]),
    ("area", "m2", [
        ("m2", "square meter", 1.0, ("m²", "sqm", "sq m")),
        ("km2", "square kilometer", 1e6, ("km²",)),
        ("ha", "hectare", 1e4), ("acre", None, 4046.8564224, ("acres",)),
        ("sqft", "square foot", 0.09290304, ("sq ft", "ft2", "ft²")),
        ("sq mi", "square mile", 2589988.110336, ("mi2",)),
        ("mm²", "square millimeter", 1e-6, ("mm2",)),
        ("cm²", "square centimeter", 1e-4, ("cm2",)),
    ]),
    # affine; factor unused — handled by _temperature_to_c/_from_c
    ("temperature", "°c", [
        ("°c", "celsius", 1.0, ("c",)),
        ("°f", "fahrenheit", 1.0, ("f",)),
        ("k", "kelvin", 1.0),
    ]),
    ("energy", "j", [
        ("j", "joule", 1.0), ("kj", "kilojoule", 1e3),
        ("mj", "megajoule", 1e6), ("gj", "gigajoule", 1e9),
        ("cal", "calorie", 4.184), ("kcal", "kilocalorie", 4184.0),
        ("btu", None, 1055.06, ("btus",)),
        ("wh", "watt hour", 3600.0), ("kwh", "kilowatt hour", 3600000.0),
        ("mwh", "megawatt hour", 3600000000.0),
        ("ev", "electronvolt", 1.602176634e-19),
        ("erg", None, 1e-7, ("ergs",)),
    ]),
    ("pressure", "pa", [
        ("pa", "pascal", 1.0), ("kpa", "kilopascal", 1e3),
        ("mpa", "megapascal", 1e6), ("hpa", "hectopascal", 100.0),
        ("bar", None, 100000.0, ("bars",)), ("mbar", "millibar", 100.0),
        ("atm", "atmosphere", 101325.0), ("psi", None, 6895.0),
        ("torr", None, 133.322), ("mmhg", None, 133.322),
    ]),
    ("force", "n", [
        ("n", "newton", 1.0), ("kilonewton", None, 1e3),
        ("lbf", None, 4.448222), ("dyn", "dyne", 1e-5),
        ("kgf", None, 9.80665),
    ]),
    ("angle", "rad", [
        ("rad", "radian", 1.0), ("deg", "degree", 0.0174533, ("°",)),
        ("grad", "gradian", 0.015708),
        ("arcmin", None, 0.000290888), ("arcsec", None, 4.84814e-6),
        ("rev", "revolution", 6.283185307179586, ("turn", "turns")),
    ]),
    ("density", "kg/m3", [
        ("kg/m3", None, 1.0, ("kg/m³",)),
        ("g/cm3", None, 1000.0, ("g/cm³", "g/cc")),
        ("g/ml", None, 1000.0), ("g/l", None, 1.0),
        ("kg/l", None, 1000.0), ("mg/ml", None, 1.0),
        ("lb/ft3", None, 16.018463, ("lb/ft³",)),
    ]),
    # currencies carry NO FX conversion (reference semantics,
    # units.py:175-183: every currency factor is 1.0 — the category
    # tags the value; cross-currency conversion needs a rate table)
    ("currency", "$", [
        ("$", "dollar", 1.0, ("usd",)), ("€", "euro", 1.0, ("eur",)),
        ("£", None, 1.0, ("gbp",)), ("¥", "yen", 1.0, ("jpy",)),
        ("₹", "rupee", 1.0, ("inr",)), ("₽", "ruble", 1.0, ("rub",)),
        ("₩", "won", 1.0, ("krw",)),
        ("cad", None, 1.0), ("aud", None, 1.0),
        ("chf", None, 1.0), ("cny", None, 1.0),
    ]),
    ("percentage", "%", [
        ("%", "percent", 1.0, ("pct",)), ("‰", "permille", 0.1),
        ("bps", None, 0.01, ("bp",)),
    ]),
    ("count", "count", [
        ("count", None, 1.0), ("dozen", None, 12.0, ("dozens", "dz")),
        ("pair", None, 2.0, ("pairs",)), ("gross", None, 144.0),
        ("score", None, 20.0),
    ]),
]


def _build_units_table() -> list[tuple[str, str, float, str]]:
    """Expand the catalog to (alias, category, factor, base_unit) rows.

    Symbol, full name, naive plural (the reference's _add_units rule,
    units.py:316-325), and explicit extras all become aliases;
    first-wins dedup keeps cross-category homonyms (e.g. 'pound'
    mass-vs-currency) deterministic AND preserves every legacy alias.
    Alias uniqueness matters downstream: normalize_units broadcast-joins
    on alias, and a duplicate would fan rows out.
    """
    table: list[tuple[str, str, float, str]] = []
    seen: set[str] = set()

    def add(alias: str, cat: str, factor: float, base: str) -> None:
        a = alias.lower()
        if a and a not in seen:
            seen.add(a)
            table.append((a, cat, float(factor), base))

    for cat, base, units in _CATALOG:
        for symbol, name, factor, *rest in units:
            add(symbol, cat, factor, base)
            if name:
                add(name, cat, factor, base)
                # >= 3: 'day'/'ton' must pluralize like 'week'/'gram'
                # (the reference's > 3 guard silently skips them)
                if not name.endswith("s") and len(name) >= 3:
                    tail = "es" if name[-1] in "xz" or name.endswith(("ch", "sh")) else "s"
                    add(name + tail, cat, factor, base)
            for extra in (rest[0] if rest else ()):
                add(extra, cat, factor, base)
    return table


# (alias, category, factor_to_base, base_unit); affine units handled below
UNITS_TABLE: list[tuple[str, str, float, str]] = _build_units_table()

QUANTITY_MODIFIERS: dict[str, float] = {
    "hundred": 1e2, "hundreds": 1e2,
    "thousand": 1e3, "thousands": 1e3, "k": 1e3,
    "million": 1e6, "millions": 1e6, "m": 1e6, "mio": 1e6,
    "billion": 1e9, "billions": 1e9, "bn": 1e9, "b": 1e9,
    "trillion": 1e12, "trillions": 1e12,
    "quadrillion": 1e15, "quadrillions": 1e15,
}

_NUM = r"([+-]?[0-9]+(?:[.,][0-9]+)?)"
# plurals BEFORE singulars: alternation is first-match, and matching
# 'thousand' inside 'thousands' would push the stray 's' into the unit
# group. 'mil'/'bil'/'tril' shorthands are deliberately absent — they
# collide with unit aliases ('mil' is a length unit). The trailing \b
# (RE2-safe) stops 'k' from biting into a unit token: without it
# "5 km/h" parsed as modifier k + unit "m/h" -> 5000 dimensionless
# (masked for 'km'/'kWh' only because k*meter == kilometer arithmetic
# coincides — round-6 regression test pins the fix).
_MOD = (
    r"(?:\s*(hundreds|hundred|thousands|thousand|millions|million"
    r"|billions|billion|trillions|trillion|quadrillions|quadrillion"
    r"|k|mio|bn)\b)?"
)
# unit token: one leading symbol char (letters, °, %, ‰, currency
# glyphs, micro signs), a symbol body, and optionally ONE more
# space-separated word ("fl oz", "sq mi", "nautical mile"). RE2-safe:
# character classes + a bounded optional group, no backtracking traps.
_UNIT = r"\s*([a-zA-Z°/%‰$€£¥₹₽₩µμ][a-zA-Z°/0-9²³µμ]*(?:\s[a-zA-Z]+)?)?\s*$"
QUANTITY_RE = r"^\s*" + _NUM + _MOD + _UNIT


def units_dim(spark) -> DataFrame:
    # One dim DataFrame per session (weak-keyed; a stopped session's
    # entry dies with it): repeated normalize/convert calls in one
    # pipeline then share a canonically-equal plan subtree, so
    # ReuseExchange builds the broadcast ONCE instead of once per call
    # (5 identical broadcasts in the units_normalize 5-column chain).
    # The table is a static code constant — this caches no query data.
    df = _DIM_CACHE.get(spark)
    if df is None:
        df = rows_to_df(
            spark,
            UNITS_TABLE,
            "alias string, category string, factor double, base_unit string",
        )
        _DIM_CACHE[spark] = df
    return df


def parse_quantity_expr(col: Column | str) -> Column:
    """struct(value double, modifier string, unit string) via one regex."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    num = F.regexp_extract(c, QUANTITY_RE, 1)
    mod = F.lower(F.regexp_extract(c, QUANTITY_RE, 2))
    unit = F.lower(F.regexp_extract(c, QUANTITY_RE, 3))
    value = (F.regexp_replace(num, ",", ".")).try_cast("double")
    # r12: map-literal lookup instead of a 17-branch CASE chain. The
    # chain inlined the `mod` regexp_extract tree once PER BRANCH
    # (~19 copies of the regex in the physical plan per parsed column);
    # one try_element_at keeps a single copy and a tiny expression tree
    # (guide §1.2 per-task work). Missing/empty modifier -> NULL ->
    # coalesce 1.0, exactly the old chain's fall-through; factor
    # literals are the same doubles, so values are bit-identical.
    mod_map = F.create_map(
        *[F.lit(x) for kv in QUANTITY_MODIFIERS.items() for x in kv]
    )
    mod_factor = F.coalesce(F.try_element_at(mod_map, mod), F.lit(1.0))
    return F.struct(
        (value * mod_factor).alias("value"),
        F.nullif(mod, F.lit("")).alias("modifier"),
        F.nullif(unit, F.lit("")).alias("unit"),
    )


def _temperature_to_c(value: Column, unit: Column) -> Column:
    return (
        F.when(unit.isin("°f", "f", "fahrenheit", "fahrenheits"), (value - 32.0) * 5.0 / 9.0)
        .when(unit.isin("k", "kelvin", "kelvins"), value - 273.15)
        .otherwise(value)
    )


def normalize_units(
    df: DataFrame,
    column: str,
    out_prefix: str | None = None,
    target_units: dict[str, str] | None = None,
) -> DataFrame:
    """Adds {col}_value, {col}_unit, {col}_category.

    Values land in BASE units by default; ``target_units`` maps a
    category to a different target alias (the reference UnitNormalizer
    contract, units.py:527-650 — e.g. ``{"length": "km"}`` renders
    every length in km; categories without a target stay in base).

    Plan: regexp parse -> broadcast join units dim on alias -> multiply
    (affine for temperature). Unknown units keep the raw value with null
    category.
    """
    spark = df.sparkSession
    p = out_prefix or column
    parsed = df.withColumn("__q", parse_quantity_expr(column))
    dim = F.broadcast(units_dim(spark))
    joined = parsed.join(
        dim, F.col("__q.unit") == F.col("alias"), "left"
    )
    val = F.col("__q.value")
    unit = F.col("__q.unit")
    base_value = F.when(
        F.col("category") == "temperature", _temperature_to_c(val, unit)
    ).otherwise(val * F.coalesce(F.col("factor"), F.lit(1.0)))
    out_value = base_value
    out_unit = F.coalesce(F.col("base_unit"), unit)
    if target_units:
        lut = {a: (c, f) for a, c, f, _b in UNITS_TABLE}
        for cat, alias in target_units.items():
            a = alias.lower()
            if a not in lut or lut[a][0] != cat:
                raise ValueError(f"target {alias!r} is not a {cat!r} unit")
            if cat == "temperature":
                conv = _temperature_from_c(base_value, F.lit(a))
            else:
                conv = base_value / F.lit(lut[a][1])
            hit = F.col("category") == cat
            out_value = F.when(hit, conv).otherwise(out_value)
            out_unit = F.when(hit, F.lit(a)).otherwise(out_unit)
    return (
        joined.withColumn(f"{p}_value", out_value)
        .withColumn(f"{p}_unit", out_unit)
        .withColumn(f"{p}_category", F.col("category"))
        .drop("__q", "alias", "category", "factor", "base_unit")
    )


def normalize_header_units(
    df: DataFrame, target_units: dict[str, str] | None = None
) -> DataFrame:
    """Columns whose header declares a unit — "Speed (km/h)",
    "weight [kg]" — hold bare numbers in that unit (reference:
    extract_units_from_headers, units.py:653-726). For each such
    column this adds {col}_value / {col}_unit / {col}_category by
    treating the values as quantities in the header's unit (base units,
    or per-category ``target_units`` like :func:`normalize_units`).
    The header's unit is known driver-side, so the conversion is a
    direct arithmetic expression on the numeric column — no string
    round-trip (casting doubles to strings renders >=1e7 / <1e-3 in
    scientific notation, which no quantity grammar should have to
    parse) and no join."""
    lut = {a: (c, f, b) for a, c, f, b in UNITS_TABLE}
    out = df
    for c in df.columns:
        u = parse_unit_from_header(c)
        if u is None:
            continue
        cat, factor, base = lut[u]
        v = F.col(c).cast("double")
        if cat == "temperature":
            value = _temperature_to_c(v, F.lit(u))
        else:
            value = v * F.lit(factor)
        unit = base
        target = (target_units or {}).get(cat)
        if target:
            a = target.lower()
            if a not in lut or lut[a][0] != cat:
                raise ValueError(f"target {target!r} is not a {cat!r} unit")
            if cat == "temperature":
                value = _temperature_from_c(value, F.lit(a))
            else:
                value = value / F.lit(lut[a][1])
            unit = a
        out = (
            out.withColumn(f"{c}_value", value)
            .withColumn(f"{c}_unit", F.lit(unit))
            .withColumn(f"{c}_category", F.lit(cat))
        )
    return out


def _alias_maps() -> tuple[Column, Column, Column]:
    """(factor, category, base) literal-map columns over UNITS_TABLE.

    map literals + try_element_at keep the lookup a single O(1)
    expression node — a per-alias when-chain over the ~450-alias table
    would nest hundreds of branches deep and stall Catalyst analysis.
    Keys are unique by construction (_build_units_table dedups), so the
    map never hits the duplicate-key runtime error.
    """
    fac_args: list[Column] = []
    cat_args: list[Column] = []
    base_args: list[Column] = []
    for alias, cat, f, b in UNITS_TABLE:
        fac_args += [F.lit(alias), F.lit(f)]
        cat_args += [F.lit(alias), F.lit(cat)]
        base_args += [F.lit(alias), F.lit(b)]
    return F.create_map(*fac_args), F.create_map(*cat_args), F.create_map(*base_args)


def normalize_units_expr(col: Column | str) -> Column:
    """Pure-expression variant (no join): struct(value, unit, category)
    with the units table folded into literal maps — handy inside other
    expressions; the join variant is preferred for wide use."""
    q = parse_quantity_expr(col)
    val, unit = q["value"], q["unit"]
    fac_map, cat_map, base_map = _alias_maps()
    factor = F.try_element_at(fac_map, unit)
    category = F.try_element_at(cat_map, unit)
    base = F.try_element_at(base_map, unit)
    value = F.when(category == "temperature", _temperature_to_c(val, unit)).otherwise(
        val * F.coalesce(factor, F.lit(1.0))
    )
    return F.struct(value.alias("value"), F.coalesce(base, unit).alias("unit"),
                    category.alias("category"))


def _temperature_from_c(value: Column, unit: Column) -> Column:
    return (
        F.when(unit.isin("°f", "f", "fahrenheit", "fahrenheits"), value * 9.0 / 5.0 + 32.0)
        .when(unit.isin("k", "kelvin", "kelvins"), value + 273.15)
        .otherwise(value)
    )


def convert_units(
    df: DataFrame,
    value_col: str,
    from_unit_col: str,
    to_unit_col: str,
    out_col: str = "converted",
) -> DataFrame:
    """Direct unit-to-unit conversion (reference ``UnitConverter``,
    PyDI/normalization/units.py:483-524, and ``convert_units``
    :729-765): converts ``value_col`` from the unit named in
    ``from_unit_col`` to the unit in ``to_unit_col``, composing the
    dimension table both directions — value * factor_from / factor_to
    for linear categories, the affine °C pivot for temperature.

    Adds ``out_col`` (double; null for unknown units or a category
    mismatch) and ``{out_col}_ok`` (int 1/0). Plan: two broadcast
    joins against the ~450-row units dim — the fact side never
    shuffles, so this composes with 100 TB scans.
    """
    spark = df.sparkSession
    dim = units_dim(spark)
    f_dim = F.broadcast(
        dim.select(
            F.col("alias").alias("__f_alias"),
            F.col("category").alias("__f_cat"),
            F.col("factor").alias("__f_factor"),
        )
    )
    t_dim = F.broadcast(
        dim.select(
            F.col("alias").alias("__t_alias"),
            F.col("category").alias("__t_cat"),
            F.col("factor").alias("__t_factor"),
        )
    )
    joined = df.join(
        f_dim, F.lower(F.col(from_unit_col)) == F.col("__f_alias"), "left"
    ).join(t_dim, F.lower(F.col(to_unit_col)) == F.col("__t_alias"), "left")
    v = F.col(value_col).cast("double")
    ok = (
        F.col("__f_cat").isNotNull()
        & F.col("__t_cat").isNotNull()
        & (F.col("__f_cat") == F.col("__t_cat"))
    )
    as_c = _temperature_to_c(v, F.lower(F.col(from_unit_col)))
    temp_out = _temperature_from_c(as_c, F.lower(F.col(to_unit_col)))
    linear_out = v * F.col("__f_factor") / F.col("__t_factor")
    out = F.when(~ok, F.lit(None).cast("double")).otherwise(
        F.when(F.col("__f_cat") == "temperature", temp_out).otherwise(linear_out)
    )
    return (
        joined.withColumn(out_col, out)
        .withColumn(f"{out_col}_ok", ok.cast("int"))
        .drop("__f_alias", "__f_cat", "__f_factor",
              "__t_alias", "__t_cat", "__t_factor")
    )


def convert_units_expr(
    value: Column, from_unit: Column | str, to_unit: Column | str
) -> Column:
    """Pure-expression unit-to-unit conversion (no join): the dim table
    folded into literal maps, affine for temperature. Null for unknown
    units or a category mismatch. Mirrors :func:`convert_units` —
    handy inside other expressions."""
    f_u = F.lower(F.lit(from_unit) if isinstance(from_unit, str) else from_unit)
    t_u = F.lower(F.lit(to_unit) if isinstance(to_unit, str) else to_unit)
    v = value.cast("double")
    fac_map, cat_map, _ = _alias_maps()

    def lookup(unit: Column):
        return F.try_element_at(cat_map, unit), F.try_element_at(fac_map, unit)

    f_cat, f_fac = lookup(f_u)
    t_cat, t_fac = lookup(t_u)
    ok = f_cat.isNotNull() & t_cat.isNotNull() & (f_cat == t_cat)
    temp_out = _temperature_from_c(_temperature_to_c(v, f_u), t_u)
    linear_out = v * f_fac / t_fac
    return F.when(~ok, F.lit(None).cast("double")).otherwise(
        F.when(f_cat == "temperature", temp_out).otherwise(linear_out)
    )


def parse_unit_from_header(header: str) -> str | None:
    """'Speed (km/h)' -> 'km/h' (reference: units.py:653-726)."""
    import re

    m = re.search(r"[([]\s*([^)\]]+?)\s*[)\]]\s*$", header)
    if not m:
        return None
    cand = m.group(1).strip().lower()
    known = {alias for alias, *_ in UNITS_TABLE}
    return cand if cand in known else None
