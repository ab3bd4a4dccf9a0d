"""Typed value parsers as Column expressions.

Reference: PyDI/normalization/types.py — CoordinateParser decimal/DMS
(:30-213), BooleanParser multi-language (:215-294), LinkNormalizer
(:296-381), NumericParser locale-aware (:383-743), TypeConverter
facade (:838-897); plus
utils/normalization.py scalar helpers (phone :106, currency :145,
percentage :182, country :246, accents :353).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRUE = ["true", "yes", "y", "t", "1", "ja", "si", "sí", "oui", "wahr", "vrai"]
_FALSE = ["false", "no", "n", "f", "0", "nein", "non", "falsch", "faux"]


def parse_boolean(col: Column | str) -> Column:
    """Multi-language boolean (reference: types.py:215-294)."""
    c = F.lower(F.trim((F.col(col) if isinstance(col, str) else col).cast("string")))
    return (
        F.when(c.isin(*_TRUE), F.lit(True))
        .when(c.isin(*_FALSE), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


# (group_separator, decimal_separator) per language tag — the Babel
# conventions the reference's NumericParser resolves through
# ``babel.numbers`` (types.py:383-743), pinned as data so the parse
# stays a pure Column expression with no runtime locale dependency.
# Space-grouped locales (fr, sv, …) list " " but ANY unicode
# space is stripped for them (Babel renders NBSP/narrow-NBSP, users
# type plain spaces).
_LOCALE_SEPARATORS: dict[str, tuple[str, str]] = {
    "en": (",", "."), "en_us": (",", "."), "en_gb": (",", "."),
    "en_in": (",", "."),  # Indian 1,23,456.78 — same strip rule
    "de": (".", ","), "de_de": (".", ","), "de_at": (".", ","),
    "de_ch": ("'", "."), "fr_ch": ("'", "."), "it_ch": ("'", "."),
    "fr": (" ", ","), "fr_fr": (" ", ","),
    "sv": (" ", ","), "fi": (" ", ","), "nb": (" ", ","),
    "ru": (" ", ","), "pl": (" ", ","), "cs": (" ", ","),
    "it": (".", ","), "es": (".", ","), "pt": (".", ","),
    "pt_br": (".", ","), "nl": (".", ","), "da": (".", ","),
    "tr": (".", ","), "id": (".", ","), "el": (".", ","),
}


def locale_separators(locale: str) -> tuple[str, str]:
    """(group_sep, decimal_sep) for a language tag; falls back from
    'de-CH' -> 'de_ch' -> 'de' like Babel's locale negotiation."""
    key = locale.strip().lower().replace("-", "_")
    if key in _LOCALE_SEPARATORS:
        return _LOCALE_SEPARATORS[key]
    lang = key.split("_")[0]
    if lang in _LOCALE_SEPARATORS:
        return _LOCALE_SEPARATORS[lang]
    raise ValueError(f"unknown locale: {locale!r}")


def parse_numeric(
    col: Column | str, decimal_sep: str = ".", locale: str | None = None
) -> Column:
    """Locale-tolerant numeric: strips currency/space, normalizes
    thousands/decimal separators (reference: types.py:383-743, which
    resolves the separators through Babel; the conventions are pinned
    in ``_LOCALE_SEPARATORS`` here). ``locale`` (e.g. 'de', 'fr',
    'de_CH', 'pt-BR') overrides ``decimal_sep``; without it the
    round-1 behavior is unchanged."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    # every locale: currency symbols and unicode spaces never carry
    # numeric meaning in the grouped position (fr/sv group on NBSP)
    c = F.regexp_replace(c, "[$\u20ac\u00a3\\s\u00a0\u202f\u2009]", "")
    if locale is not None:
        group, dec = locale_separators(locale)
        if group not in (" ", ""):
            c = F.regexp_replace(c, "[" + re.escape(group) + "’']", "") \
                if group == "'" else F.regexp_replace(c, re.escape(group), "")
        if dec != ".":
            c = F.regexp_replace(c, re.escape(dec), ".")
    elif decimal_sep == ",":
        c = F.regexp_replace(c, r"\.", "")
        c = F.regexp_replace(c, ",", ".")
    else:
        c = F.regexp_replace(c, ",", "")
    return (c).try_cast("double")


def parse_percentage(col: Column | str, as_fraction: bool = True) -> Column:
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    num = (F.regexp_replace(c, r"\s*%$", "")).try_cast("double")
    return (num / 100.0) if as_fraction else num


def parse_currency(col: Column | str) -> Column:
    """struct(amount double, currency string)."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    sym = F.regexp_extract(c, r"([$€£])", 1)
    code = F.regexp_extract(F.upper(c), r"\b(USD|EUR|GBP|CHF|JPY)\b", 1)
    currency = F.when(sym == "$", "USD").when(sym == "€", "EUR").when(sym == "£", "GBP")
    currency = F.coalesce(F.nullif(code, F.lit("")), currency)
    amount = (F.regexp_replace(c, r"[^0-9.\-]", "")).try_cast("double")
    return F.struct(amount.alias("amount"), currency.alias("currency"))


_DMS = r"(\d{1,3})[°\s]\s*(\d{1,2})['′\s]\s*(\d{1,2}(?:\.\d+)?)[\"″]?\s*([NSEW])"


def _dms_to_decimal(part: Column, idx_base: int, c: Column) -> Column:
    deg = (F.regexp_extract(c, _DMS, idx_base)).try_cast("double")
    mins = (F.regexp_extract(c, _DMS, idx_base + 1)).try_cast("double")
    secs = (F.regexp_extract(c, _DMS, idx_base + 2)).try_cast("double")
    hemi = F.regexp_extract(c, _DMS, idx_base + 3)
    val = deg + mins / 60.0 + secs / 3600.0
    return F.when(hemi.isin("S", "W"), -val).otherwise(val)


def parse_coordinate(col: Column | str) -> Column:
    """struct(lat double, lon double): decimal 'lat, lon' or single DMS
    (reference: types.py:30-213). DMS pairs fall back to first token."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    dec = r"^\s*([+-]?\d{1,3}(?:\.\d+)?)\s*[,;]\s*([+-]?\d{1,3}(?:\.\d+)?)\s*$"
    lat_dec = (F.regexp_extract(c, dec, 1)).try_cast("double")
    lon_dec = (F.regexp_extract(c, dec, 2)).try_cast("double")
    lat = F.when(c.rlike(dec), lat_dec).otherwise(_dms_to_decimal(c, 1, c))
    lon = F.when(c.rlike(dec), lon_dec)
    valid = (F.abs(lat) <= 90) & (F.abs(F.coalesce(lon, F.lit(0))) <= 180)
    return F.when(valid, F.struct(lat.alias("lat"), lon.alias("lon")))


def normalize_url(col: Column | str) -> Column:
    """Lowercase scheme/host, add https:// when missing, strip trailing /
    (reference: types.py:296-381)."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    with_scheme = F.when(c.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), c).otherwise(
        F.concat(F.lit("https://"), c)
    )
    no_trail = F.regexp_replace(with_scheme, r"/$", "")
    scheme = F.lower(F.regexp_extract(no_trail, r"^([a-zA-Z0-9+.-]+)://", 1))
    rest = F.regexp_replace(no_trail, r"^[a-zA-Z0-9+.-]+://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/]+)", 1))
    path = F.regexp_replace(rest, r"^[^/]+", "")
    return F.concat(scheme, F.lit("://"), host, path)


def extract_domain(col: Column | str) -> Column:
    # lowercase BEFORE matching so the www./scheme prefixes strip
    # case-insensitively
    c = F.lower(F.trim((F.col(col) if isinstance(col, str) else col).cast("string")))
    return F.regexp_extract(c, r"^(?:[a-z0-9+.-]+://)?(?:www\.)?([^/:\s]+)", 1)


def normalize_phone(col: Column | str, default_country: str = "") -> Column:
    """Digits + leading + (reference: utils/normalization.py:106)."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    digits = F.regexp_replace(c, r"[^0-9+]", "")
    digits = F.regexp_replace(digits, r"(?<=.)\+", "")  # inner plus signs
    digits = F.regexp_replace(digits, r"^00", "+")
    if default_country:
        digits = F.when(
            digits.rlike(r"^\+"), digits
        ).otherwise(F.concat(F.lit(default_country), F.regexp_replace(digits, "^0", "")))
    return F.nullif(digits, F.lit(""))


def remove_accents(col: Column | str) -> Column:
    """ASCII-fold common accents via translate (reference:
    utils/normalization.py:353)."""
    src = "àáâãäåèéêëìíîïòóôõöùúûüçñýÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ"
    dst = "aaaaaaeeeeiiiiooooouuuucnyAAAAAAEEEEIIIIOOOOOUUUUCNY"
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, src, dst)


# UTF-8 bytes mis-decoded as Latin-1/cp1252 (mojibake) — the common pairs
_MOJIBAKE = [
    ("Ã©", "é"), ("Ã¨", "è"), ("Ã¤", "ä"), ("Ã¶", "ö"), ("Ã¼", "ü"),
    ("Ã", "ß"), ("Ã¡", "á"), ("Ã­", "í"), ("Ã³", "ó"), ("Ãº", "ú"),
    ("Ã±", "ñ"), ("Ã§", "ç"), ("Ã€", "À"), ("Ã‰", "É"), ("â€™", "'"),
    ("â€œ", '"'), ("â€", '"'), ("â€“", "–"), ("â€”", "—"),
    ("â€¦", "…"), ("Â ", " "), ("Â·", "·"),
]


def detect_encoding_issues(col: Column | str) -> Column:
    """True when a value shows mojibake markers (reference:
    utils/normalization.py:411-450)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return c.rlike("Ã[©¨¤¶¼¡­³º±§€‰]|â€|Â[ ·]")


def fix_encoding(col: Column | str) -> Column:
    """Undo the common UTF-8-as-Latin-1 double-decoding pairs
    (reference: utils/normalization.py:451-485)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    for bad, good in _MOJIBAKE:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


# common alias -> canonical country name (reference:
# utils/normalization.py:246 standardize_country_name)
COUNTRY_ALIASES: dict[str, str] = {
    "usa": "United States", "us": "United States", "u.s.": "United States",
    "u.s.a.": "United States", "united states of america": "United States",
    "america": "United States",
    "uk": "United Kingdom", "u.k.": "United Kingdom",
    "great britain": "United Kingdom", "england": "United Kingdom",
    "deutschland": "Germany", "brd": "Germany",
    "holland": "Netherlands", "the netherlands": "Netherlands",
    "prc": "China", "people's republic of china": "China",
    "republic of korea": "South Korea", "rok": "South Korea",
    "uae": "United Arab Emirates", "russian federation": "Russia",
    "czechia": "Czech Republic", "ivory coast": "Côte d'Ivoire",
}


def standardize_country_name(col: Column | str) -> Column:
    """Map common aliases to canonical names; unknown values pass through
    trimmed (reference: utils/normalization.py:246)."""
    c = F.trim((F.col(col) if isinstance(col, str) else col).cast("string"))
    key = F.lower(c)
    out = c
    for alias, canonical in COUNTRY_ALIASES.items():
        out = F.when(key == alias, F.lit(canonical)).otherwise(out)
    return out
