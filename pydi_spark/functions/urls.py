"""URL canonicalization as portable, codegen'd SQL expressions.

Web-corpus dedup lives and dies on URL identity: the same page arrives
as ``HTTP://WWW.Example.com:80/a/?utm_source=x#frag`` and
``http://example.com/a`` and an exact-dedup pass misses the pair. The
reference's normalizers parse links (PyDI normalization link parser)
but never canonicalize them — this is the llm-data-pipeline companion
(the C4/CommonCrawl URL-dedup prep step).

Like functions/phonetic.py, ONE builder emits the same expression text
for Spark SQL and DuckDB (only the regexp_replace global-flag spelling
differs), so the operator and its oracle cannot drift. All scalar
regex/string work — whole-stage codegen, no UDF, no shuffle; every
pattern is RE2-safe (no lookarounds, no backreferences).

Canonical form (conservative, dedup-oriented):
1. trim; strip the ``#fragment``;
2. scheme lowercased; URLs WITHOUT a ``scheme://`` pass through
   trimmed/fragment-stripped but otherwise untouched (no guessing);
3. host lowercased, leading ``www.`` dropped, default port stripped
   (``:80`` for http, ``:443`` for https);
4. tracking query params removed (``utm_*``, ``fbclid``, ``gclid``,
   ``msclkid``, ``igshid``, ``ref``) with separators repaired
   (``?&`` -> ``?``, ``&&`` -> ``&``, trailing ``?``/``&`` dropped);
5. trailing ``/`` runs stripped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRACKING = "(utm_[a-z0-9_]+|fbclid|gclid|msclkid|igshid|ref)"


def _rr(dialect: str, s: str, pat: str, rep: str) -> str:
    """regexp_replace-all in either dialect. Patterns here avoid raw
    backslashes (character classes like ``[.]``/``[?]`` instead) —
    Spark's SQL string literals consume ``\\`` while DuckDB's do not,
    so a backslash-free pattern is the only text that means the same
    thing verbatim in both."""
    if dialect == "duckdb":
        return f"regexp_replace({s}, '{pat}', '{rep}', 'g')"
    return f"regexp_replace({s}, '{pat}', '{rep}')"


def _backref(dialect: str, n: int) -> str:
    """Replacement-string group reference: Java ``$1`` vs RE2 ``\\1``."""
    return f"${n}" if dialect == "spark" else f"\\{n}"


def canonical_url_sql(col: str, dialect: str = "spark") -> str:
    """Canonical URL of ``col`` as an SQL expression string for
    ``dialect`` (``spark`` | ``duckdb``). NULL input yields NULL."""
    cast_t = "STRING" if dialect == "spark" else "VARCHAR"
    t = f"trim(CAST({col} AS {cast_t}))"
    # fragment off first: '#' can otherwise hide in the query tail
    t = _rr(dialect, t, "#.*$", "")
    scheme = f"lower(regexp_extract({t}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    rest = f"substring({t}, length({scheme}) + 4)"
    host_raw = f"regexp_extract({rest}, '^([^/?#]*)', 1)"
    tail = f"substring({rest}, length({host_raw}) + 1)"
    host = f"lower({host_raw})"
    host = _rr(dialect, host, "^www[.]", "")
    # default ports: the CASE keys on the (already lowercased) scheme
    host = (
        f"(CASE WHEN {scheme} = 'http' THEN {_rr(dialect, host, ':80$', '')} "
        f"WHEN {scheme} = 'https' THEN {_rr(dialect, host, ':443$', '')} "
        f"ELSE {host} END)"
    )
    # tracking params: replace '<sep>param=value' with the separator
    # (one global pass works — separators stay in place), then repair
    q = _rr(dialect, tail, f"([?&]){_TRACKING}=[^&]*", _backref(dialect, 1))
    q = _rr(dialect, q, "[?]&+", "?")
    q = _rr(dialect, q, "&&+", "&")
    q = _rr(dialect, q, "[?&]+$", "")
    rebuilt = f"concat({scheme}, '://', {host}, {q})"
    rebuilt = _rr(dialect, rebuilt, "/+$", "")
    no_scheme = _rr(dialect, t, "/+$", "")
    return (
        f"(CASE WHEN {scheme} <> '' THEN {rebuilt} "
        f"WHEN {t} IS NOT NULL THEN {no_scheme} END)"
    )


def canonical_url(col: str) -> Column:
    """Column form for Spark pipelines. Takes a column NAME (this is an
    expression builder — it splices the name into generated SQL), never
    a Column object."""
    if not isinstance(col, str):
        raise TypeError(
            "canonical_url takes a column NAME (expression builder), "
            f"not {type(col).__name__}"
        )
    return F.expr(canonical_url_sql(col, "spark"))
