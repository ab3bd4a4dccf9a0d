"""Text normalizers as expressions.

Reference: PyDI/normalization/text.py — TextNormalizer (:44-161),
HeaderNormalizer (:164-323), TokenizationNormalizer (stemming/stopwords,
:326-499), BracketContentHandler (:676-798).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EN_STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from", "has",
    "he", "in", "is", "it", "its", "of", "on", "that", "the", "to", "was",
    "were", "will", "with",
]


def normalize_text(
    col: Column | str,
    lowercase: bool = True,
    collapse_whitespace: bool = True,
    strip_html: bool = False,
    strip_punctuation: bool = False,
    ascii_fold: bool = False,
) -> Column:
    """Composable text cleanup (reference: text.py:44-161)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    if strip_html:
        c = F.regexp_replace(c, r"<[^>]+>", " ")
        # common html entities
        for ent, rep in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                         ("&nbsp;", " "), ("&quot;", '"'), ("&#39;", "'")]:
            c = F.replace(c, F.lit(ent), F.lit(rep))
    if ascii_fold:
        from pydi_spark.normalization.parsers import remove_accents

        c = remove_accents(c)
    if lowercase:
        c = F.lower(c)
    if strip_punctuation:
        c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def normalize_header(col: Column | str) -> Column:
    """snake_case headers: camelCase split, punctuation -> _, collapse
    (reference: text.py:164-323)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    c = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2")
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9]+", "_")
    c = F.regexp_replace(c, r"_+", "_")
    return F.regexp_replace(c, r"^_|_$", "")


def remove_stopwords(tokens: Column, stopwords: list[str] | None = None) -> Column:
    sw = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    return F.filter(tokens, lambda t: ~F.array_contains(sw, t))


def stem_light(tokens: Column) -> Column:
    """Light suffix-stripping stemmer (s/es/ed/ing) as expressions —
    the reference uses NLTK-style stemming; this is the dependency-free
    approximation with the same API shape."""

    def stem_one(t: Column) -> Column:
        return (
            F.when(t.rlike(r"(sses)$"), F.regexp_replace(t, r"sses$", "ss"))
            .when(t.rlike(r"(ies)$"), F.regexp_replace(t, r"ies$", "y"))
            .when(t.rlike(r"[a-z]{3,}ing$"), F.regexp_replace(t, r"ing$", ""))
            .when(t.rlike(r"[a-z]{3,}ed$"), F.regexp_replace(t, r"ed$", ""))
            .when(t.rlike(r"[a-z]{2,}s$") & ~t.rlike(r"ss$"), F.regexp_replace(t, r"s$", ""))
            .otherwise(t)
        )

    return F.transform(tokens, stem_one)


def handle_brackets(col: Column | str, mode: str = "remove") -> Column:
    """Bracket content: remove | keep | extract
    (reference: text.py:676-798)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    if mode == "remove":
        return F.trim(F.regexp_replace(c, r"\s*[(\[{][^)\]}]*[)\]}]", ""))
    if mode == "extract":
        return F.regexp_extract(c, r"[(\[{]([^)\]}]*)[)\]}]", 1)
    if mode == "keep":
        return c
    raise ValueError(f"unknown mode: {mode}")
