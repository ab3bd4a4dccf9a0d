"""Conflict resolvers as native Spark aggregate expressions.

Reference: PyDI/fusion/conflict_resolution/{general,numeric,date,string,
list}.py — 17 resolvers, each a Python callable
``resolver(values, sources=..., trust_map=...) -> (value, confidence,
metadata)`` invoked per group per attribute (fusion/base.py:213-358).

Here each resolver compiles to aggregate Columns over the grouped long
table, so fusion is ONE ``groupBy(group_id)`` with map-side partial
aggregation — no per-group Python. Inputs available to every resolver:

- ``v``      the attribute value column
- ``rid``    record id (deterministic tie-breaks)
- ``ds``     source dataset name
- ``trust``  per-source trust score (broadcast-joined)

Selection-type resolvers that need a custom ordering (voting margins,
longest-string with tie-breaks) use ``collect_list(struct(...))`` +
``array_sort`` with a comparator lambda — still JVM-side; group sizes
are entity-cluster sized (tiny), so the collected array is bounded.

Confidence semantics follow the reference's shapes (win margin for
voting, 0.5 for first_non_null, 1/|ties| for trust, variance-based for
average; general.py:15-315, numeric.py:13-61, engine.py:581-596).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass
class ResolverAggs:
    """Compiled aggregate expressions for one attribute."""

    value: Column
    confidence: Column
    rule: str


AggBuilder = Callable[..., ResolverAggs]
RESOLVERS: dict[str, AggBuilder] = {}


def resolver(name: str):
    def deco(fn: AggBuilder) -> AggBuilder:
        RESOLVERS[name] = fn
        return fn

    return deco


# ---------------------------------------------------------------- helpers

# Validity (reference _is_valid_value, fusion/base.py:20-55: null, NaN and
# empty lists are invalid) is enforced centrally in engine.py's
# _validity_nulled — resolvers receive already-nulled invalid values, so
# their null-skipping aggregates implement the reference semantics.


def _nonnull_count(v: Column) -> Column:
    return F.count(v)


def _cmp(*keys):
    """Build a comparator lambda from (expr_fn, ascending) keys."""

    def comparator(a, b):
        expr = F.lit(0)
        # build nested case: evaluate keys in order
        for expr_fn, asc in reversed(keys):
            ka, kb = expr_fn(a), expr_fn(b)
            lt, gt = (-1, 1) if asc else (1, -1)
            expr = (
                F.when(ka < kb, F.lit(lt))
                .when(ka > kb, F.lit(gt))
                .otherwise(expr)
            )
        return expr

    return comparator


# ------------------------------------------------------- general resolvers

@resolver("voting")
def voting(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Most frequent value; confidence = votes_top / votes_total
    (general.py:15-57). Tie-break: lexicographically smallest value."""
    sv = v.cast("string")
    vals = F.collect_list(sv)
    counted = F.transform(
        F.array_distinct(vals),
        lambda x: F.struct(
            F.size(F.filter(vals, lambda y: y == x)).alias("cnt"), x.alias("val")
        ),
    )
    ranked = F.array_sort(
        counted,
        _cmp((lambda s: s["cnt"], False), (lambda s: s["val"], True)),
    )
    top = F.get(ranked, 0)
    return ResolverAggs(
        value=top["val"],
        confidence=F.when(
            F.size(vals) > 0, top["cnt"].cast("double") / F.size(vals)
        ),
        rule="voting",
    )


@resolver("weighted_voting")
def weighted_voting(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Trust-weight-summed votes (general.py:157-210)."""
    sv = v.cast("string")
    w = F.coalesce(trust.cast("double"), F.lit(1.0))
    pairs = F.collect_list(F.when(sv.isNotNull(), F.struct(sv.alias("val"), w.alias("w"))))
    weights = F.transform(
        F.array_distinct(F.transform(pairs, lambda p: p["val"])),
        lambda x: F.struct(
            F.aggregate(
                F.filter(pairs, lambda p: p["val"] == x),
                F.lit(0.0),
                lambda acc, p: acc + p["w"],
            ).alias("w"),
            x.alias("val"),
        ),
    )
    ranked = F.array_sort(
        weights, _cmp((lambda s: s["w"], False), (lambda s: s["val"], True))
    )
    total = F.aggregate(weights, F.lit(0.0), lambda acc, s: acc + s["w"])
    top = F.get(ranked, 0)
    return ResolverAggs(
        value=top["val"],
        confidence=F.when(total > 0, top["w"] / total),
        rule="weighted_voting",
    )


def favour_sources(source_preferences: list[str]) -> AggBuilder:
    """First value from the highest-priority source (general.py:60-119)."""

    def build(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
        rank = F.lit(len(source_preferences))
        for i, s in enumerate(reversed(source_preferences)):
            rank = F.when(ds == s, F.lit(len(source_preferences) - 1 - i)).otherwise(rank)
        pick = F.min_by(
            F.struct(v.alias("v")), F.when(v.isNotNull(), F.struct(rank, rid))
        )
        return ResolverAggs(
            value=pick["v"],
            confidence=F.lit(1.0),
            rule="favour_sources",
        )

    return build


RESOLVERS["favour_sources"] = favour_sources  # parameterized: call with prefs


def random_value(seed: int = 42) -> AggBuilder:
    """Uniform-random valid value, deterministic given seed
    (general.py:122-154): order by hash(record_id, seed)."""

    def build(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
        # md5-based seeded order: deterministic AND engine-portable
        # (xxhash64 would differ from the duckdb oracle)
        h = F.md5(F.concat(rid, F.lit(f":{seed}")))
        pick = F.min_by(F.struct(v.alias("v")), F.when(v.isNotNull(), h))
        n = _nonnull_count(v)
        return ResolverAggs(
            value=pick["v"],
            confidence=F.when(n > 0, F.lit(1.0) / n),
            rule="random_value",
        )

    return build


RESOLVERS["random_value"] = random_value


@resolver("prefer_higher_trust")
def prefer_higher_trust(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Value from the max-trust dataset; confidence 1/|ties at max trust|
    (general.py:213-315). Deterministic: ties broken by record id."""
    t = F.coalesce(trust.cast("double"), F.lit(0.5))
    pick = F.max_by(
        F.struct(v.alias("v")),
        F.when(v.isNotNull(), F.struct(t.alias("t"), rid.alias("r"))),
    )
    # tie count: derived from ONE collected list (aggregates cannot nest)
    trusts = F.collect_list(F.when(v.isNotNull(), t))
    max_t = F.array_max(trusts)
    ties = F.size(F.filter(trusts, lambda x: x == max_t))
    return ResolverAggs(
        value=pick["v"],
        confidence=F.when(ties > 0, F.lit(1.0) / ties),
        rule="prefer_higher_trust",
    )


@resolver("first_non_null")
def first_non_null(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Default fuser (engine.py:581-596): first valid value, conf 0.5.
    'First' = smallest record id (deterministic)."""
    pick = F.min_by(F.struct(v.alias("v")), F.when(v.isNotNull(), rid))
    return ResolverAggs(value=pick["v"], confidence=F.lit(0.5), rule="first_non_null")


# ------------------------------------------------------- numeric resolvers

def _sorted_sum(v: Column) -> Column:
    """Sum of doubles in sorted order: bit-for-bit reproducible across
    runs, partitionings, AND engines (the oracle sums the same sorted
    list). Groups are entity-cluster sized, so the collected array is
    tiny; for corpus-scale numeric rollups use plain F.sum instead."""
    vals = F.array_sort(F.collect_list(v.cast("double")))
    return F.when(
        F.size(vals) > 0,
        F.aggregate(vals, F.lit(0.0), lambda acc, x: acc + x),
    )


@resolver("average")
def average(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Mean (deterministic sorted summation); confidence from dispersion
    (numeric.py:13-61): 1/(1+stddev/|mean|)."""
    d = v.cast("double")
    mean = _sorted_sum(d) / F.count(d)
    sd = F.coalesce(F.stddev_pop(d), F.lit(0.0))
    conf = F.when(mean.isNotNull(),
                  F.lit(1.0) / (F.lit(1.0) + sd / F.greatest(F.abs(mean), F.lit(1e-12))))
    return ResolverAggs(value=mean, confidence=conf, rule="average")


@resolver("median")
def median(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    d = v.cast("double")
    return ResolverAggs(value=F.median(d), confidence=F.lit(0.8), rule="median")


@resolver("maximum")
def maximum(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    return ResolverAggs(value=F.max(v.cast("double")), confidence=F.lit(0.8), rule="maximum")


@resolver("minimum")
def minimum(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    return ResolverAggs(value=F.min(v.cast("double")), confidence=F.lit(0.8), rule="minimum")


@resolver("sum_values")
def sum_values(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    return ResolverAggs(value=_sorted_sum(v), confidence=F.lit(0.8), rule="sum_values")


# ---------------------------------------------------------- date resolvers

@resolver("most_recent")
def most_recent(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Latest parseable date (date.py:15-116)."""
    return ResolverAggs(value=F.max(v.cast("timestamp")), confidence=F.lit(0.8),
                        rule="most_recent")


@resolver("earliest")
def earliest(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    return ResolverAggs(value=F.min(v.cast("timestamp")), confidence=F.lit(0.8),
                        rule="earliest")


# -------------------------------------------------------- string resolvers

def _pick_by_length(v: Column, rid: Column, longest: bool) -> Column:
    sv = v.cast("string")
    pairs = F.collect_list(F.when(sv.isNotNull(), F.struct(sv.alias("v"))))
    ranked = F.array_sort(
        pairs,
        _cmp((lambda s: F.length(s["v"]), not longest), (lambda s: s["v"], True)),
    )
    return F.get(ranked, 0)["v"]


@resolver("longest_string")
def longest_string(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """max length, ties -> lexicographically smallest (string.py:12-101)."""
    return ResolverAggs(value=_pick_by_length(v, rid, True),
                        confidence=F.lit(0.7), rule="longest_string")


@resolver("shortest_string")
def shortest_string(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    return ResolverAggs(value=_pick_by_length(v, rid, False),
                        confidence=F.lit(0.7), rule="shortest_string")


@resolver("most_complete")
def most_complete(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Most informative string (string.py:103-151): most non-space tokens,
    then longest, then lexicographic."""
    sv = F.trim(F.regexp_replace(v.cast("string"), r"\s+", " "))
    pairs = F.collect_list(F.when(sv.isNotNull() & (sv != ""), F.struct(sv.alias("v"))))
    ranked = F.array_sort(
        pairs,
        _cmp(
            (lambda s: F.size(F.split(s["v"], " ")), False),
            (lambda s: F.length(s["v"]), False),
            (lambda s: s["v"], True),
        ),
    )
    return ResolverAggs(value=F.get(ranked, 0)["v"], confidence=F.lit(0.7), rule="most_complete")


# ---------------------------------------------------------- list resolvers

def _as_array(v: Column) -> Column:
    """Scalar values become singleton arrays (list.py handles both)."""
    return F.when(v.isNull(), F.array().cast("array<string>")).otherwise(
        v.cast("array<string>")
    )


@resolver("union")
def union_resolver(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Sorted distinct union (list.py:13-58)."""
    arrs = F.collect_list(_as_array(v))
    out = F.array_sort(F.array_distinct(F.flatten(arrs)))
    return ResolverAggs(value=out, confidence=F.lit(0.9), rule="union")


@resolver("intersection")
def intersection_resolver(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
    """Items present in all sources (list.py:61-124)."""
    arrs = F.collect_list(F.when(v.isNotNull(), _as_array(v)))
    inter = F.aggregate(
        F.slice(arrs, 2, F.greatest(F.size(arrs) - 1, F.lit(0))),
        F.element_at(arrs, 1),
        lambda acc, x: F.array_intersect(acc, x),
    )
    return ResolverAggs(
        value=F.array_sort(F.coalesce(inter, F.array().cast("array<string>"))),
        confidence=F.lit(0.9),
        rule="intersection",
    )


def intersection_k_sources(k: int = 2) -> AggBuilder:
    """Items in >= k sources (list.py:127-181)."""

    def build(v: Column, rid: Column, ds: Column, trust: Column) -> ResolverAggs:
        arrs = F.collect_list(F.when(v.isNotNull(), F.array_distinct(_as_array(v))))
        items = F.array_distinct(F.flatten(arrs))
        kept = F.filter(
            items,
            lambda it: F.size(F.filter(arrs, lambda a: F.array_contains(a, it)))
            >= F.lit(k),
        )
        return ResolverAggs(
            value=F.array_sort(kept), confidence=F.lit(0.9),
            rule=f"intersection_k_sources({k})",
        )

    return build


RESOLVERS["intersection_k_sources"] = intersection_k_sources
