"""Profiling: distributed stats + driver-side rendering.

Reference: PyDI/profiling/profiler.py — profile (ydata HTML, :30-67),
compare (sweetviz, :69-106), summary (:108-156), analyze_coverage
(:158-216). The heavy libs aren't available (and wouldn't scale);
the stats themselves are computed as Spark aggregates and rendered to a
plain dict / simple HTML on the driver.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.core.dataset import Dataset, as_dataframe


class DataProfiler:
    def summary(self, data: Dataset | DataFrame) -> dict[str, Any]:
        """rows/cols/null counts/dtypes (reference: profiler.py:108-156) —
        ONE aggregate pass."""
        df = as_dataframe(data)
        aggs = [F.count("*").alias("__n")]
        for c in df.columns:
            aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__nd_{c}"))
        row = df.agg(*aggs).collect()[0]
        n = row["__n"]
        columns = {}
        for c, t in df.dtypes:
            columns[c] = {
                "dtype": t,
                "non_null": row[f"__nn_{c}"],
                "nulls": n - row[f"__nn_{c}"],
                "approx_distinct": row[f"__nd_{c}"],
            }
        return {
            "dataset": data.name if isinstance(data, Dataset) else None,
            "rows": n,
            "n_columns": len(df.columns),
            "columns": columns,
        }

    def profile(
        self,
        data: Dataset | DataFrame,
        out_dir: str | None = None,
        histogram_bins: int = 10,
    ) -> dict:
        """Extended per-column stats (numeric five-number summary,
        string length stats, top values, equi-width histograms) +
        optional HTML artifact with per-column sections (the repo's
        stand-in for the reference's ydata/sweetviz reports,
        PyDI/profiling/profiler.py:30-106 — same signals, rendered
        dependency-free).

        Scale shape: three aggregate jobs total regardless of column
        count — summary, stats, histograms (all buckets for all numeric
        columns are conditional sums inside ONE agg) — plus one small
        groupBy per low-cardinality string column for top values."""
        df = as_dataframe(data)
        base = self.summary(data)
        numeric = [c for c, t in df.dtypes
                   if t in ("int", "bigint", "double", "float", "decimal")]
        aggs = []
        for c in numeric:
            col = F.col(c).cast("double")
            aggs += [
                F.min(col).alias(f"__min_{c}"), F.max(col).alias(f"__max_{c}"),
                F.avg(col).alias(f"__avg_{c}"),
                F.expr(f"percentile_approx({c}, array(0.25, 0.5, 0.75))").alias(f"__q_{c}"),
                F.stddev_pop(col).alias(f"__sd_{c}"),
            ]
        strings = [c for c, t in df.dtypes if t == "string"]
        for c in strings:
            aggs.append(F.avg(F.length(F.col(c))).alias(f"__len_{c}"))
        if aggs:
            row = df.agg(*aggs).collect()[0]
            for c in numeric:
                q = row[f"__q_{c}"]
                base["columns"][c].update(
                    min=row[f"__min_{c}"], max=row[f"__max_{c}"],
                    mean=row[f"__avg_{c}"], stddev=row[f"__sd_{c}"],
                    q25=q[0] if q else None, median=q[1] if q else None,
                    q75=q[2] if q else None,
                )
            for c in strings:
                base["columns"][c]["avg_length"] = row[f"__len_{c}"]
        # equi-width histograms for all numeric columns in ONE agg pass:
        # bucket membership is a conditional sum (JVM codegen, no
        # shuffle beyond the single partial/final aggregate)
        hist_cols = [
            c for c in numeric
            if base["columns"][c].get("min") is not None
            and base["columns"][c].get("max") is not None
        ]
        hist_aggs = []
        edges_by_col: dict[str, list[float]] = {}
        for c in hist_cols:
            lo = float(base["columns"][c]["min"])
            hi = float(base["columns"][c]["max"])
            if hi <= lo:
                edges_by_col[c] = [lo, hi]
                continue
            width = (hi - lo) / histogram_bins
            edges = [lo + i * width for i in range(histogram_bins)] + [hi]
            edges_by_col[c] = edges
            col = F.col(c).cast("double")
            for i in range(histogram_bins):
                upper_ok = (
                    col <= F.lit(edges[i + 1]) if i == histogram_bins - 1
                    else col < F.lit(edges[i + 1])
                )
                hist_aggs.append(
                    F.sum(
                        F.when((col >= F.lit(edges[i])) & upper_ok, 1).otherwise(0)
                    ).alias(f"__h_{c}_{i}")
                )
        if hist_aggs:
            hrow = df.agg(*hist_aggs).collect()[0]
            for c in hist_cols:
                edges = edges_by_col[c]
                if len(edges) == 2:  # constant column: single full bucket
                    base["columns"][c]["histogram"] = {
                        "edges": edges, "counts": [base["columns"][c]["non_null"]],
                    }
                    continue
                base["columns"][c]["histogram"] = {
                    "edges": edges,
                    "counts": [
                        int(hrow[f"__h_{c}_{i}"] or 0)
                        for i in range(histogram_bins)
                    ],
                }
        # top values for low-cardinality strings (one pass per candidate)
        for c in strings:
            if base["columns"][c]["approx_distinct"] <= 25:
                top = (
                    df.groupBy(c).count().orderBy(F.desc("count"), F.col(c))
                    .limit(10).collect()
                )
                base["columns"][c]["top_values"] = [
                    {"value": r[c], "count": r["count"]} for r in top
                ]
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            name = base.get("dataset") or "profile"
            with open(os.path.join(out_dir, f"{name}_profile.json"), "w") as fh:
                json.dump(base, fh, indent=2, default=str)
            with open(os.path.join(out_dir, f"{name}_profile.html"), "w") as fh:
                fh.write(self._render_html(base))
        return base

    def compare(self, a: Dataset | DataFrame, b: Dataset | DataFrame) -> dict:
        """Two-sided comparison (reference: profiler.py:69-106)."""
        pa, pb = self.summary(a), self.summary(b)
        shared = sorted(set(pa["columns"]) & set(pb["columns"]))
        return {
            "a": pa, "b": pb,
            "shared_columns": shared,
            "only_a": sorted(set(pa["columns"]) - set(pb["columns"])),
            "only_b": sorted(set(pb["columns"]) - set(pa["columns"])),
        }

    def analyze_coverage(self, datasets: list[Dataset]) -> DataFrame:
        """Cross-dataset attribute coverage matrix
        (reference: profiler.py:158-216 -> fusion/analysis.py:22)."""
        from pydi_spark.fusion.evaluation import coverage_metrics

        return coverage_metrics(datasets)

    @staticmethod
    def _svg_histogram(hist: dict, width: int = 360, height: int = 90) -> str:
        counts = hist.get("counts") or []
        if not counts:
            return ""
        peak = max(counts) or 1
        n = len(counts)
        bw = width / n
        bars = []
        for i, cnt in enumerate(counts):
            h = 0 if peak == 0 else (cnt / peak) * (height - 10)
            bars.append(
                f'<rect x="{i * bw + 1:.1f}" y="{height - h:.1f}" '
                f'width="{bw - 2:.1f}" height="{h:.1f}" fill="#4878a8">'
                f"<title>[{hist['edges'][i]:.4g}, "
                f"{hist['edges'][min(i + 1, len(hist['edges']) - 1)]:.4g}): {cnt}</title></rect>"
            )
        return (
            f'<svg width="{width}" height="{height}" '
            'xmlns="http://www.w3.org/2000/svg">' + "".join(bars) + "</svg>"
        )

    @staticmethod
    def _render_html(profile: dict) -> str:
        import html as _html

        def esc(v):
            return _html.escape(str(v))

        def fmt(v):
            if isinstance(v, float):
                return f"{v:.6g}"
            return esc(v) if v is not None else "—"

        overview = []
        for c, st in profile["columns"].items():
            overview.append(
                f"<tr><td><a href='#col_{esc(c)}'>{esc(c)}</a></td>"
                f"<td>{esc(st['dtype'])}</td><td>{st['non_null']}</td>"
                f"<td>{st['nulls']}</td><td>{st['approx_distinct']}</td></tr>"
            )
        sections = []
        stat_keys = [
            ("min", "min"), ("q25", "q25"), ("median", "median"),
            ("q75", "q75"), ("max", "max"), ("mean", "mean"),
            ("stddev", "stddev"), ("avg_length", "avg length"),
        ]
        for c, st in profile["columns"].items():
            parts = [f"<h2 id='col_{esc(c)}'>{esc(c)} <small>({esc(st['dtype'])})</small></h2>"]
            parts.append(
                "<table class='kv'>"
                f"<tr><td>non-null</td><td>{st['non_null']}</td></tr>"
                f"<tr><td>nulls</td><td>{st['nulls']}</td></tr>"
                f"<tr><td>~distinct</td><td>{st['approx_distinct']}</td></tr>"
                + "".join(
                    f"<tr><td>{label}</td><td>{fmt(st[k])}</td></tr>"
                    for k, label in stat_keys if st.get(k) is not None
                )
                + "</table>"
            )
            if st.get("histogram"):
                parts.append(DataProfiler._svg_histogram(st["histogram"]))
            if st.get("top_values"):
                parts.append(
                    "<table class='top'><tr><th>value</th><th>count</th></tr>"
                    + "".join(
                        f"<tr><td>{esc(t['value'])}</td><td>{t['count']}</td></tr>"
                        for t in st["top_values"]
                    )
                    + "</table>"
                )
            sections.append("<div class='col'>" + "".join(parts) + "</div>")
        style = (
            "<style>body{font-family:sans-serif;margin:24px}"
            "table{border-collapse:collapse;margin:8px 0}"
            "td,th{border:1px solid #ccc;padding:2px 8px;text-align:left}"
            ".col{margin-bottom:24px;border-top:1px solid #ddd;padding-top:8px}"
            "h2 small{color:#777;font-weight:normal}</style>"
        )
        return (
            "<html><head><meta charset='utf-8'>" + style + "</head><body>"
            f"<h1>Profile: {esc(profile.get('dataset') or '')}</h1>"
            f"<p>{profile['rows']} rows, {profile['n_columns']} columns</p>"
            "<table><tr><th>column</th><th>dtype</th><th>non-null</th>"
            "<th>nulls</th><th>~distinct</th></tr>"
            + "".join(overview)
            + "</table>"
            + "".join(sections)
            + "</body></html>"
        )


# floor(log10(1 + 1/d) * 1e6) for d = 1..9 — Benford's law expected
# first-digit shares as integer ppm literals (precomputed so BOTH
# engines compare against the identical constants; no runtime log10)
BENFORD_EXPECTED_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}


def benford_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """[column, digit, n, share_ppm, expected_ppm] — first-significant-
    digit distribution per column vs Benford's law, the classic
    fabricated-data / unit-mixing smell test for numeric columns.

    Determinism contract: pass INTEGER-valued columns (scale currency
    to cents upstream) — the first digit comes from the bigint's string
    form, which renders identically everywhere, where double->string
    formatting does NOT (Spark renders 1e7 as '1.0E7'). Zeros and NULLs
    are excluded (they have no first significant digit); shares are
    exact integer ppm of each column's nonzero count. All 9 digits
    appear per column (n = 0 rows zero-filled) so downstream deviation
    scans never miss an absent digit.

    Scale: one narrow pass per column unioned (cardinality-bounded
    output, 9 rows/column), one shuffle on the tiny (column, digit)
    key space — map-side combine does the real work.

    No reference counterpart — north-star profiling addition.
    """
    if not columns:
        raise ValueError("columns must be non-empty")
    spark = df.sparkSession
    parts = []
    for c in columns:
        v = F.col(c).cast("long")
        parts.append(
            df.where(v.isNotNull() & (v != 0)).select(
                F.lit(c).alias("column"),
                F.substring(F.abs(v).cast("string"), 1, 1)
                .cast("int")
                .alias("digit"),
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    counts = stacked.groupBy("column", "digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    grid = rows_to_df(
        spark,
        [(c, d) for c in columns for d in range(1, 10)],
        "column string, digit int",
    )
    totals = counts.groupBy("column").agg(F.sum("n").alias("__total"))
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_EXPECTED_PPM.items() for x in kv]
        ),
        F.col("digit"),
    )
    return (
        grid.join(counts, ["column", "digit"], "left")
        .join(totals, "column", "left")
        .select(
            "column",
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.expr(
                "CASE WHEN coalesce(__total, 0) = 0 THEN CAST(0 AS BIGINT) "
                "ELSE coalesce(n, 0) * 1000000 div __total END"
            ).alias("share_ppm"),
            expected.cast("long").alias("expected_ppm"),
        )
    )


def category_drift_report(
    df_a: DataFrame, df_b: DataFrame, col: str
) -> DataFrame:
    """[value, n_a, n_b, share_a_ppm, share_b_ppm, delta_ppm] — exact
    categorical-distribution drift between two snapshots of a column
    (baseline corpus vs incoming batch, last week vs this week): per
    value, both counts, both shares in exact integer ppm, and the
    signed share delta. The corpus-monitoring primitive a training-data
    pipeline checks before accepting a new crawl — values absent from
    one side surface with n = 0 (full outer), never silently vanish.
    NULL is reported as its own category, as a real NULL row (a
    null-rate shift IS drift; no string sentinel, so a literal
    '__null__' value cannot collide).

    Statistics like PSI/chi-square need logs or float accumulation
    (not portable under the repo's exact-arithmetic rule) — downstream
    callers can fold delta_ppm however they like; the report itself is
    all-integer and cross-engine exact.

    Scale: one groupBy per side (cardinality-bounded), a null-safe
    full outer join on the value, totals derived FROM the grouped
    counts (each input scanned once, fully lazy) riding as broadcast
    1-row frames.
    """
    def counted(df, name):
        # groupBy treats NULL as its own group — no string sentinel, so
        # a literal '__null__' category can never collide with real
        # NULLs (r8 review finding)
        return df.select(F.col(col).cast("string").alias("value")).groupBy(
            "value"
        ).agg(F.count(F.lit(1)).alias(name))

    a, b = counted(df_a, "n_a"), counted(df_b, "n_b")
    merged = (
        a.alias("a")
        .join(b.alias("b"),
              F.col("a.value").eqNullSafe(F.col("b.value")), "full_outer")
        .select(
            F.coalesce(F.col("a.value"), F.col("b.value")).alias("value"),
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )
    # totals derive from the grouped counts (no second scan of either
    # input, and nothing is evaluated eagerly at call time) and ride as
    # broadcast 1-row frames — the oracle's FROM m0, ta, tb shape
    ta = a.agg(F.coalesce(F.sum("n_a"), F.lit(0)).alias("__ta"))
    tb = b.agg(F.coalesce(F.sum("n_b"), F.lit(0)).alias("__tb"))
    out = merged.crossJoin(F.broadcast(ta)).crossJoin(F.broadcast(tb))
    share_a = F.expr("CASE WHEN __ta = 0 THEN CAST(0 AS BIGINT) "
                     "ELSE n_a * 1000000 div __ta END")
    share_b = F.expr("CASE WHEN __tb = 0 THEN CAST(0 AS BIGINT) "
                     "ELSE n_b * 1000000 div __tb END")
    return out.select(
        "value", "n_a", "n_b",
        share_a.alias("share_a_ppm"),
        share_b.alias("share_b_ppm"),
        (share_b - share_a).cast("long").alias("delta_ppm"),
    )


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """[key, cnt, share_ppm, rank] — the ``top_n`` heaviest values of a
    prospective join/groupBy key with exact counts and parts-per-million
    row share. The pre-flight diagnostic for the 100 TB decisions this
    engine keeps making: whether a key needs salting (NOTES.md
    join_skew_salted), an AQE skew-join threshold, or a block-size cap
    (blocking/meta block purging).

    ONE map-side-combined groupBy (materialized — it feeds both the
    1-row total and the top-n); top-n by sort+limit
    (TakeOrderedAndProject — per-partition heaps, no global window over
    the key space). share_ppm is exact integer arithmetic
    (cnt*1000000 div total) — no float, so the report is bit-portable.
    Beyond the reference (PyDI profiles columns, not key skew).
    """
    counts = df.select(F.col(key_col).cast("string").alias("key")).groupBy(
        "key"
    ).agg(F.count("*").alias("cnt"))
    # counts feeds the totals row AND the top-n: checkpoint it so the
    # corpus-wide groupBy runs once, not per consumer
    counts = counts.localCheckpoint(eager=False)
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(int(top_n))
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("cnt"), F.asc("key"))
    return top.crossJoin(F.broadcast(total)).select(
        "key",
        "cnt",
        # integral div — exact on both engines (DuckDB: //)
        F.expr("cnt * CAST(1000000 AS BIGINT) div total").alias("share_ppm"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    scale: int = 6,
) -> DataFrame:
    """[col_a, col_b, n, corr_micro] — Pearson correlation for every
    unordered column pair (col_a < col_b), as exact-arithmetic micro
    ints (floor(1e6 * r)).

    Determinism contract (NOTES.md float policy): ``F.corr`` streams a
    float co-moment whose value depends on partition order — useless
    under a cross-engine hash gate. Instead every input quantizes to
    ``decimal(18, scale)`` — NOT 38: a product of two decimal(18,s)
    is decimal(37, 2s), still inside the exact 38-digit envelope in
    BOTH Spark and DuckDB, where 38-wide inputs would trip the two
    engines' *different* overflow rules — and the sufficient
    statistics (n, Sx, Sy, Sxx, Syy, Sxy) are EXACT decimal sums
    (map-side combinable, order-free); r is then ONE left-to-right
    double expression over those exact sums — bit-identical in any
    engine with IEEE doubles. Pairs with zero variance on either side
    yield null corr_micro.

    Scale: ONE aggregation pass computes all C(k,2) pairs' statistics;
    the shuffle carries a single row. Rows where ANY profiled column is
    null are excluded (listwise deletion, the textbook convention —
    per-pair deletion would need k^2 null masks in the same pass; the
    docstring is the contract).

    Beyond the reference (PyDI's profiler has no cross-column stats).
    """
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    dec = f"decimal(18,{int(scale)})"
    clean = df
    for c in cols:
        clean = clean.where(F.col(c).isNotNull())
    q = {c: F.col(c).cast(dec) for c in cols}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(q[c]).alias(f"__s_{c}"))
        aggs.append(F.sum(q[c] * q[c]).alias(f"__ss_{c}"))
    pairs = sorted(
        {tuple(sorted((a, b))) for a in cols for b in cols if a != b}
    )
    for a, b in pairs:
        aggs.append(F.sum(q[a] * q[b]).alias(f"__sp_{a}_{b}"))
    # one corpus pass; the 1-row result is pinned so the per-pair
    # selects below don't re-run the aggregation per union branch
    stats = clean.agg(*aggs).localCheckpoint(eager=False)
    out = None
    for a, b in pairs:
        n = F.col("__n").cast("double")
        sx, sy = F.col(f"__s_{a}").cast("double"), F.col(f"__s_{b}").cast("double")
        sxx, syy = F.col(f"__ss_{a}").cast("double"), F.col(f"__ss_{b}").cast("double")
        sxy = F.col(f"__sp_{a}_{b}").cast("double")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        r = F.when(
            (vx > 0) & (vy > 0),
            (n * sxy - sx * sy) / F.sqrt(vx) / F.sqrt(vy),
        )
        row = stats.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.col("__n").alias("n"),
            F.floor(r * F.lit(1_000_000)).cast("bigint").alias("corr_micro"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def categorical_dispersion(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """[column, n_rows, n_distinct, gini_micro] — Gini impurity
    (1 - sum((n_i/n)^2)) per column in exact-arithmetic micro ints:
    0 = constant column, -> 1e6 = every value unique. The standard
    spread diagnostic for categorical columns (split quality /
    blocking-key selectivity) that the null-count + distinct-count
    profile can't see.

    Determinism AND overflow safety: counts are exact ints; the
    squares n^2 and sum(n_i^2) are formed as decimal(38,0) products
    (a bigint n_i^2 overflows int64 beyond ~3e9 rows in one category —
    the eval_ari overflow class), cast to double for the single
    division. Both operands are exactly double-representable for any
    n below ~94M rows per slice; above that, quantization of the 6th
    decimal may differ by 1ulp across engines — profile slices, not
    planets. Nulls count as a regular value (a 90%-null column IS
    concentrated). One groupBy per column, unioned — each is map-side
    combinable and bounded by that column's cardinality.

    Beyond the reference.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    dec = "decimal(19,0)"
    out = None
    for c in cols:
        counts = (
            df.groupBy(F.col(c).cast("string").alias("__v"))
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        nd = F.col("__n").cast(dec)
        row = counts.agg(
            F.sum("__n").alias("__total"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(nd * nd).alias("__sq"),
        ).select(
            F.lit(c).alias("column"),
            F.col("__total").alias("n_rows"),
            F.col("n_distinct"),
            F.floor(
                F.lit(1_000_000)
                * (
                    (
                        F.col("__total").cast(dec)
                        * F.col("__total").cast(dec)
                        - F.col("__sq")
                    ).cast("double")
                )
                / (
                    F.col("__total").cast(dec) * F.col("__total").cast(dec)
                ).cast("double")
            ).cast("bigint").alias("gini_micro"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def exact_quantiles(
    df: DataFrame,
    cols: list[str],
    ps: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """[column, n, p_{ppm}...] — EXACT discrete quantiles per column:
    for each probability p, the smallest value whose cumulative
    non-null count reaches ceil(p*n) (``percentile_disc`` semantics —
    always an element of the column, never an interpolation, so doubles
    pass through bit-identical and ints stay ints).

    Determinism: p quantizes to parts-per-million; the target rank is
    pure integer arithmetic (``(p_ppm*n + 999999) div 1e6`` = exact
    ceiling), the cumulative counts are exact bigints, and the answer
    is a conditional ``min`` — no float op anywhere.

    Scale: one groupBy per column builds its value histogram (map-side
    combined, shuffle bounded by the column's CARDINALITY, not its row
    count); the cumsum window then runs over the distinct-value table.
    For near-unique columns (timestamps, ids) that table is row-sized
    and the single-ordered-window becomes the bottleneck — use the KLL
    sketch (profiling/sketches.py) there; this operator is for the
    bounded-domain measures a profiler actually quantiles.

    Beyond the reference (PyDI's profiler has min/max/nulls only).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    ppms = [int(round(p * 1_000_000)) for p in ps]
    if not ppms or any(not 0 < q <= 1_000_000 for q in ppms):
        raise ValueError(f"ps must be in (0, 1]: {ps}")
    from pyspark.sql import Window

    out = None
    for c in cols:
        cnt = (
            df.where(F.col(c).isNotNull())
            .groupBy(F.col(c).alias("__val"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.orderBy("__val").rowsBetween(Window.unboundedPreceding, 0)
        cum = cnt.select(
            "__val",
            F.sum("__c").over(w).alias("__cum"),
            F.sum("__c").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("__n"),
        )
        row = cum.agg(
            F.max("__n").alias("n"),
            *[
                F.min(
                    F.when(
                        F.col("__cum")
                        >= F.expr(
                            f"(CAST({q} AS BIGINT) * __n + 999999) "
                            "div 1000000"
                        ),
                        F.col("__val"),
                    )
                ).alias(f"p_{q}")
                for q in ppms
            ],
        ).select(F.lit(c).alias("column"), "*")
        out = row if out is None else out.unionAll(row)
    return out


def join_cardinality_report(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
) -> DataFrame:
    """ONE row of exact pre-flight join diagnostics: [n_left, n_right,
    n_left_keys, n_right_keys, n_matching_keys, join_rows,
    max_key_fanout, left_rows_unmatched, right_rows_unmatched].

    ``join_rows`` is the exact inner-join output size (sum of
    cnt_l*cnt_r over matching keys) and ``max_key_fanout`` its largest
    per-key term — the two numbers that decide whether a planned join
    explodes, needs salting, or can broadcast, WITHOUT running it.
    Null keys never match (SQL semantics) and are excluded.

    Scale: two map-side-combined groupBys bounded by key CARDINALITY,
    one key-table equi-join, one scalar aggregate — never touches the
    payload columns and never materializes the join. The per-key
    products and their sum run in decimal(38,0) (exact): a join whose
    true output size exceeds int64 is exactly what this report exists
    to catch, so it must not itself overflow computing it —
    join_rows/max_key_fanout come back as try_cast BIGINTs, NULL
    meaning "beyond 9.2e18 rows: do not run this join".
    Beyond the reference (PyDI has no join planner).
    """
    lc = (
        left.where(F.col(left_on).isNotNull())
        .groupBy(F.col(left_on).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__cl"))
    )
    rc = (
        right.where(F.col(right_on).isNotNull())
        .groupBy(F.col(right_on).alias("__k"))
        .agg(F.count(F.lit(1)).alias("__cr"))
    )
    both = lc.join(rc, "__k", "full_outer")
    dec = "decimal(19,0)"
    prod = F.col("__cl").cast(dec) * F.col("__cr").cast(dec)
    return both.agg(
        F.sum("__cl").alias("n_left"),
        F.sum("__cr").alias("n_right"),
        F.count("__cl").alias("n_left_keys"),
        F.count("__cr").alias("n_right_keys"),
        F.count(prod).alias("n_matching_keys"),
        F.sum(prod).alias("__join_rows"),
        F.max(prod).alias("__max_fanout"),
        F.sum(F.when(F.col("__cr").isNull(), F.col("__cl"))).alias(
            "left_rows_unmatched"
        ),
        F.sum(F.when(F.col("__cl").isNull(), F.col("__cr"))).alias(
            "right_rows_unmatched"
        ),
    ).select(
        "n_left", "n_right", "n_left_keys", "n_right_keys",
        "n_matching_keys",
        F.expr("try_cast(__join_rows AS BIGINT)").alias("join_rows"),
        F.expr("try_cast(__max_fanout AS BIGINT)").alias("max_key_fanout"),
        "left_rows_unmatched", "right_rows_unmatched",
    )


def find_sequence_gaps(df: DataFrame, col: str) -> DataFrame:
    """[gap_start, gap_end, n_missing] — the maximal runs of missing
    values in an integer sequence column (surrogate keys, version
    counters, shard indices): the audit that distinguishes "rows were
    deleted" from "the generator skipped". Nulls are ignored; an empty
    or gap-free column yields no rows.

    Scale: runs over the DISTINCT value table (cardinality-bounded,
    like exact_quantiles) with one ordered lead window — for key-like
    columns that table is row-sized; this is a diagnostic you run on a
    slice or a partition's key range, not a planet, and the output is
    bounded by the number of gaps.
    """
    from pyspark.sql import Window

    vals = (
        df.where(F.col(col).isNotNull())
        .select(F.col(col).cast("long").alias("__v"))
        .distinct()
    )
    w = Window.orderBy("__v")
    nxt = F.lead("__v").over(w)
    return (
        vals.select("__v", nxt.alias("__n"))
        .where(F.col("__n") > F.col("__v") + 1)
        .select(
            (F.col("__v") + 1).alias("gap_start"),
            (F.col("__n") - 1).alias("gap_end"),
            (F.col("__n") - F.col("__v") - 1).alias("n_missing"),
        )
    )


def _lower_median_from_hist(
    hist: DataFrame,
    group_cols: list[str],
    val_col: str,
    cnt_col: str,
    out_col: str,
) -> DataFrame:
    """Lower median from a weighted per-group value histogram
    ``[*group_cols, val_col, cnt_col]`` — the shared rank-math core of
    :func:`grouped_lower_median` and the MAD pass of
    :func:`detect_anomalies` (which re-weights an existing histogram
    instead of rescanning input-sized frames)."""
    from pyspark.sql import Window

    wc = Window.partitionBy(*group_cols).orderBy(val_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        *group_cols,
        F.col(val_col).alias("__val"),
        F.sum(cnt_col).over(wc).alias("__cum"),
        F.sum(cnt_col).over(wn).alias("__n"),
    )
    return cum.groupBy(*[F.col(g) for g in group_cols]).agg(
        F.min(
            F.when(F.expr("__cum >= (__n + 1) div 2"), F.col("__val"))
        ).alias(out_col)
    )


def _value_hist(
    df: DataFrame, group_cols: list[str], col: str
) -> DataFrame:
    """Per-group non-null value histogram [*group_cols, __val, __c]."""
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(*[F.col(g) for g in group_cols], F.col(col).alias("__val"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )


def grouped_lower_median(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    out_col: str = "median",
) -> DataFrame:
    """[*group_cols, out_col] — exact lower median per group
    (percentile_disc(0.5): the smallest value whose cumulative non-null
    count reaches ceil(n/2) = (n+1) div 2 — all-integer rank math over
    the per-group value histogram; cardinality-bounded like
    exact_quantiles). Empty/all-null groups are absent from the output.
    The shared primitive behind median imputation and MAD anomaly
    detection."""
    return _lower_median_from_hist(
        _value_hist(df, group_cols, col), group_cols, "__val", "__c", out_col
    )


def detect_anomalies(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Input + [median, mad, is_anomaly] — robust per-key outlier flag:
    a row is anomalous when |value - median| * k_den > k_num * mad
    (median absolute deviation; k defaults to 3). Medians are exact
    lower medians, deviations exact integers — mean/stddev z-scores
    would be float-order-dependent AND corrupted by the very outliers
    they hunt; median/MAD is the robust-statistics textbook answer and
    happens to be the cross-engine-deterministic one. ``value_col``
    must be integral (micro-quantize upstream — resample_timeseries
    already emits micro sums). A constant series has mad=0, so any
    deviation flags; null values never flag.

    Scale: ONE value histogram built from the input feeds both median
    passes — the MAD median re-weights the same histogram
    (|val - median| keyed, counts summed) instead of rescanning an
    input-sized deviation frame — then one |keys|-sized
    broadcast-eligible join back. The input is read exactly twice
    (histogram + output join); the r12-before shape read it three
    times and sorted the full deviation frame.
    """
    if k_num <= 0 or k_den <= 0:
        raise ValueError(f"k must be positive: {k_num}/{k_den}")
    hist = _value_hist(df, key_cols, value_col)
    med = _lower_median_from_hist(hist, key_cols, "__val", "__c", "median")
    # the deviation histogram is a re-keying of the value histogram:
    # |val - median| with summed counts — same weighted multiset as the
    # per-row |value - median| over the input, so the MAD is identical
    dev_hist = (
        hist.join(med, key_cols)
        .select(
            *key_cols,
            F.abs(F.col("__val") - F.col("median")).alias("__dval"),
            "__c",
        )
        .groupBy(*[F.col(g) for g in key_cols], "__dval")
        .agg(F.sum("__c").alias("__c"))
    )
    mad = _lower_median_from_hist(dev_hist, key_cols, "__dval", "__c", "mad")
    # left join: a key group with no non-null values has no median/mad
    # row, but its INPUT rows must survive (with is_anomaly=0, nulls
    # never flag) — an inner join would silently delete whole series
    stats = med.join(mad, key_cols)
    return (
        df.join(stats, key_cols, "left")
        .withColumn(
            "is_anomaly",
            F.when(
                F.abs(F.col(value_col) - F.col("median"))
                * F.lit(int(k_den))
                > F.lit(int(k_num)) * F.col("mad"),
                1,
            )
            .otherwise(0)
            .cast("int"),
        )
    )


def null_pattern_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """[pattern, null_cols, n, share_ppm] — the distribution of
    MISSINGNESS PATTERNS across ``cols``: each row's nulls form a
    bitmask (bit i = cols[i] is null), counted exactly. Co-occurring
    nulls ("phone and email are always missing together") decide
    whether imputation is safe or the rows need a different source —
    per-column null counts can't see the joint structure.

    ``null_cols`` is the human-readable comma-joined column list for
    the pattern ('' = fully populated row). One map-side-combined
    groupBy bounded by 2^len(cols) patterns ACTUALLY PRESENT; share is
    exact integer ppm. Caps at 62 columns (bigint bits).

    Beyond the reference (PyDI profiles nulls per column only).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    if len(cols) > 62:
        raise ValueError(f"at most 62 columns: {len(cols)}")
    bits = None
    for i, c in enumerate(cols):
        b = F.when(F.col(c).isNull(), F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bits = b if bits is None else bits + b
    counts = (
        df.select(bits.alias("pattern"))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = counts.localCheckpoint(eager=False)  # feeds total + rows
    total = counts.agg(F.sum("n").alias("__total"))
    name_expr = F.concat_ws(
        ",",
        *[
            F.when(
                (F.col("pattern").bitwiseAND(F.lit(1 << i))) != 0, F.lit(c)
            )
            for i, c in enumerate(cols)
        ],
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "pattern",
        name_expr.alias("null_cols"),
        "n",
        F.expr("n * CAST(1000000 AS BIGINT) div __total").alias("share_ppm"),
    )


def equi_width_histogram(
    df: DataFrame,
    column: str,
    n_buckets: int = 20,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """[bucket, n] — exact equi-width histogram: bucket =
    ``floor((x - lo) * n_buckets / (hi - lo))``, x == hi clamped into
    the last bucket, NULLs reported as bucket -1, out-of-range values
    as -2 (below) / ``n_buckets`` (above) so totals always reconcile
    with the row count. Empty buckets are emitted with n = 0 (the
    histogram consumer's contract; a bare groupBy silently omits them).

    Determinism: the bucket expression is ONE left-to-right IEEE
    chain on doubles — identical operand order on any engine gives
    bit-identical products, so floor is divergence-free (the
    resample/clip rule). ``lo``/``hi`` default to the column's exact
    min/max (one aggregate; min/max of doubles are exact).

    Scale: one groupBy bounded by ``n_buckets`` + a bucket-range
    sequence explode for the zero-fill — both independent of row
    count. Reference: DataProfiler.profile reports min/max/mean only
    (PyDI profiling/profiler.py) — distribution shape is a north-star
    addition.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    if lo is None or hi is None:
        row = df.agg(
            F.min(F.col(column).cast("double")).alias("lo"),
            F.max(F.col(column).cast("double")).alias("hi"),
        ).collect()[0]
        lo = row["lo"] if lo is None else lo
        hi = row["hi"] if hi is None else hi
    if lo is None or hi is None:
        # all-null column: the data-derived bound stayed None whichever
        # side the caller supplied — every row lands in the null bucket
        return rows_to_df(
            df.sparkSession,
            [(-1, df.where(F.col(column).isNull()).count())],
            "bucket int, n long",
        )
    lo_f, hi_f = float(lo), float(hi)
    if not (hi_f >= lo_f):
        raise ValueError(f"hi must be >= lo: {lo_f}..{hi_f}")
    x = F.col(column).cast("double")
    if hi_f == lo_f:
        body = F.when(x == lo_f, F.lit(0)).when(x < lo_f, -2).otherwise(
            n_buckets
        )
    else:
        # the SQL oracle must spell the SAME left-to-right expression
        body = (
            F.when(x < lo_f, -2)
            .when(x > hi_f, n_buckets)
            .when(x == hi_f, n_buckets - 1)
            .otherwise(
                F.floor(
                    (x - F.lit(lo_f))
                    * F.lit(float(n_buckets))
                    / F.lit(hi_f - lo_f)
                ).cast("int")
            )
        )
    bucket = F.when(x.isNull(), -1).otherwise(body)
    # counts feeds two consumers (grid join + sentinel-bucket union);
    # the checkpoint (<= n_buckets + 3 rows) saves re-running the
    # corpus scan per consumer
    counts = (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    grid = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    return (
        grid.join(counts, "bucket", "left")
        .unionByName(
            counts.where(
                (F.col("bucket") < 0) | (F.col("bucket") >= n_buckets)
            )
        )
        .select("bucket", F.coalesce("n", F.lit(0)).alias("n"))
    )


def numeric_drift_report(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """[bin, lo, hi, n_a, n_b, share_a_ppm, share_b_ppm, delta_ppm] —
    exact NUMERIC-distribution drift between two snapshots: equi-depth
    bin edges taken from snapshot A's exact discrete quantiles
    (percentile_disc semantics — edges are column ELEMENTS, so doubles
    pass through bit-identically), every non-null value of BOTH sides
    assigned ``bin = #edges strictly below it``, then per-bin counts
    and exact integer-ppm shares with the signed delta. The numeric
    twin of category_drift_report: a healthy B puts ~1/n_bins of its
    mass in every bin; mass piling into the first/last bin is the
    classic upstream-shift signal. NULLs are excluded on both sides
    (null-rate drift is category_drift_report's job); PSI/KL stay
    deliberately out (logs are not cross-engine portable) — fold
    delta_ppm downstream if a scalar is wanted.

    lo/hi are the enclosing edges (NULL for the open first/last bin).
    Values equal to an edge land in the LOWER bin; B values outside
    A's range land in bin 0 or n_bins-1 — never dropped.

    Scale: A's edge derivation is one value-histogram groupBy (shuffle
    bounded by the column's CARDINALITY) + one ordered cumsum window
    over the distinct-value table — for near-unique columns use the
    KLL sketch to pick edges instead. The n_bins-1 edges collect to
    the driver (O(1)) and become literal comparisons, so the binning
    pass over both sides is pure map-side codegen feeding one tiny
    groupBy per side. Raises on an all-null/empty baseline (no edges
    -> every comparison undefined) — refuse-loudly.

    Beyond the reference (PyDI has no drift surface) — north-star
    addition.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    ppms = [i * 1_000_000 // int(n_bins) for i in range(1, int(n_bins))]
    edges_row = exact_quantiles(df_a, [col], ps=[p / 1e6 for p in ppms])
    row = edges_row.collect()[0]
    if row["n"] == 0 or row[1] is None:
        raise ValueError(
            f"numeric_drift_report: baseline snapshot has no non-null "
            f"{col!r} values — no equi-depth edges exist"
        )
    edges = [row[f"p_{q}"] for q in ppms]

    c = F.col(col)
    bin_expr = sum(
        (c > F.lit(e)).cast("int") for e in edges
    ).cast("int").alias("bin")

    def side(df, name):
        return (
            df.where(c.isNotNull())
            .select(bin_expr)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    a, b = side(df_a, "n_a"), side(df_b, "n_b")
    spark = df_a.sparkSession
    grid = spark.range(int(n_bins)).select(F.col("id").cast("int").alias("bin"))
    merged = (
        grid.join(a, "bin", "left").join(b, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        )
    )
    ta = a.agg(F.coalesce(F.sum("n_a"), F.lit(0)).alias("__ta"))
    tb = b.agg(F.coalesce(F.sum("n_b"), F.lit(0)).alias("__tb"))
    out = merged.crossJoin(F.broadcast(ta)).crossJoin(F.broadcast(tb))
    share_a = F.expr("CASE WHEN __ta = 0 THEN CAST(0 AS BIGINT) "
                     "ELSE n_a * 1000000 div __ta END")
    share_b = F.expr("CASE WHEN __tb = 0 THEN CAST(0 AS BIGINT) "
                     "ELSE n_b * 1000000 div __tb END")
    lo = F.create_map(
        *[x for i, e in enumerate(edges, start=1)
          for x in (F.lit(i), F.lit(e))]
    )[F.col("bin")]
    hi = F.create_map(
        *[x for i, e in enumerate(edges)
          for x in (F.lit(i), F.lit(e))]
    )[F.col("bin")]
    return out.select(
        "bin",
        lo.alias("lo"),
        hi.alias("hi"),
        "n_a", "n_b",
        share_a.alias("share_a_ppm"),
        share_b.alias("share_b_ppm"),
        (share_b - share_a).cast("long").alias("delta_ppm"),
    )


def value_runs(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """[key..., value, run_start, run_end, run_len] — gaps-and-islands
    run-length encoding: per key, maximal runs of consecutive rows (in
    ``order_col`` order) sharing the same ``value_col`` — the
    stuck-sensor / status-transition audit (a run that spans the whole
    series means the column never changed; thousands of length-1 runs
    mean it flaps). NULL is a value: consecutive NULLs form one run.

    Determinism: ``order_col`` must totally order each key's rows
    (duplicate order values make "consecutive" undefined — the
    engine's total-order rule); runs then fall out of the classic
    double-rank difference, a pure function of the data.

    Scale: both row_numbers and the final aggregate share the one
    hash partitioning by key — a single exchange of the input, output
    bounded by the run count. Keys are assumed partition-sized (the
    per-user / per-order grain); this is not a single global window.
    """
    from pyspark.sql import Window

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    w_all = Window.partitionBy(*key_cols).orderBy(order_col)
    w_val = Window.partitionBy(*key_cols, value_col).orderBy(order_col)
    island = (
        F.row_number().over(w_all) - F.row_number().over(w_val)
    ).alias("__island")
    return (
        df.select(*key_cols, order_col, F.col(value_col).alias("value"),
                  island)
        .groupBy(*key_cols, "value", "__island")
        .agg(
            F.min(order_col).alias("run_start"),
            F.max(order_col).alias("run_end"),
            F.count(F.lit(1)).cast("long").alias("run_len"),
        )
        .drop("__island")
    )


def changepoint_report(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """[key..., split_idx, split_ord, stat_ppm] — exact mass-shift
    change-point per key: the prefix boundary where the cumulative
    share of ``value_col`` mass diverges most from the uniform share
    of elapsed steps (``stat = max_t |cum_share(t) - t/n|``, integer
    ppm — the CUSUM/KS-against-uniform statistic on an ordered
    series). A rate that jumps halfway through scores high with the
    split at the jump; a steady series scores ~0. Run it on a
    resampled count series (resample_timeseries) to localize WHEN a
    metric shifted; ties break to the SMALLEST index (min-struct
    argmax, order-free).

    Determinism: values quantize to micro BEFORE the cumulative sum
    (the cohort_value rule); the statistic is computed with ONE
    division of an absolute value by a positive denominator —
    ``abs(cum*n - t*total) * 1e6 div (total*n)`` — so truncation
    equals floor on BOTH engines even when individual values are
    negative (two separate share divisions would diverge: Spark's
    ``div`` truncates toward zero, SQL ``//`` floors). Products run
    in decimal(38,0) (the int64 rule). ``order_col`` must totally
    order each key. Keys whose total mass is <= 0 are dropped (a
    share of a non-positive total is undefined) — run on counts or
    other non-negative series.

    Scale: one window cumsum + one argmax aggregate, both on the one
    key partitioning; per-key series are assumed partition-sized
    (resampled grids, not raw streams).
    """
    from pyspark.sql import Window

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    vm = F.expr(
        f"CAST(floor(coalesce({value_col}, 0) * 1000000) AS BIGINT)"
    )
    part = Window.partitionBy(*key_cols)
    ordered = part.orderBy("__ord")
    staged = df.select(
        *key_cols, F.col(order_col).alias("__ord"), vm.alias("__vm")
    ).select(
        *key_cols, "__ord",
        F.row_number().over(ordered).alias("__t"),
        F.sum("__vm").over(ordered).alias("__cum"),
        F.sum("__vm").over(part).alias("__total"),
        F.count(F.lit(1)).over(part).alias("__n"),
    )
    stat = F.expr(
        "abs(CAST(__cum AS DECIMAL(38,0)) * __n"
        " - CAST(__t AS DECIMAL(38,0)) * __total) * 1000000"
        " div (CAST(__total AS DECIMAL(38,0)) * __n)"
    )
    scored = staged.where(F.col("__total") > 0).select(
        *key_cols,
        F.struct(
            (-stat).alias("ns"),
            F.col("__t").alias("t"),
            F.col("__ord").alias("o"),
        ).alias("__s"),
    )
    best = scored.groupBy(*key_cols).agg(F.min("__s").alias("__b"))
    return best.select(
        *key_cols,
        F.col("__b.t").cast("long").alias("split_idx"),
        F.col("__b.o").alias("split_ord"),
        (-F.col("__b.ns")).cast("long").alias("stat_ppm"),
    )


def gini_concentration(df: DataFrame, value_col: str) -> DataFrame:
    """[n, total_micro, gini_ppm] — one-row EXACT Gini coefficient of a
    non-negative value column (activity concentration: 0 = everyone
    equal, ->1e6 = one key owns everything). The inequality audit for
    per-user event counts, per-source corpus shares, per-key join
    fan-outs.

    Exact-integer contract: values quantize to micro (floor(v*1e6))
    BEFORE anything; the rank formula
    ``(2*Σ(i*x_i) - (n+1)*Σx) * 1e6 div (n*Σx)`` over ascending ranks
    needs only ONE division of a non-negative numerator (ascending
    order maximizes Σ(i*x) past the (n+1)Σx/2 midpoint), so floor ==
    truncate on both engines (the changepoint rule). Tie order cannot
    matter: permuting equal values leaves Σ(i*x_i) unchanged. n <= 1
    or zero total -> 0.

    Scale: one distributed global rank of the value frame
    (functions/ranks.py — never a bare Window.orderBy) + one aggregate;
    products in decimal(38,0).
    """
    from pydi_spark.functions.ranks import global_row_number

    vals = df.where(F.col(value_col).isNotNull()).select(
        F.expr(
            f"CAST(floor({value_col} * 1000000) AS BIGINT)"
        ).alias("__vm")
    )
    ranked = global_row_number(vals, ["__vm"], "__rn")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__vm").alias("__s"),
        F.sum(F.expr("CAST(__rn AS DECIMAL(38,0)) * __vm")).alias("__t"),
    )
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.coalesce(F.col("__s"), F.lit(0)).cast("long").alias("total_micro"),
        F.expr(
            "CASE WHEN __n <= 1 OR coalesce(__s, 0) <= 0"
            " THEN CAST(0 AS BIGINT)"
            " ELSE CAST((2 * __t - (CAST(__n AS DECIMAL(38,0)) + 1) * __s)"
            " * 1000000 div (CAST(__n AS DECIMAL(38,0)) * __s) AS BIGINT)"
            " END"
        ).alias("gini_ppm"),
    )


def lorenz_curve(
    df: DataFrame, value_col: str, n_buckets: int = 10
) -> DataFrame:
    """[bucket, n, bucket_micro, cum_value_ppm] — the Lorenz
    concentration table behind ``gini_concentration``'s single number:
    rows ranked ascending by value split into ``n_buckets`` equal-count
    buckets (1 = poorest decile); ``cum_value_ppm`` = the exact integer
    ppm share of total value owned by buckets 1..k. Perfect equality
    reads 100000/200000/... per decile; "one source owns the corpus"
    reads 0/.../1000000. The audit table a sampling-weight review wants
    NEXT to the Gini scalar (which hides WHERE the concentration
    lives).

    Exact-arithmetic contract: values quantize to micro
    (floor(v*1e6)) before anything (the gini rule); bucket =
    (rank-1)*n_buckets div n (non-negative division — floor ==
    truncate); the cumulative share is ONE division of non-negative
    decimals per bucket. Tie order cannot shift bucket SUMS unless a
    tie group straddles a bucket boundary, so ranks order by
    (value, a row-stable tiebreak is the CALLER's job when exact
    per-bucket attribution under heavy ties matters — the documented
    top_k_per_group total-order rule); shares are non-decreasing by
    construction. Negative values are refused (Lorenz shares are
    undefined below zero — the gini non-negativity contract made
    loud).

    Scale shape: one distributed global rank of the value frame
    (functions/ranks.py — never a bare Window.orderBy), one
    map-side-combinable bucket aggregate, then a bucket-count-sized
    (<= n_buckets rows) running sum on the distributed core.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2: {n_buckets}")
    from pydi_spark.functions.ranks import global_row_number, global_running_sum

    # checkpoint BEFORE the validation collect, which stores every
    # partition it reads: a nondeterministic upstream recomputed
    # between the guard and the rank job could
    # smuggle a negative past the refusal (the rank-core recompute
    # hazard), and the checkpoint also saves the second full scan
    vals = df.where(F.col(value_col).isNotNull()).select(
        F.expr(f"CAST(floor({value_col} * 1000000) AS BIGINT)").alias("__vm")
    ).localCheckpoint(eager=False)
    neg = vals.where(F.col("__vm") < 0).limit(1).collect()
    if neg:
        raise ValueError(
            f"lorenz_curve: negative value {neg[0]['__vm']} micro — "
            "concentration shares are defined over non-negative values"
        )
    ranked, n = global_row_number(vals, ["__vm"], "__rn", return_count=True)
    if n == 0:
        raise ValueError("lorenz_curve: no non-null values")
    per_bucket = (
        ranked.select(
            F.expr(
                f"CAST((__rn - 1) * {int(n_buckets)} div {int(n)} + 1 AS BIGINT)"
            ).alias("bucket"),
            "__vm",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("__vm").cast("long").alias("bucket_micro"),
        )
    )
    cum = global_running_sum(per_bucket, ["bucket"], "bucket_micro", "__cum")
    total = cum.agg(F.max("__cum").alias("__tot"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "bucket", "n", "bucket_micro",
            F.expr(
                "CASE WHEN __tot <= 0 THEN CAST(0 AS BIGINT) ELSE "
                "CAST(CAST(__cum AS DECIMAL(38,0)) * 1000000 div __tot "
                "AS BIGINT) END"
            ).alias("cum_value_ppm"),
        )
    )
