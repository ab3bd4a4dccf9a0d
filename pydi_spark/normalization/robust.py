"""Robust-statistics normalizers: quantile clipping (winsorization)
and rare-category collapse.

Reference scope: PyDI's outlier detector (normalization/detectors.py
counterpart) only FLAGS IQR outliers; these are the corresponding
TRANSFORMS a feature/training pipeline applies. Beyond the reference.

Determinism contract: clip bounds are exact discrete quantiles
(elements of the column — the exact_quantiles machinery), collected
driver-side (a scalar-bounds aggregate, the allowed collect class) and
re-inlined as literals, so the clip itself is a pure when-chain with
NO join; rare-category thresholds compare exact integer counts
(share thresholds as cnt*1e6 >= ppm*total cross-multiplication — no
float division).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def clip_outliers(
    df: DataFrame,
    cols: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
) -> DataFrame:
    """Winsorize each column to its exact [lower, upper] discrete
    quantiles: values below the lower bound become the bound, above
    the upper bound become that bound; nulls stay null. Bounds are
    COLUMN ELEMENTS (percentile_disc), so no new values are invented
    and doubles stay bit-exact.

    Scale: one quantile histogram per column (shuffle bounded by the
    column's cardinality — the exact_quantiles caveat: for near-unique
    columns prefer a sketch-based bound); the clip pass itself is
    map-side only, bounds ride along as literals.
    """
    if not 0 < lower <= upper <= 1:
        raise ValueError(f"need 0 < lower <= upper <= 1: {lower}, {upper}")
    from pydi_spark.profiling import exact_quantiles

    lo_ppm = int(round(lower * 1_000_000))
    hi_ppm = int(round(upper * 1_000_000))
    bounds = {
        r["column"]: (r[f"p_{lo_ppm}"], r[f"p_{hi_ppm}"])
        for r in exact_quantiles(df, cols, ps=(lower, upper)).collect()
    }
    out = df
    for c in cols:
        lo, hi = bounds[c]
        if lo is None:  # all-null column: nothing to clip
            continue
        out = out.withColumn(
            c,
            F.when(F.col(c) < F.lit(lo), F.lit(lo))
            .when(F.col(c) > F.lit(hi), F.lit(hi))
            .otherwise(F.col(c)),
        )
    return out


def collapse_rare_categories(
    df: DataFrame,
    col: str,
    min_count: int | None = None,
    min_share_ppm: int | None = None,
    other: str = "__other__",
) -> DataFrame:
    """Replace category values rarer than the threshold with ``other``
    (string column result; nulls stay null — a null is missing, not
    rare). Threshold: absolute ``min_count``, or ``min_share_ppm``
    parts-per-million of the non-null rows (exact integer
    cross-multiply, no division) — exactly one must be given.

    Scale: ONE map-side-combined groupBy builds the frequency table;
    the KEEP set (frequent values) joins back broadcast-eligible — the
    frequent side is the small side by construction (<= 1e6 /
    min_share_ppm values for share thresholds).
    """
    if (min_count is None) == (min_share_ppm is None):
        raise ValueError("give exactly one of min_count / min_share_ppm")
    s = F.col(col).cast("string")
    counts = (
        df.where(s.isNotNull())
        .groupBy(s.alias("__val"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    if min_count is not None:
        keep = counts.where(F.col("__c") >= int(min_count))
    else:
        counts = counts.localCheckpoint(eager=False)  # feeds total + filter
        total = counts.agg(F.sum("__c").alias("__total"))
        keep = (
            counts.crossJoin(F.broadcast(total))
            .where(
                F.col("__c") * F.lit(1_000_000)
                >= F.lit(int(min_share_ppm)) * F.col("__total")
            )
        )
    keep = keep.select("__val", F.lit(1).alias("__keep"))
    out = (
        df.withColumn("__val", s)
        .join(F.broadcast(keep), "__val", "left")
        .withColumn(
            col,
            F.when(s.isNull(), F.lit(None).cast("string"))
            .when(F.col("__keep").isNotNull(), s)
            .otherwise(F.lit(other)),
        )
        .drop("__val", "__keep")
    )
    return out


def encode_categories(
    df: DataFrame,
    col: str,
    method: str = "ordinal",
    order: str = "frequency",
) -> DataFrame:
    """Input + ``{col}_enc`` — deterministic categorical encoding, the
    training-prep staple the reference's normalizers stop short of:

    - method='ordinal': dense integer codes 0..k-1 assigned under a
      TOTAL order — order='frequency' is (count DESC, value ASC)
      (most common category = 0; the value tiebreak makes equal-count
      categories deterministic), order='lexicographic' is plain value
      ASC. Nulls encode as -1 (missing is not a category).
    - method='frequency': the category's exact occurrence count
      (bigint; nulls -> 0) — the leakage-prone-but-popular count
      encoding, exact by construction.

    Scale: one groupBy bounded by the column's CARDINALITY builds the
    code table; the re-attach join broadcasts when small (category
    tables almost always are). The corpus never shuffles by value.
    SQL-replayable exactly (dense_rank over the same total order).
    """
    if method not in ("ordinal", "frequency"):
        raise ValueError(f"method must be ordinal|frequency: {method}")
    if order not in ("frequency", "lexicographic"):
        raise ValueError(
            f"order must be frequency|lexicographic: {order}"
        )
    from pyspark.sql import Window

    out_col = f"{col}_enc"
    cats = (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    if method == "frequency":
        code = F.col("__cnt")
    else:
        w = (
            Window.orderBy(F.desc("__cnt"), F.asc(col))
            if order == "frequency"
            else Window.orderBy(F.asc(col))
        )
        # dense codes over the CATEGORY table (cardinality-sized — the
        # single-partition window is bounded by |categories|, not rows)
        code = (F.row_number().over(w) - 1).cast("int")
    table = cats.select(col, code.alias(out_col))
    joined = df.join(F.broadcast(table), col, "left")
    fill = F.lit(0).cast("long") if method == "frequency" else F.lit(-1)
    return joined.withColumn(out_col, F.coalesce(out_col, fill))

def mask_columns(
    df: DataFrame, strategies: dict, salt: str | None = None
) -> DataFrame:
    """Column-level masking for sharing/export — the data-governance
    twin of llmdata's free-text ``redact_pii``: per structured column,
    one of
      - ``'hash'``: joinable pseudonym (equal values stay equal; NULL
        stays NULL). With ``salt`` set, sha2-256 over salt||value — a
        keyed pseudonym an outsider cannot dictionary-reverse without
        the salt. WITHOUT a salt it is bare md5: fine for high-entropy
        values, but LOW-ENTROPY PII (phone numbers, national ids) is
        trivially brute-forceable — pass a secret salt for those,
      - ``'redact'``: constant ``'[REDACTED]'``,
      - ``'partial'``: first and last character kept, interior replaced
        with ``*`` (values shorter than 3 chars redact fully — keeping
        1 of 2 chars would leak half the value),
      - ``'null'``: the column is nulled out.
    Every strategy is a pure Column expression — masking a 100 TB table
    is a map-only pass with full codegen, no UDF, no shuffle.

    Reference has no masking surface — north-star governance addition.
    """
    known = {"hash", "redact", "partial", "null"}
    bad = {c: v for c, v in strategies.items() if v not in known}
    if bad:
        raise ValueError(f"unknown masking strategies: {bad}")
    missing = [c for c in strategies if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    out = df
    for c, strat in strategies.items():
        s = F.col(c).cast("string")
        if strat == "hash":
            if salt is not None:
                expr = F.sha2(F.concat(F.lit(salt), s), 256)
            else:
                expr = F.md5(s.cast("binary"))
        elif strat == "redact":
            expr = F.when(s.isNotNull(), F.lit("[REDACTED]"))
        elif strat == "partial":
            expr = F.when(
                F.length(s) >= 3,
                F.concat(
                    F.substring(s, 1, 1),
                    F.repeat(F.lit("*"), F.length(s) - 2),
                    F.substring(s, -1, 1),
                ),
            ).otherwise(F.when(s.isNotNull(), F.lit("[REDACTED]")))
        else:  # null
            expr = F.lit(None).cast("string")
        out = out.withColumn(c, expr)
    return out


def k_anonymity_report(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """[qi..., group_size, meets_k(0/1)[, l_distinct]] — k-anonymity
    audit over the quasi-identifier combination: one row per
    equivalence class (each distinct QI tuple, NULLs forming their own
    class) with its size and whether it meets the ``k`` threshold;
    with ``sensitive_col`` set, also the class's distinct sensitive
    value count (l-diversity — a k-anonymous class with l=1 still
    leaks the sensitive attribute). The release-gate companion to
    ``mask_columns``: run BEFORE export, mask or generalize the QI
    columns that produce sub-k classes, re-run.

    Flags are 0/1 BIGINT, never boolean (the driver-portability hash
    rule). Scale: one map-side-combinable aggregate by the QI tuple —
    output is bounded by the class count, the full table is scanned
    once; countDistinct adds a partial-agg expand, not a second scan.

    Reference has no privacy surface — north-star governance addition.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    missing = [c for c in qi_cols + ([sensitive_col] if sensitive_col else [])
               if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    aggs = [F.count(F.lit(1)).cast("long").alias("group_size")]
    if sensitive_col:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).cast("long")
            .alias("l_distinct")
        )
    out = df.groupBy(*qi_cols).agg(*aggs)
    return out.withColumn(
        "meets_k",
        (F.col("group_size") >= F.lit(int(k))).cast("long"),
    )


def value_cluster_report(df: DataFrame, col: str) -> DataFrame:
    """[cluster_key, value, n_rows, n_values, canonical] — key-collision
    value clustering (the classic data-cleaning "fingerprint" method):
    distinct raw values that normalize to the same fingerprint key —
    lowercase, every non-[a-z0-9] run a separator, tokens
    deduplicated and sorted — form one cluster; clusters with >= 2
    distinct raw values are reported, one row per raw value, with the
    suggested canonical = the most FREQUENT raw value (ties to the
    lexicographically smallest — the LPA argmax idiom, order-free).
    Singleton keys are omitted: they need no cleaning.

    The ASCII-alphanumeric tokenization is deliberate: it is identical
    under Java regex and RE2 (the cross-engine rule); accented
    characters act as separators rather than silently folding.

    Scale: one (key, value) count with map-side combine, then one
    per-key aggregate (min-struct argmax + sums) joined back on the
    key — two narrow shuffles of the DISTINCT-VALUE table, never the
    raw rows.

    Reference has no interactive-cleaning surface — north-star
    addition modeled on the standard key-collision clustering method.
    """
    key = F.array_join(
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim(F.col(col))), "[^a-z0-9]+"),
                    lambda x: x != F.lit(""),
                )
            )
        ),
        " ",
    )
    counted = (
        df.where(F.col(col).isNotNull())
        .select(key.alias("cluster_key"), F.col(col).alias("value"))
        .where(F.col("cluster_key") != "")
        .groupBy("cluster_key", "value")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    per_key = counted.groupBy("cluster_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.min(
            F.struct(
                (-F.col("n_rows")).alias("nc"), F.col("value").alias("v")
            )
        ).getField("v").alias("canonical"),
    ).where(F.col("n_values") >= 2)
    return counted.join(per_key, "cluster_key").select(
        "cluster_key", "value", "n_rows", "n_values", "canonical"
    )
