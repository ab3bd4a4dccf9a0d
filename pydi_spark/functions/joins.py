"""Join utilities for skewed keys.

``salted_join`` is the classic remedy when ONE join key dominates and
the build side can't broadcast: the probe (big) side appends a random
salt in [0, n), the build side replicates each row n times — the hot
key's rows spread across n tasks instead of one. AQE's skew-join
splitting covers most cases automatically; use this when the skew is in
a non-equi pattern AQE can't split, or AQE is unavailable.

The salt is deterministic per row (hash of the whole row modulo n), so
results are reproducible and retries are safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.blocking.base import distinct_pairs
from pydi_spark.core import plansize


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str] | str,
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with salt-spread hot keys.

    ``small`` is replicated ``num_salts`` times — keep it the smaller
    side. Output columns match a plain ``big.join(small, on, how)``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    salt_src = [F.col(c) for c in big.columns]
    big_salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*salt_src), F.lit(num_salts)).cast("int")
    )
    small_salted = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = big_salted.join(small_salted, keys + ["__salt"], how)
    return out.drop("__salt")


def _bucket_tools(is_ts: bool, bucket_width, duration_sides):
    """The shared bucketize core behind ``range_join`` and
    ``interval_overlap_join`` (r9 self-review dedup): returns
    ``(scalar, bucket)`` where ``scalar`` maps a column to comparable
    units (``unix_micros`` for timestamps, identity for numerics) and
    ``bucket`` maps it to a coarse bucket id.

    ``bucket_width`` is in user units (SECONDS for timestamps, value
    units otherwise); when None it is auto-derived as the median
    POSITIVE interval duration over ``duration_sides`` (a list of
    ``(df, start_col, end_col)``) via one bounded ``approxQuantile``
    driver action. Positive-only is load-bearing: a majority of
    zero-length (point) or inverted intervals would drag the median to
    <= 0, and the ``max(..., 1.0)`` floor then means 1 MICROSECOND for
    timestamps — a 1-hour window would explode into 3.6e9 buckets.
    Zero-length intervals are safe under ANY width (one bucket each);
    the width only needs to fit the positive tail."""
    def scalar(col):
        return F.unix_micros(col) if is_ts else col

    if bucket_width is None:
        dur = None
        for df, s_col, e_col in duration_sides:
            d = df.select(
                (scalar(F.col(e_col)) - scalar(F.col(s_col)))
                .cast("double").alias("d")
            )
            dur = d if dur is None else dur.unionByName(d)
        med = dur.where(F.col("d") > 0).approxQuantile("d", [0.5], 0.01)
        bucket_width_units = max(float(med[0]) if med else 1.0, 1.0)
    else:
        bucket_width_units = float(bucket_width) * (1_000_000 if is_ts else 1)
    width = F.lit(bucket_width_units)

    def bucket(col):
        return F.floor(scalar(col) / width).cast("long")

    return scalar, bucket


def _explode_to_buckets(
    df: DataFrame,
    by_cols: list,
    carry: list,
    prefix: str,
    s_col: str,
    e_col: str,
    scalar,
    bucket,
    start_bucket_col: str | None = None,
) -> DataFrame:
    """Explode an interval table to the coarse buckets each interval
    covers: rows with ``start > end`` are dropped, carried columns are
    renamed ``{prefix}{col}``, and ``__bucket`` enumerates
    ``sequence(bucket(start), bucket(end))``. ``start_bucket_col``
    additionally materializes ``bucket(start)`` (the exactly-once
    emission guard of the overlap join)."""
    cols = [F.col(c) for c in by_cols]
    cols += [F.col(c).alias(f"{prefix}{c}") for c in carry]
    if start_bucket_col is not None:
        cols.append(bucket(F.col(s_col)).alias(start_bucket_col))
    cols.append(
        F.explode(
            F.sequence(bucket(F.col(s_col)), bucket(F.col(e_col)))
        ).alias("__bucket")
    )
    return df.where(scalar(F.col(s_col)) <= scalar(F.col(e_col))).select(*cols)


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    between: tuple[str, str],
    by: str | list[str] | None = None,
    bucket_width=None,
    closed: str = "both",
    how: str = "inner",
    suffix: str = "_right",
) -> DataFrame:
    """Point-in-interval range join: each ``points`` row joins every
    ``intervals`` row whose ``[start, end]`` contains its ``on`` value
    (per optional ``by`` equi-keys).

    Scale design: vanilla Spark plans ``p >= s AND p <= e`` as a
    broadcast-nested-loop (or cartesian) — quadratic and undistributable.
    This instead BUCKETIZES the domain: intervals explode to the coarse
    buckets they cover (``sequence(bucket(start), bucket(end))``), points
    map to exactly one bucket, and the join becomes a shuffled EQUI-join
    on (by…, bucket) with the range predicate as a residual filter. Pick
    ``bucket_width`` near the typical interval length so each interval
    lands in O(1) buckets; by default it is auto-derived as the median
    POSITIVE interval length (``_bucket_tools``, one bounded
    ``approxQuantile`` driver action on the intervals side only). A
    point is in exactly one bucket, so no post-join dedup is needed.
    The probe side is explicitly repartitioned on the bucket key — same
    lesson as the band joins: AQE otherwise serializes the fan-out
    stage behind a narrow scan.

    ``on``/``between`` columns must share a type: timestamps (bucketed on
    ``unix_micros``; ``bucket_width`` in SECONDS) or numerics
    (``bucket_width`` in value units). ``closed``: both|left|right|neither.
    ``how``: inner|left (left keeps pointless rows with null interval
    columns).

    No reference counterpart (PyDI has no range join) — north-star op;
    pattern follows the bucketed interval-join strategy used by
    time-series engines.
    """
    from pyspark.sql.types import TimestampType

    start_col, end_col = between
    if closed not in ("both", "left", "right", "neither"):
        raise ValueError(f"closed must be both|left|right|neither: {closed}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left: {how}")
    by_cols = [by] if isinstance(by, str) else list(by or [])

    is_ts = isinstance(points.schema[on].dataType, TimestampType)
    scalar, bucket = _bucket_tools(
        is_ts, bucket_width, [(intervals, start_col, end_col)]
    )

    carry = [c for c in intervals.columns if c not in by_cols]
    out_names = {
        c: (c + suffix if c in points.columns else c) for c in carry
    }

    iv = _explode_to_buckets(
        intervals, by_cols, carry, "__i_", start_col, end_col,
        scalar, bucket,
    )
    pt = points.withColumn("__bucket", bucket(F.col(on))).repartition(
        plansize.core_width(points.sparkSession), *(by_cols + ["__bucket"])
    )

    p = F.col(on)
    lo, hi = F.col(f"__i_{start_col}"), F.col(f"__i_{end_col}")
    cond = {
        "both": (p >= lo) & (p <= hi),
        "left": (p >= lo) & (p < hi),
        "right": (p > lo) & (p <= hi),
        "neither": (p > lo) & (p < hi),
    }[closed]

    joined = pt.join(iv, by_cols + ["__bucket"], "inner").where(cond)
    out_cols = [
        *[F.col(c) for c in points.columns],
        *[F.col(f"__i_{c}").alias(out_names[c]) for c in carry],
    ]
    if how == "inner":
        return joined.select(*out_cols)
    matched = joined.select(
        *[F.col(c) for c in points.columns],
        *[F.col(f"__i_{c}") for c in carry],
    )
    missing = points.join(
        matched.select(*points.columns).distinct(),
        points.columns,
        "left_anti",
    ).select(
        *[F.col(c) for c in points.columns],
        *[F.lit(None).cast(intervals.schema[c].dataType).alias(f"__i_{c}")
          for c in carry],
    )
    return matched.unionByName(missing).select(*out_cols)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_between: tuple[str, str],
    right_between: tuple[str, str],
    by: str | list[str] | None = None,
    bucket_width=None,
    closed: str = "both",
    min_overlap=None,
    suffix: str = "_right",
) -> DataFrame:
    """Interval x interval OVERLAP join: each ``left`` interval joins
    every ``right`` interval it overlaps (per optional ``by``
    equi-keys) — the sibling of ``range_join`` for two interval tables
    (session-vs-campaign windows, availability-vs-maintenance, span
    conflict detection).

    Scale design: the naive plan (``ls <= re AND rs <= le``) is a
    broadcast-nested-loop / cartesian — quadratic. Both sides explode
    to the coarse buckets they cover, so the join becomes a shuffled
    EQUI-join on (by…, bucket) with the overlap predicate as a
    residual. An overlapping pair shares EVERY bucket between
    ``max(bucket(ls), bucket(rs))`` and the first-ending interval's
    end, so the pair is emitted ONLY in ``bucket ==
    greatest(bucket(ls), bucket(rs))`` — each result surfaces exactly
    once with NO post-join dropDuplicates (which would shuffle the
    full output a second time). The probe (left) side is explicitly
    repartitioned on the bucket key — the band-join AQE lesson. Pick
    ``bucket_width`` near the typical interval length (O(1) buckets
    per interval); by default it is auto-derived as the median
    interval length over BOTH sides (one bounded ``approxQuantile``
    driver action).

    ``closed``: "both" counts touching endpoints (``ls <= re AND rs <=
    le``); "neither" requires strict interior overlap (``ls < re AND
    rs < le`` — also the correct predicate for half-open ``[s, e)``
    intervals). ``min_overlap`` (seconds for timestamps, value units
    for numerics) keeps only pairs with ``least(le, re) -
    greatest(ls, rs) >= min_overlap``. Interval columns must share a
    type across sides: timestamps (bucketed on ``unix_micros``;
    ``bucket_width`` in SECONDS) or numerics. Rows with ``start >
    end`` are dropped on both sides.

    No reference counterpart (PyDI has no interval analytics) —
    north-star op; the bucketized-overlap strategy is the standard
    distributed interval-join pattern.
    """
    from pyspark.sql.types import TimestampType

    ls_col, le_col = left_between
    rs_col, re_col = right_between
    if closed not in ("both", "neither"):
        raise ValueError(f"closed must be both|neither: {closed}")
    by_cols = [by] if isinstance(by, str) else list(by or [])

    l_is_ts = isinstance(left.schema[ls_col].dataType, TimestampType)
    r_is_ts = isinstance(right.schema[rs_col].dataType, TimestampType)
    if l_is_ts != r_is_ts:
        raise ValueError(
            "left_between and right_between must share a type family "
            f"(left timestamp={l_is_ts}, right timestamp={r_is_ts})"
        )
    is_ts = l_is_ts

    scalar, bucket = _bucket_tools(
        is_ts, bucket_width,
        [(left, ls_col, le_col), (right, rs_col, re_col)],
    )

    l_carry = [c for c in left.columns if c not in by_cols]
    r_carry = [c for c in right.columns if c not in by_cols]
    out_names = {
        c: (c + suffix if c in left.columns else c) for c in r_carry
    }

    lv = _explode_to_buckets(
        left, by_cols, l_carry, "__l_", ls_col, le_col, scalar, bucket,
        start_bucket_col="__lsb",
    ).repartition(
        plansize.core_width(left.sparkSession), *(by_cols + ["__bucket"])
    )
    rv = _explode_to_buckets(
        right, by_cols, r_carry, "__r_", rs_col, re_col, scalar, bucket,
        start_bucket_col="__rsb",
    )

    ls, le = F.col(f"__l_{ls_col}"), F.col(f"__l_{le_col}")
    rs, re = F.col(f"__r_{rs_col}"), F.col(f"__r_{re_col}")
    overlap = (
        (ls <= re) & (rs <= le) if closed == "both"
        else (ls < re) & (rs < le)
    )
    once = F.col("__bucket") == F.greatest("__lsb", "__rsb")
    cond = overlap & once
    if min_overlap is not None:
        units = float(min_overlap) * (1_000_000 if is_ts else 1)
        cond = cond & (
            (F.least(scalar(le), scalar(re))
             - F.greatest(scalar(ls), scalar(rs))) >= F.lit(units)
        )

    return (
        lv.join(rv, by_cols + ["__bucket"], "inner")
        .where(cond)
        .select(
            *[F.col(c) for c in by_cols],
            *[F.col(f"__l_{c}").alias(c) for c in l_carry],
            *[F.col(f"__r_{c}").alias(out_names[c]) for c in r_carry],
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | list[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    suffix: str = "_right",
) -> DataFrame:
    """As-of join: each left row picks the nearest right row at-or-before
    (``backward``) / at-or-after (``forward``) its ``on`` value, per
    ``by`` group. Left rows with no eligible right row keep nulls
    (pandas ``merge_asof`` semantics).

    Scale design: NOT a range join (quadratic) — both sides are tagged
    and unioned, then a single window pass carries the last-seen right
    values forward: one shuffle on ``by``, linear scan, no join at all.
    This survives 100 TB where per-key binary-search joins don't
    distribute. A single ``by`` group is one window partition, so a
    pathologically hot key serializes — pre-split such keys by time
    range if needed.

    Determinism: among right rows with equal (``by``, ``on``) the one
    with the greatest remaining-column tuple wins (an explicit
    tiebreak ordering on all carried columns); dedupe the right side
    first when that matters.

    ``tolerance``: a Column/literal in the same units as ``on`` (e.g.
    ``F.expr("INTERVAL 1 HOUR")`` for timestamps); matches farther than
    the tolerance are nulled, the left row survives.
    """
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    by_cols = [by] if isinstance(by, str) else list(by or [])
    carry = [c for c in right.columns if c not in by_cols and c != on]
    out_names = {
        c: (c + suffix if c in left.columns else c) for c in carry + [on]
    }

    lhs = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__r_{c}")
          for c in carry],
        F.lit(None).cast(right.schema[on].dataType).alias("__r_on"),
    )
    rhs = right.select(
        *[
            # by-keys and the time column keep the RIGHT row's values —
            # the window shuffles on `by` and orders on `on` for both
            # sides; everything else is null padding
            F.col(c).cast(left.schema[c].dataType).alias(c)
            if (c in by_cols or c == on)
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__r_{c}") for c in carry],
        F.col(on).alias("__r_on"),
    )
    unioned = lhs.unionByName(rhs)

    order = [
        F.col(on).asc() if direction == "backward" else F.col(on).desc(),
        F.col("__side").asc(),
        # deterministic tie-break among equal-(by, on) right rows: the
        # greatest carried tuple is the last seen
        *[F.col(f"__r_{c}").asc_nulls_first() for c in carry],
    ]
    w = (
        Window.partitionBy(*[F.col(c) for c in by_cols])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.select(
        *[F.col(c) for c in left.columns],
        F.col("__side"),
        F.last("__r_on", ignorenulls=True).over(w).alias("__m_on"),
        *[F.last(f"__r_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
          for c in carry],
    ).where(F.col("__side") == 1)

    within = F.lit(True)
    if tolerance is not None:
        from pyspark.sql import Column

        tol = tolerance if isinstance(tolerance, Column) else F.lit(tolerance)
        gap = (
            F.col(on) - F.col("__m_on")
            if direction == "backward"
            else F.col("__m_on") - F.col(on)
        )
        within = F.col("__m_on").isNotNull() & (gap <= tol)

    return matched.select(
        *[F.col(c) for c in left.columns],
        F.when(within, F.col("__m_on")).alias(out_names[on]),
        *[F.when(within, F.col(f"__m_{c}")).alias(out_names[c]) for c in carry],
    )


def grid_distance_join(
    left: DataFrame,
    right: DataFrame | None,
    x: str,
    y: str,
    radius,
    id_column: str = "id",
    cell_size=None,
) -> DataFrame:
    """All pairs within euclidean ``radius``: ``[id1, id2, dist2]``
    (``dist2`` = squared distance — exact for integer coordinates; take
    the sqrt caller-side if needed).

    Scale design: a naive distance join is a cartesian product with a
    non-equi predicate — undistributable. This snaps each point to a
    square grid cell of side ``cell_size`` (default = ``radius``), so
    any pair within ``radius`` sits in the same or an adjacent cell.
    The LEFT side maps to exactly one cell; the RIGHT side replicates to
    its 3x3 cell neighbourhood (9x fan-out, constant); the join is then
    a shuffled EQUI-join on the cell id with the exact distance check as
    a residual filter. Each qualifying pair meets in exactly ONE cell
    (the left point's), so no post-join dedup is needed. The probe side
    is explicitly repartitioned on the cell key before the fan-out join
    (NOTES.md width lesson). Dense spots (city centers) are plain key
    skew on the cell id — AQE skew-split or ``salted_join`` applies.

    ``right=None`` = self-join: pairs oriented ``id1 < id2`` by the id
    column's native ordering, self-pairs excluded.

    No reference counterpart (PyDI has no spatial join) — north-star op;
    the grid pattern is the standard distributed spatial-join strategy
    (e.g. Sedona's partitioned KNN/range joins).
    """
    cell = float(cell_size if cell_size is not None else radius)
    if cell <= 0:
        raise ValueError(f"cell_size must be positive: {cell}")
    if cell < float(radius):
        # a pair within `radius` could then span >1 cell gap and the
        # 3x3 neighbourhood would MISS it — correctness, not tuning
        raise ValueError(
            f"cell_size ({cell}) must be >= radius ({radius})"
        )
    r2 = radius * radius
    self_join = right is None
    if self_join:
        right = left

    def cellify(col):
        return F.floor(col / F.lit(cell)).cast("long")

    l = left.select(
        F.col(id_column).alias("id1"),
        F.col(x).alias("__x1"),
        F.col(y).alias("__y1"),
        cellify(F.col(x)).alias("__cx"),
        cellify(F.col(y)).alias("__cy"),
    ).repartition(plansize.core_width(left.sparkSession), "__cx", "__cy")
    off = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    r = (
        right.select(
            F.col(id_column).alias("id2"),
            F.col(x).alias("__x2"),
            F.col(y).alias("__y2"),
            cellify(F.col(x)).alias("__rcx"),
            cellify(F.col(y)).alias("__rcy"),
        )
        .withColumn("__dx", off)
        .withColumn("__dy", off)
        .select(
            "id2", "__x2", "__y2",
            (F.col("__rcx") + F.col("__dx")).alias("__cx"),
            (F.col("__rcy") + F.col("__dy")).alias("__cy"),
        )
    )
    dx = F.col("__x1") - F.col("__x2")
    dy = F.col("__y1") - F.col("__y2")
    out = (
        l.join(r, ["__cx", "__cy"])
        .where(dx * dx + dy * dy <= F.lit(r2))
        .select("id1", "id2", (dx * dx + dy * dy).alias("dist2"))
    )
    if self_join:
        out = out.where(F.col("id1") < F.col("id2"))
    return out


def edit_distance_join(
    left: DataFrame,
    right: DataFrame | None,
    column: str,
    max_distance: int = 1,
    id_column: str = "id",
    q: int = 2,
    max_gram_frequency: int | None = None,
) -> DataFrame:
    """All pairs whose ``column`` values are within Levenshtein distance
    ``max_distance``: ``[id1, id2, distance]``.

    Scale design (ED-Join family, Xiao et al. 2008): a naive similarity
    join is a cartesian product with a string-distance predicate —
    undistributable. This prunes with positional ``q``-gram filtering:
    an edit operation destroys at most ``q`` of a string's distinct
    q-grams, so for ed(a,b) <= k at most ``k*q`` distinct grams of `a`
    are absent from `b`. Each record therefore only probes with its
    ``k*q + 1`` globally RAREST grams (prefix filtering under a total
    order by ascending corpus frequency — rare grams join small
    posting lists): any true pair must collide on at least one prefix
    gram of either side. Candidates are an EQUI-join of prefix grams
    against the full distinct-gram table, deduped ids-only, then
    verified with the codegen'd ``levenshtein`` after a length filter
    (|len(a)-len(b)| <= k). Pairs where BOTH strings are shorter than
    ``k*q + q`` can share zero grams yet still match ("ab"/"cd" at
    k=2), so the short-string subset falls back to a within-subset
    pair scan — bounded by the short-string count, and empty for any
    corpus of real names/titles.

    The candidate table is explicitly repartitioned on (id1, id2)
    before dedup and verification (NOTES.md width lesson). ``right=None``
    = self-join: pairs oriented ``id1 < id2`` in the id column's native
    ordering, self-pairs excluded. Null/short-than-``q`` strings never
    error; they simply only pair via the fallback path.

    ``max_gram_frequency`` is the skew cap for tiny-vocabulary /
    digit-heavy corpora (the ``Customer#000000042`` case: ~150 distinct
    grams over 150k rows makes every posting list huge and the
    candidate join quadratic — SCALE.md names this as the
    TokenBlocker-``max_token_frequency`` analogue). Grams whose GLOBAL
    frequency exceeds the cap are deterministically removed from the
    gram universe before prefix ranking, so neither side probes or
    publishes them; records whose surviving grams were all hot can no
    longer meet in the main path (a documented recall trade, exactly
    TokenBlocker's). The drop is a pure function of the corpus — the
    capped join replays exactly in SQL (join_edit_distance_capped).
    The short-string fallback is unaffected.

    No reference counterpart (PyDI compares pre-blocked pairs via
    comparators, it has no standalone similarity join) — north-star op.
    """
    k = int(max_distance)
    if k < 0:
        raise ValueError(f"max_distance must be >= 0: {k}")
    if q < 1:
        raise ValueError(f"q must be >= 1: {q}")
    self_join = right is None
    if self_join:
        right = left
    short_len = k * q + q - 1  # bound max(la,lb) <= this => 0-gram pairs

    def base(df, side):
        return df.where(F.col(column).isNotNull()).select(
            F.col(id_column).alias(f"id{side}"),
            F.col(column).alias(f"__s{side}"),
            F.length(column).alias(f"__l{side}"),
        )

    lbase, rbase = base(left, 1), base(right, 2)

    # positional filtering (r12, uncapped path only): a surviving gram
    # occurrence keeps its text and shifts by at most k positions
    # (ED-Join, Xiao et al. 2008), so the candidate join can key on
    # (gram, position) with the prefix side exploded to its 2k+1
    # admissible offsets — on tiny-vocabulary corpora (hex / digit-heavy
    # strings: ~300 distinct 2-grams over 15k values) the position
    # dimension shrinks every posting list ~|s|-fold and the quadratic
    # emission with it (measured: canonicalize pair phase 17.7 -> 3.2 s,
    # join_edit_distance 13.7 -> 4.3 s at sf0.1; output provably
    # unchanged — candidates stay a superset of all true pairs and the
    # levenshtein verify is exact). The CAPPED path keeps the r6 set
    # semantics untouched: its pruning is deliberately lossy and
    # join_edit_distance_capped's oracle REPLAYS it gram-for-gram, so
    # positional keys there would change a declared output.
    positional = max_gram_frequency is None

    def grams(b, side):
        g = b.where(F.col(f"__l{side}") >= q).select(
            f"id{side}",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, __l{side} - {q} + 1), "
                    f"p -> substring(__s{side}, p, {q}))"
                )
            ).alias("__pos", "__gram"),
        )
        if positional:
            # positional occurrences are distinct by construction
            return g
        # r6 set semantics: position dropped, one row per distinct gram
        return g.drop("__pos").dropDuplicates([f"id{side}", "__gram"])

    lg = grams(lbase, 1)
    rg = lg.withColumnRenamed("id1", "id2") if self_join else grams(rbase, 2)

    # global gram frequencies over both sides define the prefix order
    freq = (
        lg.select("__gram") if self_join
        else lg.select("__gram").unionAll(rg.select("__gram"))
    ).groupBy("__gram").agg(F.count(F.lit(1)).alias("__freq"))
    if max_gram_frequency is not None:
        if int(max_gram_frequency) < 1:
            raise ValueError(
                f"max_gram_frequency must be >= 1: {max_gram_frequency}"
            )
        # dropping a gram from `freq` removes it from BOTH sides of the
        # candidate join: lpref inner-joins freq below, and `main` is an
        # equi-join keyed on lpref's surviving grams, so posting-list
        # entries for hot grams can never match.
        freq = freq.where(F.col("__freq") <= int(max_gram_frequency))

    prefix_order = [F.asc("__freq"), F.asc("__gram")] + (
        [F.asc("__pos")] if positional else []
    )
    prefix_w = Window.partitionBy("id1").orderBy(*prefix_order)
    lpref = (
        lg.join(freq, "__gram")
        .withColumn("__rk", F.row_number().over(prefix_w))
        # k*q + 1 prefix entries: k edits destroy at most k*q gram
        # occurrences (set rows are a coarsening), so one survives
        .where(F.col("__rk") <= k * q + 1)
        .select("id1", "__gram", *(["__pos"] if positional else []))
    )
    if positional:
        # probe each prefix occurrence at its 2k+1 admissible positions;
        # the equi-join key (gram, position) carries the |Δpos| <= k
        # constraint into the shuffle instead of post-filtering emission
        lprobe = lpref.select(
            "id1",
            "__gram",
            F.explode(
                F.sequence(
                    F.col("__pos") - F.lit(k), F.col("__pos") + F.lit(k)
                )
            ).alias("__pos"),
        )
        main = lprobe.join(rg, ["__gram", "__pos"]).select("id1", "id2")
    else:
        main = lpref.join(rg, "__gram").select("id1", "id2")
    if self_join:
        # probe prefixes vs ALL grams: (a,b) surfaces as (a,b) or (b,a);
        # canonicalize before dedup
        main = main.where(F.col("id1") != F.col("id2")).select(
            F.least("id1", "id2").alias("id1"),
            F.greatest("id1", "id2").alias("id2"),
        )

    lshort = lbase.where(F.col("__l1") <= short_len).select("id1")
    rshort = (
        lshort.withColumnRenamed("id1", "id2") if self_join
        else rbase.where(F.col("__l2") <= short_len).select("id2")
    )
    fallback = lshort.crossJoin(rshort)
    if self_join:
        fallback = fallback.where(F.col("id1") < F.col("id2"))

    cand = distinct_pairs(main.unionAll(fallback))
    verified = (
        cand.join(
            lbase.withColumnRenamed("id1", "id2")
            .withColumnRenamed("__s1", "__s2")
            .withColumnRenamed("__l1", "__l2") if self_join else rbase,
            "id2",
        )
        .join(lbase, "id1")
        .where(F.abs(F.col("__l1") - F.col("__l2")) <= k)
        # bounded verify (r12): levenshtein with a threshold runs the
        # banded early-exit DP (O(k*n) per pair, -1 when the distance
        # exceeds k) instead of the full O(n*m) matrix — the verify
        # stage dominates this join on hot-gram corpora. Pairs within k
        # get their exact distance, so the output is unchanged.
        .withColumn("distance", F.levenshtein("__s1", "__s2", k))
        .where((F.col("distance") >= 0) & (F.col("distance") <= k))
    )
    return verified.select("id1", "id2", "distance")
