"""Deterministic hash-based sampling for training-data pipelines.

``df.sample()`` is partition- and seed-layout dependent: re-running on a
repartitioned input selects DIFFERENT rows, which breaks reproducible
corpus builds and incremental re-runs. Hash sampling keys the decision
to the ROW: ``md5(key) -> [0, 1)`` fraction compared to the rate, so the
same row is always in or always out, regardless of partitioning, engine,
cluster size, or which increment it arrives in. md5 (not xxhash) keeps
the decision portable across engines — the same property the MinHash /
SimHash paths rely on (NOTES.md invariant 2).

Stratified rates let a pipeline up/down-weight sources ("domain
mixing"): pass ``rates={stratum: rate}`` + a default.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df

_HASH_SPACE = float(1 << 32)


def hash_fraction(key: Column) -> Column:
    """Uniform [0, 1) fraction from the first 8 md5 hex chars of key."""
    h = F.substring(F.md5(key.cast("string")), 1, 8)
    return F.conv(h, 16, 10).cast("bigint") / F.lit(_HASH_SPACE)


def temperature_mix(
    df: DataFrame,
    target_fraction: float,
    alpha: float = 0.5,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """[doc_id, source, n_source, rate, selected] — temperature-scaled
    source mixing (the T5/Pile-style balancing step): each source's
    keep-quota is proportional to ``n_source ** alpha``, scaled so the
    expected kept total is ``target_fraction`` of the corpus; rows then
    keep/drop by the deterministic hash fraction, so re-runs and
    incremental builds select the same rows.

    ``alpha < 1`` up-weights small sources relative to proportional
    sampling (alpha=1 is proportional, alpha=0 is uniform-per-source).
    The default 0.5 computes weights with sqrt — IEEE correctly rounded,
    so the whole rate computation is engine-portable and
    oracle-checkable; other alphas go through pow(), whose last ulp may
    differ across libm implementations (property-tested instead). The
    cross-source weight sum is a sorted left fold (the fusion
    sorted-sum invariant) for the same reason.

    Scale: ONE map-side-combinable per-source count, a one-row totals
    frame, per-source rates broadcast back, and a narrow per-row keep
    expression — the corpus itself never shuffles.
    """
    w_expr = (
        F.sqrt(F.col("n_source").cast("double"))
        if float(alpha) == 0.5
        else F.pow(F.col("n_source").cast("double"), F.lit(float(alpha)))
    )
    counts = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.count("*").alias("n_source"))
        .withColumn("w", w_expr)
    )
    totals = counts.agg(
        F.sum("n_source").alias("n_total"),  # bigint: exact
        F.aggregate(
            F.array_sort(F.collect_list("w")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("sw"),
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_source",
        F.least(
            F.lit(1.0),
            (F.lit(float(target_fraction)) * F.col("n_total").cast("double"))
            * F.col("w")
            / F.col("sw")
            / F.col("n_source").cast("double"),
        ).alias("rate"),
    )
    return (
        df.select(
            F.col(id_col).alias("doc_id"), F.col(source_col).alias("source")
        )
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "n_source",
            "rate",
            (hash_fraction(F.col("doc_id")) < F.col("rate")).alias("selected"),
        )
    )


def quality_weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    target_fraction: float | None = None,
) -> DataFrame:
    """[...input-cols, weight_ppm, rate, selected]: deterministic
    importance sampling by a per-row quality weight in [0, 1] (the
    FineWeb/CCNet-style "sample good documents preferentially" step).
    A row is kept iff ``hash_fraction(key) < rate``, so the decision is
    row-keyed: reproducible across partitioning, engines, and
    incremental re-runs, like the other samplers here.

    ``target_fraction=None``: rate = the clamped weight itself.
    Otherwise rates are scaled so the EXPECTED kept count is
    ``target_fraction * n`` (clamped at 1.0 per row).

    Cross-engine determinism: weights are quantized to ppm bigints
    (floor(1e6 * w) — floor of a bit-identical double is exact) so the
    corpus-wide weight sum is an EXACT integer aggregate — summing raw
    doubles would make the scale factor partition-order dependent. The
    final rate is one left-to-right double expression over those
    integers.

    Scale: one map-side-combinable bigint aggregate, a one-row
    broadcast, and a narrow per-row expression; the corpus never
    shuffles.
    """
    w = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), F.col(weight_col).cast("double"))
    )
    out = df.withColumn("weight_ppm", F.floor(F.lit(1e6) * w).cast("bigint"))
    if target_fraction is None:
        rate = F.col("weight_ppm").cast("double") / F.lit(1e6)
    else:
        totals = out.agg(
            F.count("*").alias("__n"),
            F.sum("weight_ppm").alias("__sw_ppm"),
        )
        out = out.crossJoin(F.broadcast(totals))
        rate = F.least(
            F.lit(1.0),
            F.lit(float(target_fraction))
            * F.col("__n").cast("double")
            * F.col("weight_ppm").cast("double")
            / F.col("__sw_ppm").cast("double"),
        )
    return out.withColumn("rate", rate).withColumn(
        "selected", hash_fraction(F.col(key_col)) < F.col("rate")
    ).drop("__n", "__sw_ppm")


def deterministic_sample(
    df: DataFrame,
    rate: float,
    key_col: str,
    stratum_col: str | None = None,
    rates: dict[str, float] | None = None,
) -> DataFrame:
    """Keep each row iff hash_fraction(key) < its rate. ``rates`` maps
    ``stratum_col`` values to per-stratum rates (missing strata fall
    back to ``rate``)."""
    frac = hash_fraction(F.col(key_col))
    if rates:
        if not stratum_col:
            raise ValueError("rates requires stratum_col")
        r: Column = F.lit(float(rate))
        for value, value_rate in sorted(rates.items()):
            r = F.when(
                F.col(stratum_col) == F.lit(value), F.lit(float(value_rate))
            ).otherwise(r)
        return df.where(frac < r)
    return df.where(frac < F.lit(float(rate)))


def dsir_scores(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Hashed n-gram importance scoring in the spirit of DSIR (Xie et
    al. 2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much its hashed-unigram
    bucket distribution looks like a target subcorpus versus the rest
    [doc_id, n_tokens, target_mass, source_mass, ratio_micro].
    No reference counterpart — north-star LLM-data op.

    ``is_target`` marks the target rows (e.g. ``F.col("lang") == "en"``
    for "select documents that look like English"). Token buckets are
    ``md5 60-bit % n_buckets`` — portable across engines. DSIR proper
    weights by the probability ratio under two hashed-ngram bag models;
    here the per-doc masses are EXACT integer aggregates
    (``sum(doc_count_b * T[b])`` / ``sum(doc_count_b * S[b])``) and the
    published ratio is

        ratio = (target_mass / T_total) / (source_mass / S_total)

    computed as three IEEE divisions of integer-valued doubles —
    bit-reproducible cross-engine — then floored to a micro-int.
    Compose with ``quality_weighted_sample`` (weight_col=ratio) for the
    actual resampling step.

    Scale design: bucket count tables are ``n_buckets`` rows — a
    broadcast join against the exploded corpus, so scoring is map-side;
    the only shuffles are the two-level token-bucket aggregate and the
    final per-doc aggregate. Integer masses bound: doc_count * T[b] <=
    n_tokens_doc * corpus_tokens, safely inside int64 for petabyte
    corpora scored per-shard (document the shard bound if corpus token
    counts approach 2^40)."""
    from pydi_spark.llmdata.dedup import _token_hash60
    from pydi_spark.functions.tokenize import word_tokens

    bucket = F.pmod(
        _token_hash60(F.col("token")), F.lit(int(n_buckets))
    ).alias("b")
    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        is_target.alias("__t"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    ).select("doc_id", "__t", bucket)
    tables = toks.groupBy("b").agg(
        F.sum(F.col("__t").cast("bigint")).alias("T"),
        F.sum((~F.col("__t")).cast("bigint")).alias("S"),
    )
    totals = tables.agg(
        F.sum("T").alias("T_tot"), F.sum("S").alias("S_tot")
    )
    scored = (
        toks.where(~F.col("__t"))
        .join(F.broadcast(tables), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("T").alias("target_mass"),
            F.sum("S").alias("source_mass"),
        )
        .crossJoin(F.broadcast(totals))
    )
    ratio = (
        F.col("target_mass").cast("double") / F.col("T_tot").cast("double")
    ) / (
        F.col("source_mass").cast("double") / F.col("S_tot").cast("double")
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "target_mass",
        "source_mass",
        F.floor(ratio * F.lit(1000000.0)).cast("bigint").alias("ratio_micro"),
    )


def exact_k_sample(
    df: DataFrame,
    k: int,
    key_col: str,
    stratum_col: str | None = None,
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by md5
    order of the key — deterministic, partition-independent, and
    SQL-replayable (``df.sample``/``RAND`` are neither). Adds
    ``sample_rank`` (1..k within the stratum). The fixed-width lowercase
    hex prefix orders identically to the uniform fraction it encodes,
    so no float ever enters the decision.

    Scale shape: with a stratum, ONE exchange by stratum key and a
    rank window — per-stratum state is the stratum itself, so this is
    for k << stratum (sampling, not pagination); skewed strata are
    bounded by the corpus's own source skew. Without a stratum, a bare
    global window would funnel the corpus through one partition —
    instead the global case is sort+limit (per-partition top-k heaps,
    TakeOrderedAndProject) with the rank window over only the k
    survivors (the BM25 top-k lesson, NOTES.md)."""
    frac = F.substring(F.md5(F.col(key_col).cast("string")), 1, 12)
    if stratum_col is None:
        top = df.orderBy(frac.asc(), F.col(key_col).asc()).limit(int(k))
        w = Window.orderBy(frac.asc(), F.col(key_col).asc())
        return top.withColumn("sample_rank", F.row_number().over(w).cast("int"))
    w = Window.partitionBy(stratum_col).orderBy(frac.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .where(F.col("sample_rank") <= int(k))
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    train: float = 0.8,
    valid: float = 0.1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/valid/test assignment that near-duplicate clusters never
    straddle: connected components over the pair graph give each
    document a cluster id; the md5-fraction of the CLUSTER id (not the
    document id) picks the split, so every member of a duplicate
    cluster lands on the same side — the split that actually prevents
    eval leakage, where a per-document split does not. Output:
    [id, cluster_id, split] with split in {train, valid, test}.

    Scale shape: the pair graph is ids-only; CC auto-routes
    hybrid/distributed; the corpus is touched by one left join on id.
    The fraction decision is the established md5 construction —
    deterministic, partition-independent, SQL-replayable."""
    from pydi_spark.clustering.connected_components import connected_components

    assign = connected_components(pairs.select("id1", "id2"))
    out = df.select(F.col(id_col).cast("string").alias("id")).join(
        assign.withColumnRenamed("record_id", "id"), "id", "left"
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col("id"))
    frac = hash_fraction(cluster)
    t, v = float(train), float(train) + float(valid)
    return out.select(
        "id",
        cluster.alias("cluster_id"),
        F.when(frac < F.lit(t), F.lit("train"))
        .when(frac < F.lit(v), F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def contrastive_pairs(
    pos_pairs: DataFrame,
    corpus: DataFrame,
    k_negatives: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Training examples for a retriever/matcher: every positive pair
    (label 1) plus ``k_negatives`` deterministic pseudo-random
    negatives per anchor (label 0): the corpus is ranked ONCE by md5 of
    its id (distributed global rank — one narrow shuffle, never a bare
    global window), and negative j for anchor a is the id at rank
    ``h60(a:j) mod n``. Output: [anchor, partner, label, neg_idx].

    Determinism: assignment depends only on ids, so it is stable across
    runs/partitionings and SQL-replayable. A sampled partner can
    occasionally be a true positive (probability ~k/n) — the standard
    in-batch-negative noise, accepted; a partner equal to the anchor
    itself is dropped."""
    from pydi_spark.functions.ranks import global_row_number
    from pydi_spark.llmdata.dedup import _token_hash60

    pos_only = pos_pairs.select(
        F.col("id1").alias("anchor"),
        F.col("id2").alias("partner"),
        F.lit(1).alias("label"),
        F.lit(0).alias("neg_idx"),
    )
    if int(k_negatives) <= 0:
        return pos_only
    ids = corpus.select(F.col(id_col).cast("string").alias("pid")).withColumn(
        "h", F.md5(F.col("pid"))
    )
    ranked, n = global_row_number(ids, ["h", "pid"], out_col="rnk",
                                  return_count=True)
    ranked = ranked.select("pid", "rnk")
    anchors = pos_pairs.select(F.col("id1").alias("anchor")).distinct()
    negs = None
    for j in range(1, int(k_negatives) + 1):
        target = (
            F.pmod(
                _token_hash60(F.concat_ws(":", F.col("anchor"), F.lit(str(j)))),
                F.lit(int(n)),
            )
            + F.lit(1)
        ).alias("rnk")
        nj = anchors.select("anchor", target, F.lit(j).alias("neg_idx"))
        negs = nj if negs is None else negs.unionByName(nj)
    negatives = (
        negs.join(ranked, "rnk")
        .where(F.col("pid") != F.col("anchor"))
        .select(
            "anchor",
            F.col("pid").alias("partner"),
            F.lit(0).alias("label"),
            "neg_idx",
        )
    )
    return pos_only.unionByName(negatives)


def plan_data_mixture(
    df: DataFrame,
    weights_ppm: dict[str, int],
    budget: int,
    source_col: str = "source",
    count_col: str = "n_chars",
) -> DataFrame:
    """[source, available, weight_ppm, quota, epochs_milli] — the data
    RECIPE table: given target mixture weights (ppm) and a total token
    budget, how much each source must contribute (``quota = budget *
    w div 1e6``) and how many passes over it that takes
    (``epochs_milli = quota*1000 div available``; 1000 = exactly one
    epoch, 2500 = repeat 2.5x, 0 for an unlisted/empty source). The
    planning half of temperature_mix/epoch_expand — all-integer
    arithmetic, ONE map-side-combined aggregate over the corpus.

    ``count_col`` is whatever budget unit the recipe is written in
    (token counts from textstats.token_counts, chars, bytes).
    """
    if budget <= 0:
        raise ValueError(f"budget must be > 0: {budget}")
    if not weights_ppm:
        raise ValueError("weights_ppm must be non-empty")
    spark = df.sparkSession
    avail = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(F.col(count_col).cast("long")).alias("available")
    )
    # a recipe source absent from the corpus must still appear (with
    # available=0) — an unsatisfiable quota is exactly what the caller
    # needs to SEE, not silently lose
    recipe = rows_to_df(
        spark,
        [(s,) for s in sorted(weights_ppm)], "source string"
    )
    avail = avail.join(F.broadcast(recipe), "source", "full_outer").select(
        "source", F.coalesce("available", F.lit(0)).alias("available")
    )
    wmap = F.create_map(
        *[
            x
            for s, w in sorted(weights_ppm.items())
            for x in (F.lit(s), F.lit(int(w)))
        ]
    )
    return avail.select(
        "source",
        "available",
        F.coalesce(wmap[F.col("source")], F.lit(0)).alias("weight_ppm"),
    ).select(
        "source",
        "available",
        "weight_ppm",
        F.expr(f"CAST({int(budget)} AS BIGINT) * weight_ppm div 1000000")
        .alias("quota"),
        F.when(
            F.col("available") > 0,
            F.expr("quota * CAST(1000 AS BIGINT) div available"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("epochs_milli"),
    )


def epoch_expand(
    df: DataFrame,
    epochs_milli: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a mixture plan: repeat each source's documents
    ``epochs_milli/1000`` times — ``epochs_milli div 1000`` full copies
    (epoch = 1..full) plus one fractional epoch where a document
    survives iff its md5 fraction < the fractional part (the
    deterministic per-row keep rule temperature_mix uses, so reruns and
    the SQL oracle reproduce the exact row set). Sources missing from
    the plan contribute nothing; epochs_milli=1000 is an identity pass
    with epoch=1.

    Scale: the explode multiplies rows by at most ceil(max epochs) —
    the up-sampling itself, not overhead; no shuffle (map-side explode,
    the keep decision is row-local).
    """
    if any(v < 0 for v in epochs_milli.values()):
        raise ValueError(f"epochs_milli must be >= 0: {epochs_milli}")
    emap = F.create_map(
        *[
            x
            for s, e in sorted(epochs_milli.items())
            for x in (F.lit(s), F.lit(int(e)))
        ]
    )
    base = df.withColumn(
        "__em", F.coalesce(emap[F.col(source_col)], F.lit(0))
    )
    full = base.where(F.expr("__em div 1000") >= 1).select(
        *df.columns,
        F.explode(F.expr("sequence(1, __em div 1000)")).alias("epoch"),
    )
    frac = (
        base.where(F.expr("__em % 1000") > 0)
        .where(
            hash_fraction(F.col(id_col))
            < F.expr("(__em % 1000)").cast("double") / F.lit(1000.0)
        )
        .select(
            *df.columns,
            (F.expr("__em div 1000") + 1).cast("int").alias("epoch"),
        )
    )
    return full.unionAll(frac)


def pps_systematic_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """[input columns..., n_hits] — deterministic SYSTEMATIC
    probability-proportional-to-size sample: lay every row on the
    cumulative-weight line in md5(id) order and keep the rows whose
    weight span crosses one of the k equally-spaced selection points
    (offset 0 — deterministic, where textbook PPS draws a random
    offset). A row's inclusion probability is min(1, k*w/T), the PPS
    design the quality-weighted corpus samplers approximate; unlike
    ``quality_weighted_sample``'s per-row independent keeps, the
    systematic walk returns a FIXED total of k hits, so budget-exact
    weighted corpus draws need no rejection loop.

    ``n_hits`` = how many selection points landed in the row's span
    (>= 2 means the row is HEAVY: w > T/k — the caller decides whether
    to repeat it or cap it; the output has <= k rows and
    sum(n_hits) == k exactly). Exact-arithmetic contract: weights are
    POSITIVE integral micros (enforced; fractional dtypes raise like
    global_running_sum), hits = floor(c*k/T) - floor((c-w)*k/T) with
    non-negative decimal(38,0) products only — floor == truncate on
    both engines, and the md5 walk order is partition-independent, so
    the selected set is a pure function of (ids, weights, k).

    Scale shape: one eager validation aggregate over the input (min
    weight + distinct-id count, a single map-side-combinable pass that
    enforces both preconditions), then one distributed running sum
    over the md5 order (functions/ranks.py — never a single-partition
    window) + one broadcast one-row total + one filter. Nothing
    quadratic; the output is sample-sized.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    dtype = df.schema[weight_col].dataType.typeName()
    if dtype not in ("byte", "short", "integer", "long"):
        raise TypeError(
            f"pps_systematic_sample carries the cumulative-weight line "
            f"in exact long arithmetic; weight_col {weight_col!r} is "
            f"{dtype}, not integral. Quantize to micros first."
        )
    from pydi_spark.functions.ranks import global_running_sum

    base = df.where(
        F.col(id_col).isNotNull() & F.col(weight_col).isNotNull()
    ).withColumn("__h", F.md5(F.col(id_col).cast("string"))).localCheckpoint(
        eager=True
    )  # guard and walk must see the same rows (the recompute hazard)
    # BOTH preconditions ride ONE validation aggregate (min weight +
    # distinct-id count in a single pass — ADVICE r10 folded the two
    # eager probes); the detailed example-row probes below only run on
    # the failure paths
    stats = base.agg(
        F.min(weight_col).alias("__minw"),
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct(F.col(id_col)).alias("__nid"),
    ).collect()[0]
    if stats["__n"] and stats["__minw"] <= 0:
        bad = base.where(F.col(weight_col) <= 0).limit(1).collect()
        raise ValueError(
            f"pps_systematic_sample: non-positive weight "
            f"{bad[0][weight_col]} for id {bad[0][id_col]!r} — weights "
            "must be positive integers (a zero-weight row can never be "
            "hit; silence would mask an upstream scoring bug)"
        )
    # duplicate ids make the walk order (and therefore the selected
    # rows) shuffle-order dependent — the (__h, id) tie-break cannot
    # separate them, so refuse loudly (r10 self-review): PPS over an
    # id appearing twice is ill-defined, and an upstream join fan-out
    # is the usual cause
    if stats["__nid"] != stats["__n"]:
        dup = (
            base.groupBy(id_col).agg(F.count(F.lit(1)).alias("__c"))
            .where(F.col("__c") > 1).limit(1).collect()
        )
        raise ValueError(
            f"pps_systematic_sample: id {dup[0][id_col]!r} appears "
            f"{dup[0]['__c']} times — ids must be unique (the md5 walk "
            "order cannot break exact-id ties deterministically); "
            "aggregate weights per id first"
        )
    cum = global_running_sum(
        base, ["__h", id_col], weight_col, "__c"
    )
    total = cum.agg(F.max("__c").alias("__t"))
    hits = F.expr(
        f"CAST(CAST(__c AS DECIMAL(38,0)) * {int(k)} div __t AS BIGINT) - "
        f"CAST(CAST(__c - {weight_col} AS DECIMAL(38,0)) * {int(k)} "
        f"div __t AS BIGINT)"
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn("n_hits", hits)
        .where(F.col("n_hits") >= 1)
        .drop("__h", "__c", "__t")
    )


def proportional_stratified_sample(
    df: DataFrame,
    total_k: int,
    key_col: str,
    stratum_col: str,
) -> DataFrame:
    """[input columns..., quota, sample_rank] — PROPORTIONAL stratified
    sample: split one total budget of ``total_k`` rows across the
    strata by exact largest-remainder (Hamilton) apportionment, then
    pick each stratum's quota by md5 order of the key (the
    ``exact_k_sample`` rule — float-free, partition-independent,
    SQL-replayable). Where ``exact_k_sample(stratum_col=...)`` takes a
    FIXED k per stratum, this takes the corpus-level budget a training
    mix is actually specified in ("500k docs, language balance as-is")
    and returns exactly ``total_k`` rows with every stratum's share
    within 1 of ``total_k * n_s / N``.

    Apportionment is all-integer: ``floor_s = K*n_s div N`` in
    decimal(38,0) (K*n_s can pass int64 at corpus scale), remainder
    ``K*n_s - floor_s*N`` (always < N, so bigint-safe), and the
    ``K - sum(floor_s)`` leftover units go to the strata with the
    largest remainders, ties broken by stratum value ascending — a
    deterministic quota vector any engine reproduces from (counts, K)
    alone. Refuses ``total_k > N`` loudly (a "sample" larger than the
    corpus is an upstream budget bug, not a request for everything);
    rows with a NULL key or NULL stratum are excluded like
    ``pps_systematic_sample`` excludes NULL ids. Duplicate keys within
    a stratum share an md5 prefix, leaving the rank tie broken only by
    the equal key itself — unique keys are the caller's contract, as
    in ``exact_k_sample``.

    Scale shape: one map-side-combined count aggregate over the corpus
    + one scalar validation collect (N, #strata); the apportionment
    window runs single-partition over #strata rows BY DESIGN (strata
    are a mixing dimension — languages, sources, buckets — bounded in
    the millions, not corpus-sized); quotas broadcast back; selection
    is one exchange by stratum + a rank window, k << stratum per the
    exact_k_sample note. Nothing quadratic; output is exactly
    ``total_k`` rows.
    """
    if total_k < 1:
        raise ValueError(f"total_k must be >= 1: {total_k}")
    K = int(total_k)
    base = df.where(
        F.col(key_col).isNotNull() & F.col(stratum_col).isNotNull()
    )
    counts = base.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    tot = counts.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("__N"),
        F.count(F.lit(1)).alias("__S"),
    ).collect()[0]
    n_total = int(tot["__N"])
    if K > n_total:
        raise ValueError(
            f"proportional_stratified_sample: total_k={K} exceeds the corpus "
            f"({n_total} rows with non-null {key_col!r}/{stratum_col!r}) "
            "— a quota above a stratum's size is unfillable; fix the "
            "budget upstream"
        )
    # exact Hamilton apportionment over the (tiny) per-stratum counts:
    # floor share in decimal(38,0), remainder < N is bigint-safe
    alloc = counts.select(
        stratum_col,
        "__n",
        F.expr(
            f"CAST(CAST({K} AS DECIMAL(38,0)) * __n div {n_total} AS BIGINT)"
        ).alias("__fl"),
        F.expr(
            f"CAST(CAST({K} AS DECIMAL(38,0)) * __n "
            f"- (CAST({K} AS DECIMAL(38,0)) * __n div {n_total}) "
            f"* {n_total} AS BIGINT)"
        ).alias("__rem"),
    )
    w_top = Window.orderBy(F.col("__rem").desc(), F.col(stratum_col).asc())
    w_all = Window.partitionBy()
    alloc = alloc.select(
        stratum_col,
        (
            F.col("__fl")
            + F.when(
                F.row_number().over(w_top)
                <= F.lit(K) - F.sum("__fl").over(w_all),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("quota"),
    ).where(F.col("quota") > 0)
    frac = F.substring(F.md5(F.col(key_col).cast("string")), 1, 12)
    w_pick = Window.partitionBy(stratum_col).orderBy(
        frac.asc(), F.col(key_col).cast("string").asc()
    )
    return (
        base.join(F.broadcast(alloc), stratum_col)
        .withColumn("sample_rank", F.row_number().over(w_pick).cast("int"))
        .where(F.col("sample_rank") <= F.col("quota"))
    )


def pareto_front(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows on the 2-D Pareto frontier of (``x_col``, ``y_col``), both
    maximized: a row survives unless some other row is >= on both
    dimensions and strictly greater on at least one. Exact duplicates
    on (x, y) do not dominate each other, so a frontier point's full
    tie group survives. Rows with a null in either column are dropped.

    Multi-criteria data selection (e.g. keep documents not dominated
    on (length, quality) before budgeted sampling) — no reference
    counterpart; north-star op.

    Scale design: the naive check is an all-pairs quadratic join. A
    2-D frontier needs only per-x maxima plus a suffix max over
    strictly-greater x: dominated(r) <=> max(y | x > r.x) >= r.y
    OR max(y | x = r.x) > r.y. That is ONE groupBy to the distinct-x
    table, one distributed exclusive prefix max over it in x-DESC
    order (``global_running_max`` — range partition + broadcast
    offsets, never a single-partition window), and one equi-join back
    to re-attach full rows. Everything is linear in input plus a
    distinct-x-sized scan; at 100 TB the distinct-x table is the only
    re-sorted structure.
    """
    from pydi_spark.functions.ranks import global_running_max

    t = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    g = t.groupBy(x_col).agg(F.max(y_col).alias("__gy"))
    p = global_running_max(
        g, [F.col(x_col).desc()], "__gy", "__pm", exclusive=True
    )
    dominated = F.coalesce(
        F.col("__pm") >= F.col(y_col), F.lit(False)
    ) | (F.col("__gy") > F.col(y_col))
    return (
        t.join(p.select(x_col, "__gy", "__pm"), x_col)
        .where(~dominated)
        .select(*df.columns)  # the equi-join moved x_col first
    )
