"""Text analysis operators for training-data pipelines.

North-star adds (BASELINE.json): language-ID (stopword-overlap
heuristic), quality scoring (length/punctuation/stopword ratios), token
counting (whitespace + BPE-ish regex), document fingerprinting
(normalized content hash). All native Column expressions — these run on
every document of a 100 TB corpus, so no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.functions.tokenize import word_tokens

# Minimal per-language stopword marker sets (top function words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "que", "pour"],
    "zh": ["de", "shi", "le", "bu", "wo", "ni", "ta", "men", "zai", "you"],
}


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens_ws (whitespace), n_tokens_bpe (BPE-ish: word pieces +
    digits + punctuation as separate tokens), n_tokens_distinct."""
    c = F.col(text_col)
    ws = F.size(F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != F.lit("")))
    # BPE-ish: letter runs, digit runs, and single punctuation marks
    bpe = F.size(
        F.filter(
            F.split(c, r"(?<=[\p{L}\p{N}])(?=[^\p{L}\p{N}\s])|(?<=[^\p{L}\p{N}\s])(?=[\p{L}\p{N}])|\s+"),
            lambda t: t != F.lit(""),
        )
    )
    distinct = F.size(F.array_distinct(word_tokens(c)))
    return (
        df.withColumn("n_tokens_ws", ws)
        .withColumn("n_tokens_bpe", bpe)
        .withColumn("n_tokens_distinct", distinct)
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds quality heuristics: n_chars, punct_ratio, digit_ratio,
    upper_ratio, stopword_ratio (en), mean_token_len, and a composite
    quality_score in [0,1]."""
    c = F.col(text_col)
    n_chars = F.length(c)
    count_of = lambda pat: F.length(c) - F.length(F.regexp_replace(c, pat, ""))  # noqa: E731
    punct = count_of(r"[\p{Punct}]")
    digits = count_of(r"[0-9]")
    uppers = count_of(r"[A-Z]")
    toks = word_tokens(c)
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))  # noqa: E731
    mean_tok = safe(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)), n_toks
    )
    punct_ratio = safe(punct, n_chars)
    digit_ratio = safe(digits, n_chars)
    upper_ratio = safe(uppers, n_chars)
    stop_ratio = safe(n_stop, n_toks)
    # composite: reward prose-like ranges, penalize extremes
    quality = (
        F.lit(1.0)
        - F.least(F.lit(1.0), punct_ratio * 4)
        * F.lit(0.25)
        - F.least(F.lit(1.0), digit_ratio * 4) * F.lit(0.25)
        - F.when(mean_tok < 2, F.lit(0.25)).when(mean_tok > 12, F.lit(0.25)).otherwise(F.lit(0.0))
        - F.when(n_toks < 5, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("digit_ratio", digit_ratio)
        .withColumn("upper_ratio", upper_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("mean_token_len", mean_tok)
        .withColumn("quality_score", F.greatest(F.lit(0.0), quality))
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds predicted_lang + lang_score: argmax over per-language marker
    overlap counts; deterministic tie-break = lexicographic language
    code. Pure expression (scores per language, array_sort pick)."""
    toks = F.array_distinct(word_tokens(F.col(text_col)))
    entries = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        score = F.size(F.array_intersect(toks, markers))
        entries.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    ranked = F.array_sort(
        F.array(*entries),
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .when(a["lang"] < b["lang"], F.lit(-1))
        .when(a["lang"] > b["lang"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    top = ranked[0]
    n = F.size(toks)
    return df.withColumn("predicted_lang", top["lang"]).withColumn(
        "lang_score",
        F.when(n > 0, top["score"].cast("double") / n).otherwise(F.lit(0.0)),
    )


# Unicode script blocks as LITERAL character-class ranges (never \u or
# \p escapes: Spark SQL string literals consume backslashes and Java
# spells script classes \p{IsX} where RE2 spells \p{X} — embedding the
# actual boundary characters is the only text both engines read alike)
SCRIPT_RANGES = {
    "latin": "[A-Za-z]",
    "cyrillic": "[\u0400-\u04ff]",
    "greek": "[\u0370-\u03ff]",
    "cjk": "[\u4e00-\u9fff]",
    "digit": "[0-9]",
}


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds per-script character counts (n_latin / n_cyrillic /
    n_greek / n_cjk / n_digit), n_chars, and ``dominant_script`` — the
    writing-system companion to ``language_id``: language markers only
    work within a script, so a multilingual crawl routes on script
    FIRST (latin -> langid, cjk -> a CJK segmenter, mixed -> review).

    Counting is ``length(x) - length(regexp_replace(x, class, ''))`` —
    JVM-side, no per-character explode, linear scan per row; dominance
    is a fixed-priority CASE over the exact integer counts (latin >
    cyrillic > greek > cjk on ties — deterministic, replayed verbatim
    in the oracle). No reference counterpart — north-star addition.
    """
    x = F.col(text_col)
    counts = {
        name: (
            F.length(x) - F.length(F.regexp_replace(x, rng, ""))
        ).cast("long")
        for name, rng in SCRIPT_RANGES.items()
    }
    out = df.withColumn("n_chars", F.coalesce(F.length(x).cast("long"), F.lit(0)))
    for name in SCRIPT_RANGES:
        out = out.withColumn(f"n_{name}", F.coalesce(counts[name], F.lit(0)))
    lat, cyr, grk, cjk = (F.col(f"n_{n}") for n in
                          ("latin", "cyrillic", "greek", "cjk"))
    dominant = (
        F.when((lat >= F.greatest(cyr, grk, cjk)) & (lat > 0), "latin")
        .when((cyr >= F.greatest(grk, cjk)) & (cyr > 0), "cyrillic")
        .when((grk >= cjk) & (grk > 0), "greek")
        .when(cjk > 0, "cjk")
        .otherwise("other")
    )
    return out.withColumn("dominant_script", dominant)


def document_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds fingerprint: md5 over the sorted distinct word tokens —
    order/whitespace/case-insensitive content identity (rolling-hash
    style identity for shuffled near-dups)."""
    toks = F.array_sort(F.array_distinct(word_tokens(F.col(text_col))))
    return df.withColumn("fingerprint", F.md5(F.array_join(toks, "|")))


def repetition_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """[doc_id, top_word_frac, dup_2gram_frac, distinct_word_ratio] —
    Gopher-style repetition signals for corpus filtering. Distributed as
    explode + two-level aggregates (no per-row quadratic HOFs): word
    counts shuffle on (doc, word), bigrams via posexplode + lead — the
    same codegen'd shingling shape as the n-gram dedup path."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(word_tokens(F.col(text_col))).alias("pos", "w"),
    )
    w_next = Window.partitionBy("doc_id").orderBy("pos")
    grams = toks.withColumn("w2", F.lead("w").over(w_next))

    per_word = grams.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    word_stats = per_word.groupBy("doc_id").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
    )
    gram_rows = grams.where(F.col("w2").isNotNull()).select(
        "doc_id", F.concat_ws(" ", "w", "w2").alias("g")
    )
    gram_stats = gram_rows.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.countDistinct("g").alias("n_distinct_grams"),
    )
    ids = df.select(F.col(id_col).cast("string").alias("doc_id"))
    out = (
        ids.join(word_stats, "doc_id", "left")
        .join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("n_words") > 0,
                   F.col("max_c").cast("double") / F.col("n_words"))
            .otherwise(F.lit(0.0)).alias("top_word_frac"),
            F.when(F.col("n_grams") > 0,
                   1.0 - F.col("n_distinct_grams").cast("double") / F.col("n_grams"))
            .otherwise(F.lit(0.0)).alias("dup_2gram_frac"),
            F.when(F.col("n_words") > 0,
                   F.col("n_distinct").cast("double") / F.col("n_words"))
            .otherwise(F.lit(1.0)).alias("distinct_word_ratio"),
        )
    )
    return out


# RE2-safe patterns (no lookarounds) so DuckDB oracles can mirror them
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """[doc_id, redacted_text, n_emails, n_phones, n_ips]: counts +
    placeholder substitution for the standard PII classes a
    training-data pipeline scrubs. Pure regexp expressions; each class
    counts and redacts on the PREVIOUS class's output, so an email's
    dotted domain can never double-count as an IPv4."""
    c = F.col(text_col)
    n_emails = F.regexp_count(c, F.lit(PII_EMAIL))
    red1 = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    n_phones = F.regexp_count(red1, F.lit(PII_PHONE))
    red2 = F.regexp_replace(red1, PII_PHONE, "<PHONE>")
    n_ips = F.regexp_count(red2, F.lit(PII_IPV4))
    red3 = F.regexp_replace(red2, PII_IPV4, "<IP>")
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        red3.alias("redacted_text"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        n_ips.alias("n_ips"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    mean_token_len_range: tuple[float, float] = (3.0, 10.0),
    min_stopword_ratio: float = 0.02,
    max_digit_ratio: float = 0.2,
    max_top_word_frac: float = 0.15,
    max_dup_2gram_frac: float = 0.2,
) -> DataFrame:
    """Gopher-style corpus quality gate: one boolean per rule plus the
    conjunctive ``keep`` — the keep/drop decision a training pipeline
    runs after dedup. Rules (defaults follow Rae et al. 2021, Gopher
    §A1.1, adapted to the tokenizer used corpus-wide here):
    token-count window, mean-token-length window, minimum stopword
    ratio, digit-ratio cap, top-word-fraction cap, duplicate-2-gram cap.

    Scale design: the per-row signals are native Column expressions on a
    single pass; the two corpus-level repetition signals come from
    ``repetition_scores`` (explode + two-level aggregate, the only
    shuffle) joined back on the id. No Python in the path.
    """
    from pydi_spark.functions.tokenize import word_tokens

    c = F.col(text_col)
    toks = word_tokens(c)
    n_toks = F.size(toks)
    n_chars = F.length(c)
    digits = n_chars - F.length(F.regexp_replace(c, "[0-9]", ""))
    stop_arr = F.array(*[F.lit(s) for s in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))  # noqa: E731
    mean_tok = safe(
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)),
        n_toks,
    )
    lo, hi = mean_token_len_range
    per_row = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        n_toks.alias("n_tokens"),
        ((n_toks >= min_tokens) & (n_toks <= max_tokens)).alias("ok_length"),
        ((mean_tok >= F.lit(float(lo))) & (mean_tok <= F.lit(float(hi)))).alias(
            "ok_mean_token_len"
        ),
        (safe(n_stop, n_toks) >= F.lit(float(min_stopword_ratio))).alias(
            "ok_stopwords"
        ),
        (safe(digits, n_chars) <= F.lit(float(max_digit_ratio))).alias(
            "ok_digits"
        ),
    )
    rep = repetition_scores(df, text_col=text_col, id_col=id_col).select(
        "doc_id",
        (F.col("top_word_frac") <= F.lit(float(max_top_word_frac))).alias(
            "ok_top_word"
        ),
        (F.col("dup_2gram_frac") <= F.lit(float(max_dup_2gram_frac))).alias(
            "ok_dup_2gram"
        ),
    )
    out = per_row.join(rep, "doc_id")
    rules = ["ok_length", "ok_mean_token_len", "ok_stopwords", "ok_digits",
             "ok_top_word", "ok_dup_2gram"]
    keep_expr = F.col(rules[0])
    for r in rules[1:]:
        keep_expr = keep_expr & F.col(r)
    return out.withColumn("keep", keep_expr)


def unigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """[doc_id, n_tokens, n_oov, sum_count, mean_token_freq,
    mean_logprob]: unigram language-model quality scoring — the
    CCNet-style "score documents by how typical their words are" filter
    (CCNet uses a KenLM n-gram model; the unigram variant is the
    distributable first-order version). ``train_df`` holds the corpus
    the model is counted from (default: ``df`` itself — then n_oov is
    0 by construction); ``alpha`` is add-alpha smoothing for tokens
    unseen in training.

    ``mean_token_freq`` = (sum of the tokens' training counts /
    n_tokens) / N is pure integer arithmetic plus two single divisions
    — bit-identical cross-engine (the oracle-checked column).
    ``mean_logprob`` = mean ln((c+alpha)/(N+alpha*V)) is the actual LM
    score; ln() is not guaranteed identically rounded across libm
    implementations, so it is property-tested (numpy replay) rather
    than oracle-checked — the same split as the BPE-ish token counter.

    Scale: counts are a two-level aggregate (map-side combine before
    the narrow token shuffle); scoring is one equi-join on the token
    against the count table and one per-doc aggregate; N and V ride a
    one-row broadcast. The corpus text itself never shuffles.
    """
    train = df if train_df is None else train_df
    counts = (
        train.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("__c"))
    )
    totals = counts.agg(
        F.sum("__c").alias("__N"), F.count("*").alias("__V")
    )
    doc_toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    joined = doc_toks.join(counts, "token", "left").crossJoin(
        F.broadcast(totals)
    )
    smoothed = (
        (F.coalesce(F.col("__c"), F.lit(0)).cast("double") + F.lit(float(alpha)))
        / (
            F.col("__N").cast("double")
            + F.lit(float(alpha)) * F.col("__V").cast("double")
        )
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("__c").isNull().cast("int")).alias("n_oov"),
            F.sum(F.coalesce(F.col("__c"), F.lit(0))).alias("sum_count"),
            F.sum(F.log(smoothed)).alias("__sum_lp"),
            F.first("__N").alias("__N1"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            "sum_count",
            (
                (F.col("sum_count").cast("double") / F.col("n_tokens"))
                / F.col("__N1")
            ).alias("mean_token_freq"),
            (F.col("__sum_lp") / F.col("n_tokens")).alias("mean_logprob"),
        )
    )


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 1,
) -> DataFrame:
    """Corpus vocabulary table [token, doc_freq, n_occurrences] — the
    global token-frequency pass a BPE/tokenizer training run starts
    from. Two-level aggregate: per-(doc, token) counts combine map-side
    before the narrow (token) shuffle, so the full corpus text never
    moves — only distinct (doc, token) pairs do.
    """
    from pydi_spark.functions.tokenize import word_tokens

    per_doc = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(word_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("__id", "token")
        .agg(F.count("*").alias("c"))
    )
    out = per_doc.groupBy("token").agg(
        F.count("*").alias("doc_freq"),
        F.sum("c").alias("n_occurrences"),
    )
    if min_doc_freq > 1:
        out = out.where(F.col("doc_freq") >= min_doc_freq)
    return out


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic tokens per document by tf-idf
    [doc_id, token, tf_idf, rank]. Uses the RAW-RATIO idf
    ``(n_docs / doc_freq)`` instead of the usual log form: every factor
    is then an integer-valued double and the score a fixed IEEE
    expression tree, so ranks are bit-reproducible across engines
    (ln() differs by ULPs between libm implementations, which can flip
    near-tie ranks). Ties break on the token string.

    Scale: one (doc, token) aggregate, a broadcast-sized vocabulary
    join (tokens x 2 longs), and a per-doc top-k window.
    """
    from pyspark.sql import Window

    from pydi_spark.functions.tokenize import word_tokens

    n_docs = df.count()
    per_doc = (
        df.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.explode(word_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    doc_len = per_doc.groupBy("doc_id").agg(F.sum("c").alias("n_tok"))
    vocab = per_doc.groupBy("token").agg(F.count("*").alias("doc_freq"))
    scored = (
        per_doc.join(doc_len, "doc_id")
        .join(F.broadcast(vocab), "token")
        .select(
            "doc_id",
            "token",
            (
                (F.col("c").cast("double") / F.col("n_tok"))
                * (F.lit(float(n_docs)) / F.col("doc_freq"))
            ).alias("tf_idf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf_idf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def zipf_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 200,
) -> DataFrame:
    """Rank-frequency (Zipf) table for the corpus head
    [token, count, rank, cum_count, cum_share]: the standard
    heavy-hitter diagnostic before tokenizer training / stopword
    pruning (no reference counterpart — north-star LLM-data op).

    ``cum_share`` = cum_count / corpus total is one division of two
    exact integer aggregates — bit-reproducible cross-engine. Rank ties
    break on the token string so the order is total.

    Scale: token counting is a two-level aggregate (map-side combine
    before the narrow token shuffle). The global ordering only ever
    touches the ``top`` survivors — sort+limit compiles to
    TakeOrderedAndProject, and the cumulative window runs on those
    ``top`` rows, NOT the corpus (a bare global cumsum window would
    funnel the whole vocabulary through one partition — the BM25
    lesson)."""
    from pyspark.sql import Window

    from pydi_spark.functions.tokenize import word_tokens

    counts = (
        df.select(F.explode(word_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
    )
    total = counts.agg(F.sum("count").alias("__total"))
    head = counts.orderBy(F.desc("count"), F.asc("token")).limit(int(top))
    w = (
        Window.orderBy(F.desc("count"), F.asc("token"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        head.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_count", F.sum("count").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "count",
            "rank",
            "cum_count",
            (
                F.col("cum_count").cast("double")
                / F.col("__total").cast("double")
            ).alias("cum_share"),
        )
    )


def linear_quality_classifier(
    df: DataFrame,
    bucket_weights_micro: list[int],
    bias_micro: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear quality classifier over hashed unigram
    buckets [doc_id, n_tokens, margin_micro, keep]: the standard
    "does this page look like the reference corpus" filter in
    CCNet/LLaMA-class pipelines (fastText: Joulin et al. 2016). The
    score is the LINEAR margin — weights are integer micro-units and
    ``margin_micro = bias + sum_b(count_b * w_b)`` is an exact integer
    aggregate, so classification (margin >= 0) is bit-portable
    cross-engine; probability calibration (sigmoid) is left to the
    caller because exp() rounding is libm-specific (the mean_logprob
    split).

    ``bucket_weights_micro[b]`` weighs token bucket
    ``md5_60bit(token) % len(weights)``. Train with
    ``train_quality_classifier`` (driver-side on a sample — the
    k-means/codebook pattern) or supply curated weights.

    Scale design: the weight table rides a broadcast of n_buckets
    rows; scoring is one equi-join + per-doc integer aggregate; the
    corpus text never shuffles — only (doc, bucket) pairs."""
    from pydi_spark.functions.tokenize import word_tokens
    from pydi_spark.llmdata.dedup import _token_hash60

    n_buckets = len(bucket_weights_micro)
    spark = df.sparkSession
    wt = F.broadcast(
        rows_to_df(
            spark,
            [(b, int(w)) for b, w in enumerate(bucket_weights_micro)],
            "b int, w bigint",
        )
    )
    toks = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    ).select(
        "doc_id",
        F.pmod(_token_hash60(F.col("token")), F.lit(n_buckets))
        .cast("int")
        .alias("b"),
    )
    scored = (
        toks.join(wt, "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.lit(int(bias_micro)) + F.sum("w")).alias("margin_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "margin_micro",
        (F.col("margin_micro") >= 0).cast("int").alias("keep"),
    )


def train_quality_classifier(
    pos_df: DataFrame,
    neg_df: DataFrame,
    n_buckets: int = 256,
    text_col: str = "text",
    lr: float = 0.5,
    n_iter: int = 50,
    sample_size: int = 10000,
) -> tuple[list[int], int]:
    """Driver-side logistic regression on hashed-bucket counts from
    bounded samples of a positive (reference) and negative (raw)
    corpus — returns (bucket_weights_micro, bias_micro) for
    ``linear_quality_classifier``. Driver-side by design (tiny dense
    problem: n_buckets features), the same train-on-sample pattern as
    IVF/PQ; the SCORING path is the distributed, oracle-checked one."""
    import numpy as np

    def counts(df):
        import hashlib

        rows = df.select(text_col).limit(int(sample_size)).collect()
        X = np.zeros((len(rows), n_buckets))
        for i, r in enumerate(rows):
            for tok in str(r[0]).lower().split():
                h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                X[i, h % n_buckets] += 1
        return X

    Xp, Xn = counts(pos_df), counts(neg_df)
    X = np.vstack([Xp, Xn])
    y = np.concatenate([np.ones(len(Xp)), np.zeros(len(Xn))])
    if len(y) == 0:
        raise ValueError("cannot train a quality classifier on empty corpora")
    w = np.zeros(n_buckets)
    b = 0.0
    for _ in range(n_iter):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g) / len(y)
        b -= lr * g.mean()
    return [int(round(x * 1e6)) for x in w], int(round(b * 1e6))


def vocab_coverage(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    group_col: str | None = "source",
) -> DataFrame:
    """Token coverage of a corpus under a fixed vocabulary — the OOV
    diagnostic a tokenizer/vocab design is judged by. Output per group
    (or one corpus row with grp=''): [grp, n_tokens, n_in_vocab,
    n_oov_types, coverage_ppm]. coverage_ppm is exact integer
    arithmetic (n_in_vocab * 1e6 div n_tokens) — bit-portable.

    Scale shape: the vocabulary enters as a broadcast literal set via
    isin (vocab tables beyond literal size: join against a vocab frame
    instead); ONE tokenize+explode pass, map-side combined aggregate,
    output is #groups rows. n_oov_types counts DISTINCT out-of-vocab
    word types — the signal for growing the vocab (high mass + low
    types = a few frequent misses; low mass + high types = long tail).
    """
    vset = sorted(set(v.lower() for v in vocab))
    toks = df.select(
        (F.col(group_col) if group_col else F.lit("")).alias("grp"),
        F.explode(word_tokens(F.col(text_col))).alias("tok"),
    )
    hit = F.col("tok").isin(vset)
    return (
        toks.groupBy("grp")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(hit.cast("bigint")).alias("n_in_vocab"),
            F.count_distinct(F.when(~hit, F.col("tok"))).alias("n_oov_types"),
        )
        .withColumn(
            "coverage_ppm",
            F.expr("n_in_vocab * CAST(1000000 AS BIGINT) div n_tokens"),
        )
    )


def gram_duplication(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Corpus-internal duplication mass per group: [grp, total_grams,
    distinct_grams, dup_mass_ppm] — the share of n-gram occurrences
    that are repeats of an already-seen gram (within the group).
    High mass = templated/boilerplate-heavy source, the signal that a
    near-dup pass will pay off there. Exact integer ppm.

    Grams ride as 60-bit md5-prefix ints (the portable construction —
    collisions strike both engines identically); construction is
    posexplode + window leads (codegen'd). One exchange by doc for the
    leads, one aggregate by group."""
    from pyspark.sql import Window

    from pydi_spark.llmdata.dedup import _token_hash60

    toks = word_tokens(F.col(text_col))
    # the doc key must be materialized BEFORE the explode: in the same
    # projection as posexplode, a nondeterministic expression like
    # monotonically_increasing_id is evaluated per EXPLODED row, giving
    # every token its own "document"
    base = df.where(F.size(toks) >= n).select(
        F.col(group_col).alias("grp"),
        F.monotonically_increasing_id().alias("__doc"),
        toks.alias("__toks"),
    )
    tok_rows = base.select(
        "grp", "__doc", F.posexplode("__toks").alias("pos", "tok")
    )
    wpos = Window.partitionBy("__doc").orderBy("pos")
    lead_cols = [F.lead("tok", j).over(wpos).alias(f"t{j}") for j in range(1, n)]
    grams = (
        tok_rows.select("grp", "tok", *lead_cols)
        .where(F.col(f"t{n - 1}").isNotNull())
        .select(
            "grp",
            _token_hash60(
                F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])
            ).alias("h"),
        )
    )
    return (
        grams.groupBy("grp")
        .agg(
            F.count("*").alias("total_grams"),
            F.count_distinct("h").alias("distinct_grams"),
        )
        .withColumn(
            "dup_mass_ppm",
            F.expr(
                "(total_grams - distinct_grams) * CAST(1000000 AS BIGINT)"
                " div total_grams"
            ),
        )
    )


def blocklist_filter(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "token",
) -> DataFrame:
    """C4-style blocklist gate: [id, n_hits, keep] — a document is
    dropped (keep=0) if it contains any blocklisted term. ``token``
    mode matches whole word tokens (array_intersect against a literal
    broadcast list — one narrow scan, no join, no UDF; the C4 word-list
    semantics); ``substring`` mode matches anywhere via chained
    contains (for terms that cross token boundaries). n_hits counts
    DISTINCT blocklisted terms present."""
    tset = sorted(set(t.lower() for t in terms))
    out_id = F.col(id_col).cast("string").alias("id")
    if mode == "token":
        toks = F.array_distinct(word_tokens(F.col(text_col)))
        hits = F.size(
            F.array_intersect(toks, F.array(*[F.lit(t) for t in tset]))
        )
    elif mode == "substring":
        low = F.lower(F.col(text_col))
        hits = sum(
            (F.when(low.contains(t), 1).otherwise(0) for t in tset),
            F.lit(0),
        )
    else:
        raise ValueError(f"unknown mode: {mode}")
    return df.select(
        out_id,
        hits.cast("int").alias("n_hits"),
        (hits == 0).cast("int").alias("keep"),
    )


# UTF-8-decoded-as-latin1/cp1252 digraphs — the classic double-encoding
# artifacts ("é" -> "Ã©", curly quotes -> "â€™"). A curated literal
# alternation: both regex engines (Java on Spark, RE2 in SQL replicas)
# treat literal alternations identically, which is what keeps the
# oracle replayable (the RE2-safe discipline).
MOJIBAKE_DIGRAPHS = [
    "Ã©", "Ã¨", "Ã¼", "Ã¤",
    "Ã¶", "Ã±", "Ã¡", "Ã³",
    "Ãº", "Ã§",
    "â€™", "â€œ", "â€“",
    "â€”",
    "Â°", "Â·", "Â ",
]


def encoding_quality_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """[id, n_chars, n_replacement, n_c1, n_mojibake, n_ctrl, enc_flag]
    — per-document encoding-damage audit, the hygiene gate a crawl
    corpus needs BEFORE tokenization (mojibake survives dedup and
    poisons BPE merges):

    - ``n_replacement``: U+FFFD replacement characters (a decoder
      already gave up once);
    - ``n_c1``: C1 control block U+0080-U+009F (bytes that only appear
      when cp1252/latin1 text is mislabeled);
    - ``n_mojibake``: curated UTF-8-as-latin1 digraphs
      (``MOJIBAKE_DIGRAPHS`` — "Ã©", "â€™", "Â°", ...);
    - ``n_ctrl``: other C0 controls excluding tab/newline/CR;
    - ``enc_flag``: integer 0/1 (any signal fired — the hash-safe
      flag convention).

    All counts are exact integers from literal/char-class regex counts
    — pure codegen'd column expressions, no UDF, no shuffle beyond the
    caller's. Patterns stick to literal alternations and ``\\x``
    char-class escapes, the subset Java regex and RE2 interpret
    identically (the oracle-replay contract).
    """
    c = F.col(text_col)
    n_repl = F.regexp_count(c, F.lit("�"))
    n_c1 = F.regexp_count(c, F.lit("[\\x80-\\x9f]"))
    n_moji = F.regexp_count(c, F.lit("|".join(MOJIBAKE_DIGRAPHS)))
    n_ctrl = F.regexp_count(
        c, F.lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    )
    total = n_repl + n_c1 + n_moji + n_ctrl
    return df.select(
        F.col(id_col),
        F.length(c).cast("long").alias("n_chars"),
        n_repl.cast("long").alias("n_replacement"),
        n_c1.cast("long").alias("n_c1"),
        n_moji.cast("long").alias("n_mojibake"),
        n_ctrl.cast("long").alias("n_ctrl"),
        F.when(total > 0, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("enc_flag"),
    )
