"""Line-level document cleaning for training-data pipelines.

C4/CCNet-style cleanup (beyond the reference — north-star LLM-data op):
per-line rules (word-count bounds, terminal punctuation) plus
corpus-level boilerplate removal — a line that appears in more than
``max_line_doc_frequency`` distinct documents ("share this article",
cookie banners, nav footers) is dropped everywhere.

Scale design: one posexplode over lines, native-expression rules, ONE
groupBy(line) frequency aggregate for the global pass (shuffles a
trimmed line key, never the document), a left-anti join against the
(small by construction) hot-line table, and an order-preserving
re-assembly groupBy. No Python in the path; every stage is
partition-parallel and survives a corpus that doesn't fit one machine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core import plansize


def clean_document_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 1,
    max_words: int | None = None,
    require_terminal_punct: bool = False,
    max_line_doc_frequency: int | None = None,
) -> DataFrame:
    """[doc_id, clean_text, n_lines_kept, n_lines_total].

    Lines failing a rule are dropped; the document survives (possibly
    empty). ``max_line_doc_frequency``: drop lines occurring in more
    than this many distinct documents (global boilerplate).
    """
    lines = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    trimmed = F.trim(F.col("line"))
    wc = F.size(F.filter(F.split(trimmed, r"\s+"), lambda x: x != F.lit("")))
    keep = wc >= F.lit(int(min_words))
    if max_words is not None:
        keep = keep & (wc <= F.lit(int(max_words)))
    if require_terminal_punct:
        keep = keep & trimmed.rlike(r"[.!?\"']$")
    flagged = lines.withColumn("__norm", trimmed).withColumn("keep", keep)

    if max_line_doc_frequency is not None:
        hot = (
            flagged.where(F.col("keep"))
            .groupBy("__norm")
            .agg(F.countDistinct("doc_id").alias("__df"))
            .where(F.col("__df") > F.lit(int(max_line_doc_frequency)))
            .select("__norm", F.lit(True).alias("__hot"))
        )
        flagged = flagged.join(hot, "__norm", "left").withColumn(
            "keep", F.col("keep") & F.col("__hot").isNull()
        )

    # full-width reassembly; collect_list skips the nulls from when()
    return (
        flagged.repartition(plansize.core_width(df.sparkSession), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("keep").cast("int")).alias("n_lines_kept"),
            F.count("*").alias("n_lines_total"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )


def dedup_corpus_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-level exact line deduplication (the C4 rule: any line that
    occurs more than once in the corpus is kept only at its first
    occurrence). Beyond the reference — north-star LLM-data op.

    Returns [doc_id, clean_text, n_lines_kept, n_lines_total]. "First"
    is the globally deterministic (doc_id ASC, pos ASC) occurrence of
    the trimmed line, so the result is partition-count-independent.
    Lines shorter than ``min_chars`` after trimming (default: empty
    lines) are structural and always kept.

    Scale design: lines are keyed by md5 (narrow 32-char shuffle key,
    never the line text), first-occurrence is a row_number window
    PARTITIONED BY the hash — one exchange on the hash, one on doc_id
    for the order-preserving reassembly; no broadcast, no driver state,
    no Python. Duplicate-heavy corpora skew the hash partitions no
    worse than the duplicate count itself, and the window computes
    rank without materializing per-key groups.
    """
    from pyspark.sql import Window

    width = plansize.core_width(df.sparkSession)
    lines = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    norm = F.trim(F.col("line"))
    # ineligible lines get a UNIQUE key (doc:pos), not a shared null —
    # a corpus full of blank lines must not funnel into one partition
    keyed = lines.withColumn(
        "__eligible", F.length(norm) >= F.lit(int(min_chars))
    ).withColumn(
        "__lh",
        F.when(F.col("__eligible"), F.md5(norm.cast("binary"))).otherwise(
            F.concat_ws(":", "doc_id", "pos")
        ),
    )
    w = Window.partitionBy("__lh").orderBy("doc_id", "pos")
    marked = keyed.repartition(width, "__lh").withColumn(
        "keep",
        (~F.col("__eligible")) | (F.row_number().over(w) == F.lit(1)),
    )
    return (
        marked.repartition(width, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("keep").cast("int")).alias("n_lines_kept"),
            F.count("*").alias("n_lines_total"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("pos", "line"))
                        )
                    ),
                    lambda x: x["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
    )


def _word_ngram_rows(
    frame: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """[doc_id, gh] — md5-hashed word n-grams; documents shorter than
    ``n`` tokens contribute their whole token sequence as one gram (the
    shingle-dedup edge rule). Shared by decontaminate/novelty_scores."""
    from pyspark.sql import Window

    from pydi_spark.functions.tokenize import word_tokens

    toks = word_tokens(F.col(text_col))
    tok_rows = frame.where(F.size(toks) >= n).select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    wpos = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(wpos).alias(f"t{j}") for j in range(1, n)]
    grams = (
        tok_rows.select("doc_id", "tok", *leads)
        .where(F.col(f"t{n - 1}").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)]).alias("gram"),
        )
    )
    short = frame.where(F.size(toks) < n).select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.array_join(toks, " ").alias("gram"),
    )
    return grams.unionByName(short).select("doc_id", F.md5("gram").alias("gh"))


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.05,
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    n-grams overlap an evaluation set (the standard n-gram-collision
    check run before LLM training; no reference counterpart —
    north-star training-data op).

    Returns [doc_id, n_ngrams, n_overlap, contamination_ratio,
    is_contaminated] — ratio = distinct contaminated n-grams / distinct
    n-grams; documents shorter than ``n`` tokens contribute their whole
    token sequence as one n-gram (same edge rule as the shingle dedup).

    Scale design: the eval side is a benchmark suite (thousands of
    docs) while ``df`` is the corpus (billions) — eval n-grams are
    md5-hashed, deduplicated, and BROADCAST, so the check is a map-side
    left join on a 32-char key against the exploded train side: no
    corpus shuffle at all beyond the per-doc distinct, which runs on a
    single explicit repartition(doc_id) exchange. Never joins raw
    n-gram strings (hash keys keep the rows narrow).
    """
    def ngram_rows(frame: DataFrame) -> DataFrame:
        return _word_ngram_rows(frame, text_col, id_col, n)

    eval_grams = ngram_rows(eval_df).select("gh").distinct()
    hits = ngram_rows(df).repartition(
        plansize.core_width(df.sparkSession), "doc_id"
    ).dropDuplicates(["doc_id", "gh"]).join(
        F.broadcast(eval_grams.withColumn("__hit", F.lit(1))), "gh", "left"
    )
    out = hits.groupBy("doc_id").agg(
        F.count("*").alias("n_ngrams"),
        F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_overlap"),
    )
    ratio = F.col("n_overlap") / F.col("n_ngrams")
    return out.select(
        "doc_id",
        "n_ngrams",
        "n_overlap",
        ratio.alias("contamination_ratio"),
        (ratio >= F.lit(float(threshold))).alias("is_contaminated"),
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    n: int = 2,
) -> DataFrame:
    """Cross-source contamination matrix: for every pair of corpus
    sources, how many distinct word ``n``-grams they share
    [source_a, source_b, n_shared, n_a, n_b, jaccard]. The standard
    "is source X scraping source Y" / cross-split-leak diagnostic
    before mixing sources into a training corpus (no reference
    counterpart — north-star LLM-data op).

    ``jaccard`` = shared / (n_a + n_b - shared) is one division of
    exact integer aggregates — bit-reproducible cross-engine.

    Scale design: grams are 60-bit md5 ints (narrow join keys; the
    hash value never reaches the output, and a collision strikes both
    engines of the oracle identically — the verify-on-hashes rule).
    The per-source distinct gram set is a map-combined aggregate; the
    pair counts come from ONE self-equi-join on the gram hash whose
    output is bounded by #sources² rows per gram (sources, not
    documents, are the join fan-out). The probe side is explicitly
    repartitioned on the gram hash so AQE cannot coalesce the join
    input to a handful of tasks (the band-join lesson)."""
    from pydi_spark.functions.tokenize import word_tokens
    from pydi_spark.llmdata.dedup import _token_hash60

    toks = word_tokens(F.col(text_col))
    tok_rows = df.where(F.size(toks) >= n).select(
        F.col(group_col).alias("src"),
        F.col(id_col).cast("string").alias("__id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    from pyspark.sql import Window

    wpos = Window.partitionBy("__id").orderBy("pos")
    leads = [F.lead("tok", j).over(wpos).alias(f"t{j}") for j in range(1, n)]
    grams = (
        tok_rows.select("src", "tok", *leads)
        .where(F.col(f"t{n - 1}").isNotNull())
        .select(
            "src",
            _token_hash60(
                F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])
            ).alias("gh"),
        )
        .dropDuplicates(["src", "gh"])
        # r12: materialize once — the distinct (src, gram-hash) frame
        # feeds FOUR consumers (per-source sizes ×2, both join sides);
        # without this each consumer re-runs scan+explode+window+dedup
        # (4 duplicated subtrees in the physical plan, guide §2.4/§5)
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy("src").agg(F.count("*").alias("n_grams"))
    left = grams.repartition(plansize.core_width(df.sparkSession), "gh")
    right = grams.select(
        F.col("src").alias("src_b"), F.col("gh").alias("gh")
    )
    shared = (
        left.join(right, "gh")
        .where(F.col("src") < F.col("src_b"))
        .groupBy(F.col("src").alias("source_a"), F.col("src_b").alias("source_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(
            F.broadcast(sizes.withColumnRenamed("src", "source_a")), "source_a"
        )
        .withColumnRenamed("n_grams", "n_a")
        .join(
            F.broadcast(
                sizes.withColumnRenamed("src", "source_b").withColumnRenamed(
                    "n_grams", "n_b"
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


def corpus_cleanup(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The C4/RefinedWeb-shaped cleanup CASCADE as one composition:
    blocklist gate -> exact dedup (min-string-id canonical) -> SimHash
    near-dup dedup (connected-component keep-min) — with a per-stage
    attrition report, the artifact a data curator actually reviews.

    Returns ``(clean_docs, report)``:
      - ``clean_docs``: [id, text] — the surviving corpus;
      - ``report``: [stage, stage_name, n_docs, id_digest] — one row
        per stage (0=input, 1=blocklist, 2=exact_dedup, 3=near_dedup)
        where ``id_digest`` is the bit-XOR of the survivors' 60-bit
        md5-prefix id hashes: an order-free, overflow-free set digest
        that pins WHICH documents survive, not just how many (two
        different survivor sets of equal size collide with
        probability ~2^-60).

    Composition is sound because each stage's decision depends only on
    per-document state (blocklist tokens, content hash, SimHash
    fingerprint) — the SimHash pair set of a SUBSET equals the full
    pair set restricted to that subset, so stage order is semantics,
    not an approximation. Each stage's survivor frame is
    localCheckpoint'ed: it feeds both the next stage and the report
    aggregate, and the cascade's lineage would otherwise re-run the
    tokenize scans once per consumer.
    """
    from pydi_spark.clustering.connected_components import (
        connected_components,
    )
    from pydi_spark.llmdata.dedup import (
        _token_hash60,
        simhash_near_duplicates,
    )
    from pydi_spark.llmdata.textstats import blocklist_filter

    s0 = df.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(text_col).alias("text"),
    )
    # stage 1: blocklist gate
    keep1 = blocklist_filter(
        df, blocklist, text_col=text_col, id_col=id_col, mode="token"
    ).where(F.col("keep") == 1).select("id")
    s1 = s0.join(keep1, "id", "left_semi").localCheckpoint(eager=False)
    # stage 2: exact dedup — min string id per content hash survives
    canon = s1.groupBy(F.md5(F.col("text")).alias("h")).agg(
        F.min("id").alias("id")
    )
    s2 = s1.join(canon.select("id"), "id", "left_semi").localCheckpoint(eager=False)
    # stage 3: SimHash near-dup — CC keep-min among stage-2 survivors
    pairs = simhash_near_duplicates(
        s2, text_col="text", id_col="id", max_hamming=max_hamming
    ).select("id1", "id2")
    assign = connected_components(pairs)
    dropped = assign.where(
        F.col("record_id") != F.col("cluster_id")
    ).select(F.col("record_id").alias("id"))
    s3 = s2.join(dropped, "id", "left_anti").localCheckpoint(eager=False)

    def stage_row(frame: DataFrame, stage: int, name: str) -> DataFrame:
        return frame.agg(
            F.lit(stage).alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count("*").alias("n_docs"),
            F.bit_xor(_token_hash60(F.col("id"))).alias("id_digest"),
        ).select("stage", "stage_name", "n_docs", "id_digest")

    report = (
        stage_row(s0, 0, "input")
        .unionByName(stage_row(s1, 1, "blocklist"))
        .unionByName(stage_row(s2, 2, "exact_dedup"))
        .unionByName(stage_row(s3, 3, "near_dedup"))
    )
    return s3, report

def novelty_scores(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document novelty vs a REFERENCE CORPUS: [doc_id, n_ngrams,
    n_novel, novelty_ppm] where novelty_ppm = distinct word n-grams NOT
    present anywhere in the reference, in exact integer ppm. The
    curation dual of ``decontaminate``: decontamination asks "does this
    training doc leak the eval set" (small eval side, broadcast);
    novelty asks "does this incoming batch add anything the corpus does
    not already have" (reference IS the corpus, so the gram join must
    SHUFFLE on the hash key — no broadcast anywhere). Used to rank
    crawl batches by marginal value before paying full-dedup cost.

    Scale: batch grams dedup per doc (one exchange), reference grams
    dedup globally (one exchange, cardinality-bounded output), then an
    equi-join on the 32-char md5 key co-partitioned by gram hash. No
    reference counterpart — north-star addition.
    """
    batch = _word_ngram_rows(df, text_col, id_col, n).dropDuplicates(
        ["doc_id", "gh"]
    )
    ref = (
        _word_ngram_rows(reference, text_col, id_col, n)
        .select("gh")
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    joined = batch.repartition(plansize.core_width(df.sparkSession), "gh").join(
        ref, "gh", "left"
    )
    out = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        (F.count(F.lit(1)) - F.coalesce(F.sum("__seen"), F.lit(0))).alias(
            "n_novel"
        ),
    )
    return out.select(
        "doc_id",
        F.col("n_ngrams").cast("long").alias("n_ngrams"),
        F.col("n_novel").cast("long").alias("n_novel"),
        F.expr("n_novel * 1000000 div n_ngrams").cast("long").alias(
            "novelty_ppm"
        ),
    )
