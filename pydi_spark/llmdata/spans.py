"""Exact-substring (repeated token-span) dedup statistics.

Training corpora carry verbatim repeated passages (boilerplate,
licenses, syndicated text). Exact-substring deduplication (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better",
arXiv:2107.06499) removes token spans that recur across documents;
this module computes the detection side at corpus scale: which
fixed-length token spans repeat, and how much of each document they
cover.

Scale design: spans come from ONE posexplode + window-lead pass (the
codegen'd shingle idiom from dedup.py — NOTES.md perf lesson); the
repeat test is a groupBy on the 32-char md5 of the span (shuffles
hashes, never text); coverage is an explode of position ranges +
count(distinct pos) — every stage partition-parallel, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.functions.tokenize import word_tokens


def exact_span_stats(
    df: DataFrame,
    span_tokens: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document repeated-span coverage.

    A *span* is ``span_tokens`` consecutive word tokens; a span is
    *repeated* when its text occurs in at least ``min_docs`` distinct
    documents. A token position is *covered* when any repeated span
    contains it.

    Output: [doc_id, n_tokens, n_spans, n_repeated_spans,
    n_covered_tokens, coverage_ratio] — documents shorter than one
    span have zero spans and zero coverage.
    """
    n = int(span_tokens)
    toks = word_tokens(F.col(text_col))
    tok_rows = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    wpos = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("tok", j).over(wpos).alias(f"t{j}") for j in range(1, n)]
    # spans feeds the duplicate vote, the per-doc counts and (via the
    # repeated flag) coverage. Its consumers re-derive from the SAME
    # doc_id-partitioned window exchange, which runtime ReuseExchange
    # shares (r12: an eager localCheckpoint here was measured WORSE,
    # 1.5 -> 2.0 s at sf0.1 — the barrier jobs cost more than the
    # reuse saves); the flag restructure below still folds the two
    # per-doc count aggregates into one
    spans = (
        tok_rows.select("doc_id", "pos", "tok", *lead_cols)
        .where(F.col(f"t{n - 1}").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])
            ).alias("h"),
        )
    )
    repeated = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .where(F.col("__nd") >= int(min_docs))
        .select("h")
    )
    # left join + flag instead of a semi-join: the SAME joined frame
    # then yields both per-doc count aggregates in one groupBy
    # (repeated has distinct h, so the join never multiplies rows)
    flagged = spans.join(
        repeated.withColumn("__r", F.lit(1)), "h", "left"
    )
    coverage = (
        flagged.where(F.col("__r") == 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("p").alias("n_covered_tokens"))
    )
    span_counts = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.coalesce(F.sum("__r"), F.lit(0)).cast("bigint").alias(
            "n_repeated_spans"
        ),
    )
    per_doc = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    out = (
        per_doc.join(span_counts, "doc_id", "left")
        .join(coverage, "doc_id", "left")
        .na.fill(
            0, ["n_spans", "n_repeated_spans", "n_covered_tokens"]
        )
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_repeated_spans",
        "n_covered_tokens",
        F.when(F.col("n_tokens") > 0,
               F.col("n_covered_tokens").cast("double")
               / F.col("n_tokens").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("coverage_ratio"),
    )


def remove_repeated_spans(
    df: DataFrame,
    span_tokens: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level exact-substring DEDUP (the destructive counterpart
    of :func:`exact_span_stats`; Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" — the reference has no
    such operator, this is training-pipeline surface): every
    ``span_tokens``-gram occurring in >= ``min_docs`` documents keeps
    its FIRST corpus occurrence (minimum (doc_id, pos)) and every
    other occurrence's token positions are dropped from the text.

    Deterministic by construction — the survivor per span hash is a
    total-order minimum, so re-runs and different partitionings give
    identical output (partition-independence pytest-pinned).

    Output: [doc_id, clean_text, n_tokens_total, n_tokens_kept].

    Scale shape: one tokenize pass (posexplode + window leads — the
    codegen'd shingle pattern, NOTES.md), one narrow (hash) shuffle
    for the duplicate-span vote, one (hash) window for first
    occurrence, a position-explode bounded by span hits, and one
    per-doc reassembly aggregate. md5 span keys keep the shuffle rows
    small; raw text moves only in the initial scan and the final
    aggregate.
    """
    n = int(span_tokens)
    toks = word_tokens(F.col(text_col))
    tok_rows = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "tok"),
    ).localCheckpoint(eager=False)  # feeds spans AND the reassembly
    wpos = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("tok", j).over(wpos).alias(f"t{j}") for j in range(1, n)]
    spans = (
        tok_rows.select("doc_id", "pos", "tok", *lead_cols)
        .where(F.col(f"t{n - 1}").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])
            ).alias("h"),
        )
    )
    repeated = (
        spans.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .where(F.col("__nd") >= int(min_docs))
        .select("h")
    )
    # non-first occurrences of repeated spans: rank under the global
    # (doc_id, pos) total order per hash — rank 1 survives
    wh = Window.partitionBy("h").orderBy("doc_id", "pos")
    dropped_spans = (
        spans.join(repeated, "h", "left_semi")
        .withColumn("__rk", F.row_number().over(wh))
        .where(F.col("__rk") > 1)
    )
    covered = dropped_spans.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("pos"),
    ).dropDuplicates(["doc_id", "pos"])
    kept = tok_rows.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_tokens_kept"),
    )
    totals = tok_rows.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens_total")
    )
    base = df.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens_total", F.lit(0)).alias("n_tokens_total"),
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
        )
    )
