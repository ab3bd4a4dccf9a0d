"""Distributed byte-pair-encoding: merge-rule training over a corpus
and two segmentation modes.

North-star operator (the reference has no subword surface; its token
counting is regex-based): a training-data pipeline needs a learned
subword vocabulary for token-budget accounting and vocabulary design.

Scale design: all corpus-scale work happens ONCE — tokenize + explode
+ groupBy(word) reduces the corpus to its word-frequency table (vocab-
sized, distributed, map-side combined). Training and segmentation then
operate on word TYPES weighted by frequency, never on raw tokens, so a
100 TB corpus costs one aggregation pass plus vocab-sized iterations.
Each merge step is one groupBy over adjacent symbol pairs (posexplode +
lead — codegen'd, not a higher-order fold; NOTES.md perf lesson) and a
1-row argmax collect; the merge table itself is tiny and driver-held,
exactly like the reference pattern for trained artifacts (PQ codebooks,
LSH hyperplanes).

Two apply modes:

- ``merge_replay`` (default for oracle-checked queries): each merge
  ``(a, b) -> ab`` is ONE literal string ``replace`` on the symbol
  string. Symbols are separated by TWO spaces (`` ``a``  ``b`` ``) and
  the pattern `` a  b `` consumes exactly one boundary space on each
  side, so char-level leftmost-non-overlapping replace IS symbol-level
  leftmost-greedy merging — canonical, in a single pass (with
  single-space boundaries a match eats the next occurrence's leading
  space and skips alternating links of a chain). Replace semantics are
  IDENTICAL in Spark and DuckDB, so the whole segmentation replays as
  one SQL expression chain.
- ``greedy`` (canonical, GPT-2-style ranked apply): repeatedly merge
  the lowest-rank adjacent pair present in the word. Arrow-batched
  pandas UDF over word TYPES (vocab-sized input, not corpus-sized);
  pytest-pinned against a pure-Python reference. Equivalent to
  merge_replay (a pair containing a merged symbol can only be learned
  AFTER the merge that created the symbol, so rank order == training
  order); the equivalence is pinned by a corpus test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.functions.tokenize import word_tokens


def word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    word_filter: str | None = r"^[a-z0-9]+$",
) -> DataFrame:
    """Corpus word-frequency table [word, freq] — the ONE corpus-scale
    pass everything else derives from. ``word_filter`` (Java/RE2-common
    regex, no lookarounds) drops tokens outside the modeled alphabet;
    None keeps every word token."""
    toks = df.select(F.explode(word_tokens(text_col)).alias("word"))
    if word_filter:
        toks = toks.where(F.col("word").rlike(word_filter))
    return toks.groupBy("word").agg(F.count("*").alias("freq"))


def symbol_string_expr(word_col: Column | str) -> Column:
    """``  a  b  c  `` — the word split into single-character symbols,
    DOUBLE-space separated with double boundary spaces at both ends.
    Every boundary being two spaces is what makes one replace pass per
    merge canonical: the pattern `` a  b `` consumes one space from
    each side's boundary, leaving the other for the adjacent match."""
    c = F.col(word_col) if isinstance(word_col, str) else word_col
    return F.concat(F.lit("  "), F.regexp_replace(c, "(.)", "$1  "))


def merge_replay_expr(
    sym_col: Column | str, merges: list[tuple[str, str]]
) -> Column:
    """Apply ``merges`` in order to a symbol-string column: each merge
    is one replace of `` a  b `` (space, a, two spaces, b, space) with
    `` ab `` — symbol-level leftmost-greedy, canonical BPE."""
    c = F.col(sym_col) if isinstance(sym_col, str) else sym_col
    for a, b in merges:
        c = F.replace(c, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return c


def pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol-pair frequencies [a, b, cnt] over a word table
    carrying [word, freq, sym]. Overlapping occurrences all count
    (Sennrich-style). posexplode + lead over (word, pos) — codegen'd;
    the HOF slice/zip chain is interpreted and ~3x slower at scale."""
    syms = words.select(
        "word",
        "freq",
        F.posexplode(F.split(F.trim(F.col("sym")), "  ")).alias("pos", "a"),
    )
    w = Window.partitionBy("word").orderBy("pos")
    pairs = syms.withColumn("b", F.lead("a").over(w)).where(F.col("b").isNotNull())
    return pairs.groupBy("a", "b").agg(F.sum("freq").alias("cnt"))


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 20,
    min_freq: int = 2,
    text_col: str = "text",
    word_filter: str | None = r"^[a-z0-9]+$",
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a corpus. Returns the
    ordered merge list (the trained artifact — inline it as literals in
    anything that must be SQL-replayable, the PQ-codebook pattern).

    Sequential by nature (merge i+1's counts depend on merge i), so the
    driver loops; per iteration the cluster does ONE vocab-sized pair
    aggregation and ships back a single argmax row. The word table is
    localCheckpoint'ed every ``checkpoint_every`` merges so the replace
    lineage never deepens past a few expressions (same lineage-cut
    lesson as the dedup intermediates, NOTES.md). Argmax tie-break is
    the total order (cnt desc, a asc, b asc) — deterministic regardless
    of partitioning."""
    words = (
        word_frequencies(df, text_col, word_filter)
        .withColumn("sym", symbol_string_expr("word"))
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[str, str]] = []
    for i in range(int(n_merges)):
        best = (
            pair_counts(words)
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .first()
        )
        if best is None or best["cnt"] < min_freq:
            break
        a, b = best["a"], best["b"]
        merges.append((a, b))
        words = words.withColumn("sym", merge_replay_expr("sym", [(a, b)]))
        if (i + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def greedy_apply(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Canonical ranked-greedy BPE apply (pure Python, the pytest
    reference and the pandas-UDF kernel): repeatedly merge every
    leftmost-non-overlapping occurrence of the lowest-rank adjacent
    pair present."""
    pieces = list(word)
    while len(pieces) > 1:
        best_rank, best_pair = None, None
        for pair in zip(pieces, pieces[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        a, b = best_pair
        out, i = [], 0
        while i < len(pieces):
            if i + 1 < len(pieces) and pieces[i] == a and pieces[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(pieces[i])
                i += 1
        pieces = out
    return pieces


def bpe_segment(
    words: DataFrame,
    merges: list[tuple[str, str]],
    mode: str = "merge_replay",
) -> DataFrame:
    """Segment a word table [word, freq] into subword pieces:
    [word, freq, pieces] with ``pieces`` space-joined. ``merge_replay``
    is pure Column expressions (SQL-replayable); ``greedy`` is the
    canonical ranked apply as an Arrow-batched pandas UDF — both run
    over word TYPES, so corpus size never reaches them."""
    if mode == "merge_replay":
        sym = merge_replay_expr(symbol_string_expr("word"), merges)
        # collapse the double-space separators to single for the output
        return words.withColumn(
            "pieces", F.replace(F.trim(sym), F.lit("  "), F.lit(" "))
        )
    if mode == "greedy":
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        ranks = {tuple(m): i for i, m in enumerate(merges)}

        def _seg(s):
            return s.map(lambda w: " ".join(greedy_apply(w, ranks)))

        _seg.__annotations__ = {"s": pd.Series, "return": pd.Series}
        seg = pandas_udf(_seg, "string")
        return words.withColumn("pieces", seg(F.col("word")))
    raise ValueError(f"unknown mode: {mode}")


def piece_stats(segmented: DataFrame, top_n: int = 40) -> DataFrame:
    """Top-``top_n`` subword pieces by corpus frequency:
    [piece, n_words, total_count, rank] — n_words counts word TYPES
    containing the piece, total_count is occurrence-weighted by word
    frequency. Top-n is sort+limit (TakeOrderedAndProject), then the
    rank window runs over only the survivors."""
    exploded = segmented.select(
        "word", "freq", F.explode(F.split(F.col("pieces"), " ")).alias("piece")
    )
    stats = exploded.groupBy("piece").agg(
        F.count_distinct("word").alias("n_words"),
        F.sum("freq").alias("total_count"),
    )
    top = stats.orderBy(F.desc("total_count"), F.asc("piece")).limit(int(top_n))
    w = Window.orderBy(F.desc("total_count"), F.asc("piece"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def bpe_fertility(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    group_col: str = "source",
    word_filter: str | None = r"^[a-z0-9]+$",
) -> DataFrame:
    """Tokenizer fertility per group: [grp, total_words, total_pieces,
    fertility_ppm] where fertility = pieces emitted per word occurrence
    under the merge table (the metric a vocab is sized against — a
    fertility of 2e6 ppm means every word costs two subword tokens).
    Exact integer arithmetic (pieces*1e6 div words).

    Same scale shape as segmentation: one corpus pass reduces to
    (group, word type) counts; the replay and piece counting run over
    types, weighted back by frequency."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(word_tokens(F.col(text_col))).alias("word"),
    )
    if word_filter:
        toks = toks.where(F.col("word").rlike(word_filter))
    wf = toks.groupBy("grp", "word").agg(F.count("*").alias("freq"))
    sym = merge_replay_expr(symbol_string_expr("word"), merges)
    pieces = F.size(F.split(F.trim(sym), "  "))
    per_word = wf.withColumn("n_pieces", pieces.cast("long"))
    return (
        per_word.groupBy("grp")
        .agg(
            F.sum("freq").alias("total_words"),
            F.sum(F.col("freq") * F.col("n_pieces")).alias("total_pieces"),
        )
        .withColumn(
            "fertility_ppm",
            F.expr("total_pieces * CAST(1000000 AS BIGINT) div total_words"),
        )
    )
