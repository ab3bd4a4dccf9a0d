"""Lexical search over a document corpus: inverted index + BM25.

North-star adds (the reference has no retrieval surface): build the
posting lists a search system needs, and rank documents for a keyword
query with a BM25-family score.

Scale design: everything derives from ONE tokenize+explode pass.
The inverted index is a single groupBy(token) with map-side partial
aggregation; posting lists are bounded per token (cap + deterministic
order) so a head token cannot produce an unbounded row. BM25 computes
per-(doc, term) term frequencies with conditional aggregation in the
same per-doc pass (no per-term join), and the corpus statistics it
needs (N, avgdl, per-term document frequencies) reduce to ONE scalar
row that broadcasts.

Float determinism: the score for each term is an explicit arithmetic
expression combined in a FIXED order (term list order), and the idf is
the raw-ratio Robertson form WITHOUT the log — ln() differs in the
last ulp across engines (NOTES.md invariant 1), a monotone rational
idf keeps every double bit-identical cross-engine while preserving the
ranking behavior that matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.functions.tokenize import word_tokens


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(text_col)).alias("token"),
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int = 1000,
) -> DataFrame:
    """Posting lists: [token, doc_freq, total_tf, postings] where
    ``postings`` is ``"doc:tf"`` pairs joined by ``,`` in ascending
    doc_id order, truncated to ``max_postings`` entries (the full
    doc_freq is still reported, so truncation is visible).

    The per-token list is assembled with collect_list over pre-reduced
    (doc, tf) counts — the shuffle carries one small struct per
    (token, doc), never text.
    """
    tf = (
        _tokens(df, text_col, id_col)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("tf").alias("total_tf"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
                        1,
                        max_postings,
                    ),
                    lambda x: F.concat_ws(":", x["doc_id"], x["tf"]),
                ),
                ",",
            ).alias("postings"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25 with
    raw-ratio idf: ``idf(t) = (N - df + 0.5) / (df + 0.5)`` (Robertson
    idf without the ln — monotone in df, cross-engine bit-exact) and
    the standard length-normalized tf saturation
    ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``.

    Output: [doc_id, score, rank] — rank 1..k by (score desc, doc_id),
    zero-score documents excluded. One tokenize pass, one per-doc
    aggregate, one broadcast scalar join, one top-k window.
    """
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = _tokens(df, text_col, id_col)
    # per-doc: document length + tf of each query term, one pass
    aggs = [F.count("*").alias("dl")] + [
        F.sum((F.col("token") == F.lit(t)).cast("bigint")).alias(f"tf_{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    # corpus scalars: N, avgdl, df per term — one 1-row frame
    stat_aggs = [
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ] + [
        F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(f"df_{i}")
        for i in range(len(terms))
    ]
    stats = per_doc.agg(*stat_aggs)
    j = per_doc.crossJoin(F.broadcast(stats))

    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    score = None
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        denom = tf + F.lit(float(k1)) * (
            F.lit(1.0 - float(b))
            + F.lit(float(b)) * (F.col("dl").cast("double") / avgdl)
        )
        term_score = idf * (tf * F.lit(float(k1) + 1.0) / denom)
        score = term_score if score is None else score + term_score
    scored = j.select("doc_id", score.alias("score")).where(F.col("score") > 0)
    # top-k via sort+limit (TakeOrderedAndProject — per-partition heaps,
    # no global shuffle), THEN rank the k survivors; a bare row_number
    # window here would funnel the whole corpus through one partition
    topk = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("int"))


def cosine_rank(
    emb: DataFrame,
    query_vec: list[float],
    n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``n`` corpus vectors by cosine against ONE literal query
    vector: [id, cos, rank], rank 1..n by (cos desc, id asc).

    The query enters as an inlined double-array literal, so the scan is
    a single map pass over the corpus (no join at all); top-n is
    sort+limit (per-partition heaps), never a global window over the
    corpus. The fold arithmetic is float64 end-to-end — bit-identical
    to DuckDB's list_cosine_similarity (NOTES.md invariant 1).
    """
    from pydi_spark.llmdata.similarity import cosine_expr

    qlit = F.array(*[F.lit(float(x)).cast("double") for x in query_vec])
    scored = emb.select(
        F.col(id_col).alias("id"),
        cosine_expr(qlit, F.col(vec_col)).alias("cos"),
    )
    top = scored.orderBy(F.desc("cos"), F.asc("id")).limit(int(n))
    w = Window.orderBy(F.desc("cos"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 20,
    rrf_k: int = 60,
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    lists: ``score(d) = Σ_i 1 / (rrf_k + rank_i(d))`` over the lists
    that contain ``d``. Output: [id, rank_0..rank_{N-1}, rrf_score,
    rank] — per-list ranks are 0 when the list misses the document.

    Scale shape: each input is already a top-n list (user-request
    sized), so the full-outer-join chain is tiny regardless of corpus
    size; all corpus-scale work happened inside the rankers. The score
    is a FIXED-ORDER sum of ``1.0/(rrf_k + rank)`` terms — identical
    literal expressions on both engines keep every double bit-exact
    (no transcendentals, NOTES.md invariant 1).
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    fused = None
    for i, r in enumerate(rankings):
        side = r.select(
            F.col(id_col).alias("id"), F.col(rank_col).alias(f"rank_{i}")
        )
        fused = side if fused is None else fused.join(side, "id", "full_outer")
    score = None
    rank_cols = []
    for i in range(len(rankings)):
        c = F.coalesce(F.col(f"rank_{i}"), F.lit(0)).cast("int")
        rank_cols.append(c.alias(f"rank_{i}"))
        term = F.when(
            F.col(f"rank_{i}").isNotNull(),
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"rank_{i}").cast("double")),
        ).otherwise(F.lit(0.0))
        score = term if score is None else score + term
    out = fused.select("id", *rank_cols, score.alias("rrf_score"))
    top = out.orderBy(F.desc("rrf_score"), F.asc("id")).limit(int(k))
    w = Window.orderBy(F.desc("rrf_score"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 20,
    n_each: int = 50,
    rrf_k: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval: BM25 top-``n_each`` and
    cosine top-``n_each`` fused by reciprocal rank. Output:
    [doc_id, lex_rank, sem_rank, rrf_score, rank] (absent-from-list
    ranks are 0). The standard first-stage retriever for RAG over a
    training corpus; beyond the reference (PyDI has no retrieval
    surface — north-star operator)."""
    lex = bm25_scores(
        docs, query_terms, k=n_each, text_col=text_col, id_col=id_col
    ).select(F.col("doc_id").alias("id"), "rank")
    sem = cosine_rank(
        emb, query_vec, n=n_each, id_col=emb_id_col, vec_col=vec_col
    ).select("id", "rank")
    fused = rrf_fuse([lex, sem], k=k, rrf_k=rrf_k)
    return fused.select(
        F.col("id").alias(id_col),
        F.col("rank_0").alias("lex_rank"),
        F.col("rank_1").alias("sem_rank"),
        "rrf_score",
        "rank",
    )


def rerank_topk(
    candidates: DataFrame,
    docs: DataFrame,
    query_terms: list[str],
    scorer_factory=None,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Second-stage reranking of first-stage retrieval candidates:
    fetch each candidate's text (ONE key-join — candidates are
    request-sized, the corpus was already pruned by BM25/ANN/RRF),
    score every (query, document) pair with an injectable scorer, and
    return the top-``k`` as [doc_id, score, rank].

    ``scorer_factory()`` must return a callable
    ``(terms: list[str], texts: list[str]) -> list[float]`` — the
    cross-encoder seam. It is created ONCE PER EXECUTOR TASK inside
    mapInPandas (model load amortized over the Arrow batch, the
    PLMBasedMatcher pattern, matching/model_based.py). The default is a
    deterministic distinct-term-overlap scorer, exactly replayable in
    SQL — production injects a real model client here.
    """
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if scorer_factory is None:
        def scorer_factory():  # noqa: D401 - default fake
            import re

            # ascii split, written identically in the SQL oracle (RE2)
            # — NOT the engine's \p{L}\p{N} tokenizer, whose unicode
            # boundaries Python's stdlib re cannot reproduce exactly
            splitter = re.compile(r"[^a-z0-9#']+")

            def score(ts, texts):
                out = []
                for txt in texts:
                    toks = set(t for t in splitter.split((txt or "").lower()) if t)
                    out.append(float(sum(1 for t in ts if t in toks)))
                return out

            return score

    cand_ids = candidates.select(F.col(id_col).alias("__cid"))
    fetched = docs.join(
        F.broadcast(cand_ids), F.col(id_col) == F.col("__cid"), "left_semi"
    ).select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text"))

    import pandas as pd  # noqa: F401

    out_schema = "doc_id string, score double"

    def scorer(batches):
        fn = scorer_factory()
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "score": fn(terms, list(pdf["__text"])),
                }
            )

    scored = fetched.withColumn("doc_id", F.col("doc_id").cast("string")).mapInPandas(
        scorer, out_schema
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def phrase_match(
    df: DataFrame,
    phrase: str | list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """[doc_id, n_matches] — documents containing the EXACT token
    phrase (terms adjacent, in order, under word_tokens tokenization),
    with occurrence counts. OVERLAPPING occurrences count separately
    ("batch batch batch" contains "batch batch" twice) — the
    positional-index semantics, not substring-replace counting.

    The missing piece between bag-of-words BM25 (any order, any gap)
    and exact-substring span search (byte-level): phrase queries are
    how a retrieval stack matches named entities and idioms.

    Scale design — the classic positional-index trick with NO
    positional index stored: posexplode the tokens once, broadcast-join
    the tiny (k, term) phrase table (the join IS the filter — only
    phrase terms survive the probe), normalize each hit to its
    candidate start ``base = pos - k``, then one map-side-combinable
    (doc, base) aggregate keeps bases covered by ALL n distinct phrase
    slots. One shuffle on (doc, base); repeated terms in the phrase
    are handled naturally (one token row fans out to every slot k it
    could fill).

    No reference counterpart — north-star addition.
    """
    import re as _re

    if isinstance(phrase, str):
        terms = [
            t for t in _re.split(r"[^0-9a-zA-Z#']+", phrase.lower()) if t
        ]
    else:
        terms = [str(t).lower() for t in phrase]
    if not terms:
        raise ValueError(f"phrase has no tokens: {phrase!r}")
    n = len(terms)
    spark = df.sparkSession
    slots = rows_to_df(
        spark,
        [(i, t) for i, t in enumerate(terms)], "k int, term string"
    )
    pos = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_tokens(text_col)).alias("pos", "token"),
    )
    tagged = pos.join(
        F.broadcast(slots), pos["token"] == slots["term"]
    ).select(
        "doc_id", (F.col("pos") - F.col("k")).alias("base"), "k"
    )
    per_base = (
        tagged.groupBy("doc_id", "base")
        .agg(F.count_distinct("k").alias("nk"))
        .where(F.col("nk") == F.lit(n))
    )
    return per_base.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches")
    )
