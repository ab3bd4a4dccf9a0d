"""Similarity search over embedding columns (array<float>).

North-star operator (BASELINE.json): approximate nearest neighbour over
an embedding column. Baseline = brute-force cosine top-k as native
expressions (zip_with dot product — JVM-side, codegen'd); scale path =
LSH-bucketed candidates (random hyperplanes) with exact re-scoring —
both sides stay distributed, no driver collection of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, fully native."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return dot / (F.sqrt(sq(a)) * F.sqrt(sq(b)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    query_vec_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """[query_id, neighbor_id, cosine, rank]: exact top-k by cosine.

    The query side is broadcast (queries are user-request sized); the
    corpus side streams — the join is a broadcast nested loop producing
    |corpus| x |queries| scored rows, pruned by a per-query top-k window.
    Deterministic: rank orders by (rounded score desc, neighbor id).
    """
    qid = query_id_col or id_col
    qvec = query_vec_col or vec_col
    q = F.broadcast(
        queries.select(
            F.col(qid).cast("string").alias("query_id"),
            F.col(qvec).alias("__qvec"),
        )
    )
    c = corpus.select(
        F.col(id_col).cast("string").alias("neighbor_id"),
        F.col(vec_col).alias("__cvec"),
    )
    scored = q.crossJoin(c).withColumn(
        "cosine", cosine_expr(F.col("__qvec"), F.col("__cvec"))
    )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cosine"), 6)), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("cosine"), "rank")
    )


def auto_n_centroids(n_rows: int) -> int:
    """Size-aware IVF cell-count default: ~sqrt(n) clamped to [16, 4096].

    A fixed small cell count caps the probe equi-join's key domain (and
    therefore its parallelism) regardless of corpus size; sqrt(n) keeps
    both the per-cell scan and the number of cells growing sub-linearly.
    """
    return max(16, min(4096, int(max(n_rows, 0) ** 0.5)))


def _kmeans_centroids(
    corpus: DataFrame,
    vec_col: str,
    n_centroids: int,
    sample_size: int,
    seed: int,
    iters: int = 10,
    n_rows: int | None = None,
):
    """Driver-side Lloyd iterations on a sample (centroid table is tiny;
    the reference pattern for IVF training everywhere). Deterministic
    given seed."""
    import numpy as np

    n = corpus.count() if n_rows is None else n_rows
    frac = min(1.0, sample_size * 1.2 / max(n, 1))
    sample = corpus.select(vec_col).sample(fraction=frac, seed=seed).limit(sample_size)
    X = np.array([r[vec_col] for r in sample.collect()], dtype=np.float32)
    if len(X) == 0:
        # empty corpus: no cells — callers treat a (0, 0) centroid
        # matrix as "assign nothing" (round-6 empty-input sweep)
        return np.zeros((0, 0), dtype=np.float32)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    nprobe: int = 3,
    sample_size: int = 2000,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF approximate top-k: k-means cells + probe-limited exact search.

    Train centroids on a sample (driver), broadcast them, assign every
    corpus vector to its nearest cell and every query to its ``nprobe``
    nearest cells, equi-join on cell id, re-score exactly with the
    native cosine expression. The scale path when LSH recall tuning is
    awkward: the corpus is scanned once, the join is an equi-join on a
    bounded key domain, and recall/cost trades directly via nprobe.

    ``n_centroids=None`` (default) sizes the cell count from the corpus
    row count (``auto_n_centroids``: ~sqrt(n) clamped to [16, 4096]) —
    the cell-id key domain bounds the probe join's parallelism, so a
    fixed default would cap a corpus-scale join at that many partitions.
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    n_rows = corpus.count()
    if n_centroids is None:
        n_centroids = auto_n_centroids(n_rows)
    C = _kmeans_centroids(
        corpus, vec_col, n_centroids, sample_size, seed, n_rows=n_rows
    )
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def assigner(n_cells: int, out_id: str):
        schema = StructType(
            [
                StructField(out_id, StringType()),
                StructField("vec", ArrayType(FloatType())),
                StructField("cell", IntegerType()),
            ]
        )

        def assign(batches):
            import pandas as pd

            Cm = bc.value
            for pdf in batches:
                if len(pdf) == 0 or Cm.size == 0:
                    continue
                M = np.array(list(pdf["vec"]), dtype=np.float32)
                M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
                sims = M @ Cm.T
                order = np.argsort(-sims, axis=1, kind="stable")[:, :n_cells]
                rows = []
                for i in range(len(pdf)):
                    for c in order[i]:
                        rows.append((pdf[out_id].iloc[i], pdf["vec"].iloc[i], int(c)))
                yield pd.DataFrame(rows, columns=[out_id, "vec", "cell"])

        return assign

    c_base = corpus.select(
        F.col(id_col).cast("string").alias("neighbor_id"), F.col(vec_col).alias("vec")
    )
    q_base = queries.select(
        F.col(id_col).cast("string").alias("query_id"), F.col(vec_col).alias("vec")
    )
    c_cells = c_base.mapInPandas(
        assigner(1, "neighbor_id"),
        "neighbor_id string, vec array<float>, cell int",
    )
    q_cells = q_base.mapInPandas(
        assigner(nprobe, "query_id"),
        "query_id string, vec array<float>, cell int",
    ).withColumnRenamed("vec", "qvec")

    # no pair-dedup needed: each corpus vector is assigned to exactly ONE
    # cell (assigner(1, ...)), so a (query, neighbor) pair can appear at
    # most once — a dropDuplicates here would add a full-width shuffle of
    # the scored rows WITH both vectors attached for nothing
    joined = q_cells.join(c_cells.withColumnRenamed("vec", "cvec"), "cell")
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.withColumn("cosine", cosine_expr(F.col("qvec"), F.col("cvec")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("cosine"), 6)), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.0,
    lsh_bits: int = 16,
    lsh_bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: LSH band join + exact cosine re-scoring.

    Both sides distributed; recall < 1 (tunable via bits/bands). The
    scale path when queries are corpus-sized (all-pairs kNN joins).
    """
    from pydi_spark.blocking.embedding import EmbeddingBlocker

    blocker = EmbeddingBlocker(
        vector_column=vec_col,
        method="lsh",
        top_k=k,
        threshold=threshold,
        lsh_bits=lsh_bits,
        lsh_bands=lsh_bands,
        seed=seed,
    )
    pairs = blocker.block(queries, corpus, id_column=id_col)
    w = Window.partitionBy("id1").orderBy(
        F.desc(F.round(F.col("score"), 6)), F.col("id2")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("id1").alias("query_id"),
            F.col("id2").alias("neighbor_id"),
            F.col("score").alias("cosine"),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ top-k [id, cell, adc_micro, rank] — the FAISS-style
    composition that makes billion-vector ANN tractable: a coarse
    quantizer routes each vector to a cell, the RESIDUAL
    (vector - cell centroid) is product-quantized, and a query scans
    only its ``nprobe`` nearest cells, ranking by asymmetric distance
    against per-cell residual lookup tables. Jegou et al. 2011 §IV.

    Determinism: assignments are min_by aggregates over the UNIQUE
    (bit-deterministic squared-L2 fold, cell index) struct order; ADC
    tables are computed driver-side with the SAME float ops and
    floored to micro-ints, so the per-id ADC sum is an exact integer
    aggregate; probed cells are chosen driver-side from the same
    distance fold (ties on cell).

    Scale design: the coarse centroid table (n_cells rows) and the
    per-cell distance tables (nprobe x n_subspaces x n_centroids rows)
    are broadcasts; coarse assignment and PQ encode are min_by hash
    aggregates — candidate rows collapse map-side before the one
    corpus exchange each — then the query scans only the
    (id, cell, subspace, code) quads of probed cells: the candidate
    set shrinks by ~nprobe/n_cells before any distance work, and the
    PQ codes are bytes, not float payloads. Train both stages on
    samples (train_pq_codebooks / _kmeans_centroids); this function
    takes them as data so the whole search path is oracle-checkable."""
    import math

    from pydi_spark.llmdata.embeddings import _sq_l2, pq_encode

    spark = corpus.sparkSession
    n_cells = len(coarse_centroids)
    cent_rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(coarse_centroids)
    ]
    cents = F.broadcast(
        rows_to_df(spark, cent_rows, "cell int, ccvec array<double>")
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = (
        corpus.select(F.col(id_col).alias("id"), v.alias("__v"))
        .crossJoin(cents)
        .select(
            "id",
            "__v",
            "cell",
            "ccvec",
            _sq_l2(F.col("__v"), F.col("ccvec")).alias("d"),
        )
    )
    # argmin via min_by over the unique (d, cell) struct order — a hash
    # aggregate with map-side partial combine (__v is constant per id,
    # so first() is deterministic)
    best = scored.groupBy("id").agg(
        F.min_by(F.struct("cell", "ccvec"), F.struct("d", "cell")).alias(
            "__best"
        ),
        F.first("__v").alias("__v"),
    )
    assigned = best.select(
        "id",
        F.col("__best.cell").alias("cell"),
        F.zip_with(
            F.col("__v"), F.col("__best.ccvec"), lambda x, y: x - y
        ).alias("residual"),
    )
    # two consumers (encode + cell re-join) — checkpoint so the coarse
    # assignment aggregate runs once
    assigned = assigned.localCheckpoint(eager=False)
    codes = pq_encode(assigned, codebooks, id_col="id", vec_col="residual")
    codes = codes.join(assigned.select("id", "cell"), "id")

    # driver-side: probed cells + per-cell residual ADC tables, the
    # same left-fold float ops as the distributed side
    q = [float(x) for x in query]

    def sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    cell_d = sorted(
        (sq(q, c), i) for i, c in enumerate(coarse_centroids)
    )
    probed = sorted(i for _, i in cell_d[: max(1, int(nprobe))])
    sub = len(codebooks[0][0])
    dt_rows = []
    for cell in probed:
        qres = [x - y for x, y in zip(q, coarse_centroids[cell])]
        for s, cb in enumerate(codebooks):
            qs = qres[s * sub : (s + 1) * sub]
            for ci, cent in enumerate(cb):
                dt_rows.append(
                    (cell, s, ci, int(math.floor(sq(qs, cent) * 1000000.0)))
                )
    dt = F.broadcast(
        rows_to_df(
            spark,
            dt_rows, "cell int, subspace int, code int, d_micro bigint"
        )
    )
    adc = (
        codes.join(dt, ["cell", "subspace", "code"])
        .groupBy("id", "cell")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    head = adc.orderBy(F.asc("adc_micro"), F.asc("id")).limit(int(k))
    wr = Window.orderBy(F.asc("adc_micro"), F.asc("id"))
    return head.withColumn("rank", F.row_number().over(wr))
