"""Embedding-column utilities for training-data pipelines.

Beyond-reference (north-star) ops over ``array<float>`` columns:
L2 normalization, symmetric int8 quantization (the standard storage
shrink before ANN indexing), and per-group mean pooling.

Float determinism: everything is computed in float64 with explicit
left-fold order (``F.aggregate`` with a 0.0 seed) so a DuckDB
``list_reduce`` oracle reproduces the bits; pooling sums each dimension
in sorted order (the fusion ``_sorted_sum`` rule). Quantization rounds
via ``floor(x + 0.5)`` — identical half-up behavior on both engines,
where native ``round`` HALF_UP (Spark) vs scaled-rint (DuckDB) could
diverge on exact halves.

All per-row work is a native higher-order expression over a ~10²-dim
array (the documented OK case for HOFs); group pooling shuffles
(group, dim) pairs, never whole matrices.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _l2_norm(vec_d: Column) -> Column:
    return F.sqrt(
        F.aggregate(vec_d, F.lit(0.0), lambda a, x: a + x * x)
    )


def l2_normalize(
    df: DataFrame, vector_col: str = "embedding", out_col: str = "normalized"
) -> DataFrame:
    """Unit-norm vectors (zero vectors pass through unchanged)."""
    v = _as_double(F.col(vector_col))
    n = _l2_norm(v)
    return df.withColumn(
        out_col,
        F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v),
    ).withColumn("l2_norm", n)


def quantize_int8(
    df: DataFrame, vector_col: str = "embedding", normalize: bool = True
) -> DataFrame:
    """Adds ``qvec`` (array<int>, in [-127, 127]) and ``scale`` (the
    multiplier that was applied before rounding): symmetric per-vector
    int8 quantization, optionally on the L2-normalized vector."""
    v = _as_double(F.col(vector_col))
    if normalize:
        n = _l2_norm(v)
        v = F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
    max_abs = F.aggregate(
        v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
    )
    scale = F.when(max_abs > 0, 127.0 / max_abs).otherwise(F.lit(0.0))
    qvec = F.transform(v, lambda x: F.floor(x * scale + 0.5).cast("int"))
    return df.withColumn("scale", scale).withColumn("qvec", qvec)


def mean_pool(
    df: DataFrame,
    group_col: str,
    vector_col: str = "embedding",
) -> DataFrame:
    """[group, pooled array<double>, n_vectors]: per-group mean vector.

    Shuffles (group, dim, value) triples — never materializes a group's
    matrix anywhere — and sums each dimension in sorted value order so
    the result is independent of partitioning (and reproducible by a
    sorted-list oracle)."""
    exploded = df.select(
        F.col(group_col).alias("group"),
        F.posexplode(_as_double(F.col(vector_col))).alias("dim", "x"),
    )
    per_dim = exploded.groupBy("group", "dim").agg(
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0), lambda a, x: a + x
        ).alias("s"),
        F.count("*").alias("n"),
    )
    return (
        per_dim.withColumn("m", F.col("s") / F.col("n"))
        .groupBy("group")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda t: t["m"],
            ).alias("pooled"),
            F.max("n").alias("n_vectors"),
        )
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 distance as an explicit left fold over the zipped
    difference array — one fixed IEEE expression tree, so a DuckDB
    list_reduce replays the bits (the cosine_expr precedent)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def pq_codebooks_table(
    spark, codebooks: list[list[list[float]]]
) -> DataFrame:
    """[subspace, centroid, cvec array<double>] rows from a nested
    Python codebook list (n_subspaces x n_centroids x sub_dim)."""
    rows = [
        (s, c, [float(x) for x in vec])
        for s, cents in enumerate(codebooks)
        for c, vec in enumerate(cents)
    ]
    return rows_to_df(spark, rows, "subspace int, centroid int, cvec array<double>")


def train_pq_codebooks(
    df: DataFrame,
    n_subspaces: int = 8,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 10000,
    seed: int = 42,
    n_iter: int = 10,
) -> list[list[list[float]]]:
    """Driver-side k-means per subspace on a bounded sample (the same
    train-on-sample/broadcast pattern as IVF's `_kmeans_centroids`) —
    returns nested lists for `pq_encode`. Sampling is deterministic
    (sort-by-id limit). Not SQL-replayable (k-means); the encode/search
    path takes the codebooks as data, which IS oracle-checked."""
    import numpy as np

    vecs = (
        df.select(F.col(vec_col).alias("v"))
        .limit(int(sample_size))
        .toPandas()["v"]
    )
    mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    if len(mat) == 0:
        raise ValueError("cannot train PQ codebooks on an empty input")
    dim = mat.shape[1]
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by {n_subspaces}")
    sub = dim // n_subspaces
    rng = np.random.RandomState(seed)
    out = []
    for s in range(n_subspaces):
        x = mat[:, s * sub : (s + 1) * sub]
        idx = rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)
        cents = x[idx].copy()
        for _ in range(n_iter):
            d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(len(cents)):
                m = x[assign == c]
                if len(m):
                    cents[c] = m.mean(axis=0)
        out.append([[float(v) for v in c] for c in cents])
    return out


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding [id, subspace, code]: each vector
    is split into ``n_subspaces`` contiguous slices and every slice is
    assigned its nearest codebook centroid by squared-L2 (ties break on
    the centroid index — a total order because the distances are
    bit-deterministic folds). Jegou et al. 2011 ("Product quantization
    for nearest neighbor search"); no reference counterpart —
    north-star ANN-at-scale op (a 64-dim float vector becomes
    ``n_subspaces`` bytes).

    Scale design: the corpus explodes to (id, subspace, slice) rows —
    ``n_subspaces`` x corpus, each row ``sub_dim`` doubles — then joins
    the BROADCAST codebook table (n_subspaces x n_centroids rows) and
    takes the argmin via ``min_by`` over the UNIQUE (d, centroid)
    struct order: a hash aggregate with map-side partial combine — the
    n_centroids candidate rows per slice collapse before any exchange,
    so the shuffle carries one row per (id, subspace), not per
    candidate (a rank-1 window would sort all candidates through the
    exchange instead). No driver state, no Python row code. The encode
    output is the narrow (id, subspace, code) triple — downstream ADC
    scans never touch raw vectors."""
    n_subspaces = len(codebooks)
    sub = len(codebooks[0][0])
    cb = F.broadcast(pq_codebooks_table(df.sparkSession, codebooks))
    v = _as_double(F.col(vec_col))
    sliced = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("subspace"),
                        F.slice(v, s * sub + 1, sub).alias("svec"),
                    )
                    for s in range(n_subspaces)
                ]
            )
        ).alias("e"),
    ).select("id", "e.subspace", "e.svec")
    scored = sliced.join(cb, "subspace").select(
        "id",
        "subspace",
        "centroid",
        _sq_l2(F.col("svec"), F.col("cvec")).alias("d"),
    )
    # min_by over a struct whose components are (bit-deterministic
    # distance, unique centroid index): a total order, so the argmin is
    # deterministic even under min_by's first-found tie rule
    return scored.groupBy("id", "subspace").agg(
        F.min_by("centroid", F.struct("d", "centroid")).alias("code")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes [id, adc_micro, rank]:
    the query is sliced once, its squared-L2 to every codebook centroid
    is tabulated (n_subspaces x n_centroids rows — a broadcast), and
    each corpus vector's ADC distance is the SUM of its per-subspace
    table entries. Entries are floored to micro-int64 BEFORE summing,
    so the per-id sum is an exact integer aggregate — independent of
    addition order and bit-identical in any engine (summing raw doubles
    per-id would be partition-order-dependent).

    Scale design: corpus side is the narrow (id, subspace, code)
    triple; the distance table is map-side broadcast; top-k is
    sort+limit (TakeOrderedAndProject), never a global rank window."""
    from pyspark.sql import Window

    spark = codes.sparkSession
    n_subspaces = len(codebooks)
    sub = len(codebooks[0][0])
    q = [float(x) for x in query]
    rows = []
    for s in range(n_subspaces):
        qs = q[s * sub : (s + 1) * sub]
        for c, cent in enumerate(codebooks[s]):
            acc = 0.0
            for x, y in zip(qs, cent):
                acc = acc + (x - y) * (x - y)
            rows.append((s, c, int(math.floor(acc * 1000000.0))))
    dt = F.broadcast(
        rows_to_df(spark, rows, "subspace int, code int, d_micro bigint")
    )
    adc = (
        codes.join(dt, ["subspace", "code"])
        .groupBy("id")
        .agg(F.sum("d_micro").alias("adc_micro"))
    )
    head = adc.orderBy(F.asc("adc_micro"), F.asc("id")).limit(int(k))
    w = Window.orderBy(F.asc("adc_micro"), F.asc("id"))
    return head.withColumn("rank", F.row_number().over(w))
