"""Embedding (vector-similarity) blocking — approximate similarity join.

Reference: EmbeddingBlocker (PyDI/entitymatching/blocking/embedding.py:
21-520): sentence-transformer embeddings -> exact/ANN kNN index on the
right side -> query left in batches -> keep sims >= threshold. The
reference supports injecting a custom embedder / precomputed embeddings
(embedding.py:78-80), which is the hook tests and this engine use.

Spark has no native ANN operator; two strategies:

- ``method='brute'``: collect the right-side matrix to the driver (must be
  dimension-sized), broadcast it, and run chunked numpy matmul top-k per
  Arrow batch of the left side via ``mapInPandas``. Exact results; right
  side bounded by executor memory (same regime as a broadcast join).
- ``method='lsh'``: random-hyperplane signatures (seeded, deterministic),
  banded into keys, candidates from a band equi-join, then exact cosine
  re-scoring and threshold/top-k. Fully distributed on both sides — the
  100 TB path; recall < 1 like any LSH.

Text columns are embedded with an injectable ``embedder`` callable
(list[str] -> np.ndarray) applied per Arrow batch; heavyweight model
loading must happen lazily inside the function (per-executor), never on
the driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    StringType,
    StructField,
    StructType,
)

from pydi_spark.blocking.base import pair_join, resolve_side
from pydi_spark.core.arrowio import rows_to_df
from pydi_spark.core.dataset import Dataset

PAIR_SCHEMA = StructType(
    [
        StructField("id1", StringType()),
        StructField("id2", StringType()),
        StructField("block_key", StringType()),
        StructField("score", DoubleType()),
    ]
)

# ceiling for pinning the vector re-attach joins as broadcasts — keyed on
# the INPUT relation's Catalyst size estimate (core.plansize policy:
# reliable for parquet scans, "unknown"=huge for derived frames, which
# correctly disables the pin). Same value as
# llmdata/dedup.py:BROADCAST_VERIFY_MAX_BYTES.
BROADCAST_VECTORS_MAX_BYTES = 1 << 30  # 1 GiB


def _pin_broadcast(df: DataFrame) -> bool:
    from pydi_spark.core.plansize import fits_estimate

    return fits_estimate(df, BROADCAST_VECTORS_MAX_BYTES)


def sentence_transformer_embedder(
    model_name: str = "all-MiniLM-L6-v2", **kwargs
) -> Callable[[list[str]], np.ndarray]:
    """Real-model hook for the ``embedder`` slot (reference wires
    sentence-transformers at embedding.py:209-241). The heavy import and
    model load happen lazily on FIRST CALL — i.e. inside the executor
    task, never on the driver — and the loaded model is cached in the
    closure for the lifetime of the Python worker. Raises ImportError at
    task time when sentence-transformers isn't installed;
    ``deterministic_embedder`` stays the tested default."""
    state: dict = {}

    def embed(texts: list[str]) -> np.ndarray:
        if "model" not in state:
            from sentence_transformers import SentenceTransformer  # heavy, lazy

            state["model"] = SentenceTransformer(model_name, **kwargs)
        return np.asarray(
            state["model"].encode(texts, convert_to_numpy=True), dtype=np.float32
        )

    return embed


def deterministic_embedder(dim: int = 32, seed: int = 7) -> Callable[[list[str]], np.ndarray]:
    """Hash-based deterministic text embedder for tests (the reference's
    injectable-embedder hook makes pipelines testable without torch)."""

    def embed(texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), dim), dtype=np.float32)
        for i, t in enumerate(texts):
            toks = str(t).lower().split()
            for tok in toks:
                h = hash((tok, seed)) % (2**31)
                rng = np.random.default_rng(h)
                out[i] += rng.standard_normal(dim).astype(np.float32)
            n = np.linalg.norm(out[i])
            if n > 0:
                out[i] /= n
        return out

    return embed


@dataclass
class EmbeddingBlocker:
    """Vector similarity join over a text column (embedded on the fly) or a
    precomputed ``array<float>`` vector column."""

    text_column: str | None = None
    vector_column: str | None = None
    embedder: Callable[[list[str]], np.ndarray] | None = None
    method: str = "auto"  # auto | brute | lsh
    brute_max_rows: int = 100_000  # auto: right side above this -> lsh
    metric: str = "cosine"
    top_k: int = 50
    threshold: float = 0.3
    lsh_bits: int = 16
    lsh_bands: int = 4
    seed: int = 42
    normalize: bool = True
    extra: dict = field(default_factory=dict)

    # -- embedding ----------------------------------------------------
    def _with_vectors(self, df: DataFrame, idc: str) -> DataFrame:
        if self.vector_column:
            return df.select(
                F.col(idc).cast("string").alias("rid"),
                F.col(self.vector_column).cast("array<float>").alias("vec"),
            )
        if not self.text_column:
            raise ValueError("need text_column or vector_column")
        embedder = self.embedder or deterministic_embedder()
        text_col = self.text_column

        schema = StructType(
            [StructField("rid", StringType()), StructField("vec", ArrayType(FloatType()))]
        )

        def embed_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                vecs = embedder(pdf[text_col].astype(str).tolist())
                yield pd.DataFrame(
                    {"rid": pdf["rid"].values, "vec": list(np.asarray(vecs, dtype=np.float32))}
                )

        base = df.select(F.col(idc).cast("string").alias("rid"), F.col(text_col))
        return base.mapInPandas(embed_batches, schema)

    @staticmethod
    def _normalize_rows(m: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(m, axis=1, keepdims=True)
        n[n == 0] = 1.0
        return m / n

    # -- exact top-k via broadcast right matrix -----------------------
    def _brute(self, l: DataFrame, r: DataFrame) -> DataFrame:
        spark = l.sparkSession
        rows = r.collect()
        r_ids = np.array([row["rid"] for row in rows], dtype=object)
        r_mat = np.array([row["vec"] for row in rows], dtype=np.float32)
        if self.normalize or self.metric == "cosine":
            r_mat = self._normalize_rows(r_mat)
        bc = spark.sparkContext.broadcast((r_ids, r_mat))
        top_k, threshold, metric, normalize = (
            self.top_k, self.threshold, self.metric, self.normalize,
        )

        def score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids_r, mat_r = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                q = np.array(list(pdf["vec"]), dtype=np.float32)
                if normalize or metric == "cosine":
                    norms = np.linalg.norm(q, axis=1, keepdims=True)
                    norms[norms == 0] = 1.0
                    q = q / norms
                sims = q @ mat_r.T  # (batch, n_right)
                # +1 so self-matches (excluded below) don't eat a slot
                k = min(top_k + 1, sims.shape[1])
                idx = np.argpartition(-sims, k - 1, axis=1)[:, :k]
                out_id1, out_id2, out_s = [], [], []
                for row_i in range(sims.shape[0]):
                    qid = pdf["rid"].iloc[row_i]
                    kept = 0
                    order = idx[row_i][np.argsort(-sims[row_i, idx[row_i]], kind="stable")]
                    for j in order:
                        if ids_r[j] == qid:
                            continue
                        if kept >= top_k:
                            break
                        s = float(sims[row_i, j])
                        if s >= threshold:
                            out_id1.append(qid)
                            out_id2.append(ids_r[j])
                            out_s.append(s)
                            kept += 1
                yield pd.DataFrame(
                    {"id1": out_id1, "id2": out_id2,
                     "block_key": ["knn"] * len(out_s), "score": out_s}
                )

        return l.mapInPandas(score, PAIR_SCHEMA)

    # -- LSH banded join ----------------------------------------------
    def _signatures(
        self, df: DataFrame, dim: int, out_id: str, out_set: str
    ) -> DataFrame:
        """[out_id, out_set, band_key]: one row per (record, band) with
        the record's whole band-key array carried along. Keys are
        ``"{band_index}:bits"``, so each array is duplicate-free — the
        pair kernel's min-shared-key precondition."""
        # float64 end-to-end: the sign decisions must be reproducible by
        # the DuckDB oracle, which computes the same projections in double
        rng = np.random.default_rng(self.seed)
        planes = rng.standard_normal((self.lsh_bits, dim))
        bands = np.array_split(np.arange(self.lsh_bits), self.lsh_bands)
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast((planes, bands))

        schema = StructType(
            [
                StructField(out_id, StringType()),
                StructField(out_set, ArrayType(StringType())),
            ]
        )

        def sig(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            planes_, bands_ = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                m = np.array(list(pdf["vec"]), dtype=np.float64)
                bits = (m @ planes_.T) >= 0  # (n, bits)
                keys = [
                    [
                        f"{bi}:" + "".join("1" if bits[i, j] else "0" for j in band)
                        for bi, band in enumerate(bands_)
                    ]
                    for i in range(len(pdf))
                ]
                yield pd.DataFrame({out_id: pdf["rid"].values, out_set: keys})

        return df.mapInPandas(sig, schema).select(
            out_id, out_set, F.explode(out_set).alias("band_key")
        )

    def _lsh(
        self, l: DataFrame, r: DataFrame, dim: int,
        pin_l: bool = False, pin_r: bool = False,
    ) -> DataFrame:
        # band join on (id, band_key) ONLY — candidate pairs stay narrow
        # through the quadratic shuffle; vectors re-attach afterwards.
        # Carrying vec1/vec2 through the band join multiplies the widest
        # stage's shuffle bytes by dim x band fan-out (see the identical
        # lesson at llmdata/dedup.py minhash_near_duplicates). The band
        # arrays ride along instead, so a pair colliding in k bands is
        # kept once (at its minimum shared band) with no (id1, id2)
        # exchange. Not oriented: top-k ranks every neighbour of id1.
        cands = pair_join(
            self._signatures(l, dim, "id1", "__bks1"),
            self._signatures(r, dim, "id2", "__bks2"),
            "band_key",
            self_join=False,
            key_sets=("__bks1", "__bks2"),
        ).select("id1", "id2")
        v1 = l.select(F.col("rid").alias("id1"), F.col("vec").alias("vec1"))
        v2 = r.select(F.col("rid").alias("id2"), F.col("vec").alias("vec2"))
        if pin_l:
            v1 = F.broadcast(v1)
        if pin_r:
            v2 = F.broadcast(v2)
        cands = cands.join(v1, "id1").join(v2, "id2")
        # exact cosine re-score as a native expression; double casts before
        # the multiply so the result is bit-comparable with the oracle's
        # double-precision cosine (float32 products drift at ~1e-8)
        dot = F.aggregate(
            F.zip_with("vec1", "vec2", lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        norm = lambda c: F.sqrt(  # noqa: E731
            F.aggregate(
                c,
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        sim = dot / (norm(F.col("vec1")) * norm(F.col("vec2")))
        scored = cands.withColumn("score", sim).where(F.col("score") >= self.threshold)
        from pyspark.sql import Window

        w = Window.partitionBy("id1").orderBy(F.desc("score"), F.col("id2"))
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= self.top_k)
            .select("id1", "id2", F.lit("lsh").alias("block_key"), "score")
        )

    def estimate_pairs(
        self,
        left: Dataset | DataFrame,
        right: Dataset | DataFrame | None = None,
        id_column: str | None = None,
        sample_size: int = 200,
    ) -> int:
        """Sampling-based pair estimate (reference: embedding.py:484-517):
        run the blocker on a left-side sample and extrapolate."""
        self_join = right is None or right is left
        dl, _ = resolve_side(left, id_column)
        n_left = dl.count()
        if n_left == 0:
            return 0
        frac = min(1.0, sample_size * 1.2 / n_left)
        sampled = dl.sample(fraction=frac, seed=self.seed).limit(sample_size)
        n_sampled = sampled.count()
        if n_sampled == 0:
            return 0
        pairs = self.block(sampled, left if self_join else right, id_column)
        return int(pairs.count() * (n_left / n_sampled))

    def _resolve_method(self, right_df: DataFrame) -> str:
        """'auto' switches on the right-side row count: 'brute' collects
        the right matrix to the driver (broadcast-join regime only), so
        anything above ``brute_max_rows`` routes to the distributed LSH
        path. A parquet-backed count is metadata-only; the threshold is a
        row count because the collected matrix is rows x dim floats."""
        if self.method != "auto":
            return self.method
        return "brute" if right_df.count() <= self.brute_max_rows else "lsh"

    # -- public -------------------------------------------------------
    def block(
        self,
        left: Dataset | DataFrame,
        right: Dataset | DataFrame | None = None,
        id_column: str | None = None,
    ) -> DataFrame:
        self_join = right is None or right is left
        dl, idl = resolve_side(left, id_column)
        dr, idr = resolve_side(left if self_join else right, id_column)
        l = self._with_vectors(dl, idl)
        r = self._with_vectors(dr, idr)
        method = self._resolve_method(dr)
        if method == "lsh" and self.text_column and not self.vector_column:
            # the LSH path reads each side twice (signatures + vector
            # re-attach); embedding on the fly with a real model is far
            # more expensive than spilling the vectors, so materialize.
            # localCheckpoint rather than persist(): a persisted plan
            # sits in the cache manager until an explicit unpersist —
            # storage leaked across repeated block() calls in long-lived
            # sessions — while checkpoint blocks are freed by the
            # ContextCleaner once the frame is unreferenced.
            l = l.localCheckpoint(eager=True)
            r = l if self_join else r.localCheckpoint(eager=True)
        if method == "brute":
            pairs = self._brute(l, r)
        elif method == "lsh":
            head = l.select("vec").where(F.col("vec").isNotNull()).first()
            if head is None:
                # empty (or all-null-vector) left side: no candidate
                # pairs by definition — stay total instead of crashing
                # on the dim probe (round-6 empty-input sweep)
                return rows_to_df(l.sparkSession, [], PAIR_SCHEMA)
            dim = len(head["vec"])
            # broadcast-pin decision keys on the INPUT relations (parquet
            # size estimates are reliable; derived frames are not) — never
            # pins at corpus scale, where the re-attach joins must shuffle
            pairs = self._lsh(
                l, r, dim,
                pin_l=_pin_broadcast(dl),
                pin_r=_pin_broadcast(dr),
            )
        else:
            raise ValueError(f"unknown method: {method}")
        if self_join:
            pairs = pairs.where(F.col("id1") < F.col("id2"))
        return pairs
