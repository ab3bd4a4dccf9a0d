"""Embedding (vector-similarity) blocking — approximate similarity join.

Reference: EmbeddingBlocker (PyDI/entitymatching/blocking/embedding.py:
21-520): sentence-transformer embeddings -> exact/ANN kNN index on the
right side -> query left in batches -> keep sims >= threshold. The
reference supports injecting a custom embedder / precomputed embeddings
(embedding.py:78-80), which is the hook tests and this engine use.

Spark has no native ANN operator; two strategies:

- ``method='brute'``: collect the right-side matrix to the driver (at
  most ``core.plansize.BRUTE_MAX_ROWS`` rows, decided by the driver
  gate's one exact count; more is refused), broadcast it, and run
  chunked numpy matmul top-k per Arrow batch of the left side via
  ``mapInPandas``. Exact results (same regime as a broadcast join).
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

from dataclasses import dataclass
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
from pydi_spark.core import plansize
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
    metric: str = "cosine"
    top_k: int = 50
    threshold: float = 0.3
    lsh_bits: int = 16
    lsh_bands: int = 4
    seed: int = 42
    normalize: bool = True

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
    def _brute(self, l: DataFrame, table) -> DataFrame:
        spark = l.sparkSession
        r_ids = np.array(table.column("rid").to_pylist(), dtype=object)
        r_mat = np.array(table.column("vec").to_pylist(), dtype=np.float32)
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
        # exact cosine re-score; cosine_expr casts to double before the
        # multiply, so the score is bit-comparable with the oracle's
        # double-precision cosine (float32 products drift at ~1e-8)
        from pyspark.sql import Window

        from pydi_spark.llmdata.similarity import cosine_expr

        sim = cosine_expr(F.col("vec1"), F.col("vec2"))
        scored = cands.withColumn("score", sim).where(F.col("score") >= self.threshold)
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

    def _resolve_method(self, r: DataFrame):
        """(method, right vectors, their rows as Arrow or None). 'brute'
        collects the right matrix to the driver (broadcast-join regime
        only), so 'auto' and 'brute' offer it to the driver gate
        (``plansize.driver_table``): one exact count decides both, the
        collect reads its checkpoint, and so does the LSH path 'auto'
        takes past ``plansize.BRUTE_MAX_ROWS``, where a forced 'brute'
        refuses. The cap is a row count because the collected matrix is
        rows x dim floats. 'lsh' takes no action here."""
        if self.method not in ("auto", "brute"):
            return self.method, r, None
        r, table = plansize.driver_table(r, plansize.BRUTE_MAX_ROWS)
        if table is not None:
            return "brute", r, table
        if self.method == "brute":
            raise ValueError(
                f"EmbeddingBlocker(method='brute'): the right side has more "
                f"than {plansize.BRUTE_MAX_ROWS} rows, too many to collect to "
                "the driver; use method='lsh' or 'auto'"
            )
        return "lsh", r, None

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
        r = self._with_vectors(dr, idr)
        method, r, table = self._resolve_method(r)
        # a self-join's two sides are the same vectors: read the gate's
        # checkpoint instead of embedding the side again
        l = r if self_join else self._with_vectors(dl, idl)
        if method == "lsh" and self.text_column and not self.vector_column:
            # the LSH path reads each side twice (signatures + vector
            # re-attach); embedding on the fly with a real model is far
            # more expensive than spilling the vectors, so materialize.
            # localCheckpoint rather than persist(): a persisted plan
            # sits in the cache manager until an explicit unpersist —
            # storage leaked across repeated block() calls in long-lived
            # sessions — while checkpoint blocks are freed by the
            # ContextCleaner once the frame is unreferenced.
            if self.method == "lsh":  # not yet checkpointed by the gate
                r = r.localCheckpoint(eager=False)
            l = r if self_join else l.localCheckpoint(eager=False)
        if method == "brute":
            pairs = self._brute(l, table)
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
                pin_l=plansize.fits_estimate(dl, plansize.BROADCAST_MAX_BYTES),
                pin_r=plansize.fits_estimate(dr, plansize.BROADCAST_MAX_BYTES),
            )
        else:
            raise ValueError(f"unknown method: {method}")
        if self_join:
            pairs = pairs.where(F.col("id1") < F.col("id2"))
        return pairs
