"""Token blocking = explode + equi-join through the pair kernel.

Reference: TokenBlocker (PyDI/entitymatching/blocking/token_blocking.py:
17-315): inverted index token->ids per side, pair when >= 1 shared token,
global ``seen_pairs`` dedup. Spark shape: ``select(id, explode(tokens))``
on each side and ``blocking.base.pair_join`` on the token — the inverted
index is the shuffle. The uncapped path carries each record's token set
and keeps a pair only at its minimum shared token (no dedup exchange);
the capped path dedups with ``distinct_pairs``.

Scale knob the reference lacks: ``max_token_frequency`` prunes stop-token
hot keys (a token appearing in f docs per side creates f^2 pairs — at
100 TB one hot token is the whole job). Pruning computes one vocabulary
aggregate and applies it as an ANTI-join against the small hot head
(r11: the earlier keep-list semi-join broadcast a vocabulary-sized
table — ~1 GiB to the driver at the 100x probe scale).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.blocking.base import distinct_pairs, pair_join, resolve_side
from pydi_spark.core.dataset import Dataset
from pydi_spark.functions.tokenize import char_ngrams, word_tokens


@dataclass
class TokenBlocker:
    column: str
    ngram_type: str = "word"  # word | character
    ngram_size: int = 3
    min_token_len: int = 1
    max_token_frequency: int | None = None  # scale knob: prune hot tokens

    def _tokens(self) -> Column:
        if self.ngram_type == "word":
            toks = word_tokens(self.column)
        elif self.ngram_type == "character":
            toks = char_ngrams(self.column, self.ngram_size)
        else:
            raise ValueError(f"unknown ngram_type: {self.ngram_type}")
        if self.min_token_len > 1:
            toks = F.filter(toks, lambda t: F.length(t) >= self.min_token_len)
        return F.array_distinct(toks)

    def _exploded(self, df: DataFrame, idc: str, out_id: str) -> DataFrame:
        # keep the NATIVE id type through the quadratic join: shuffling
        # long ids instead of strings is ~35% faster on wide pair sets;
        # the string cast happens once on the final (deduplicated) output
        return df.select(
            F.col(idc).alias(out_id),
            F.explode(self._tokens()).alias("block_key"),
        )

    def _exploded_with_set(
        self, df: DataFrame, idc: str, out_id: str, out_arr: str
    ) -> DataFrame:
        # uncapped fast path: carry the (distinct) token array alongside
        # each exploded row so the pair join can decide "is this my
        # minimum shared token?" locally, without a pair-level dedup
        # exchange (r13, guide §2.4). The array is O(tokens-per-record)
        # extra bytes on the LINEAR exploded shuffle — negligible for
        # blocking columns — and it removes the O(#pairs) groupBy
        # exchange entirely.
        return df.select(
            F.col(idc).alias(out_id), self._tokens().alias(out_arr)
        ).select(out_id, out_arr, F.explode(out_arr).alias("block_key"))

    def block(
        self,
        left: Dataset | DataFrame,
        right: Dataset | DataFrame | None = None,
        id_column: str | None = None,
    ) -> DataFrame:
        """Emit ``[id1, id2, block_key]``; self-join pairs are oriented by
        the id column's NATIVE ordering (numeric for numeric keys)."""
        self_join = right is None or right is left
        dl, idl = resolve_side(left, id_column)
        dr, idr = resolve_side(left if self_join else right, id_column)

        if self.max_token_frequency is None:
            # uncapped path: the per-record token arrays are
            # array_distinct and equal the exploded keys, so the kernel's
            # min-shared-token filter yields one row per pair with
            # block_key == min shared token (the declared output of a
            # groupBy(id1, id2).agg(min(block_key))) and no pair-level
            # exchange. The capped path below cannot use it: pruning
            # removes tokens from the emission but not from the carried
            # arrays, so min(S) there would name a pruned token.
            l = self._exploded_with_set(dl, idl, "id1", "__t1")
            r = self._exploded_with_set(dr, idr, "id2", "__t2")
            pairs = pair_join(
                l, r, "block_key", self_join=self_join, key_sets=("__t1", "__t2")
            )
        else:
            pairs = self._capped_pairs(dl, idl, dr, idr, self_join)
        return pairs.select(
            F.col("id1").cast("string").alias("id1"),
            F.col("id2").cast("string").alias("id2"),
            "block_key",
        )

    def _capped_pairs(
        self, dl: DataFrame, idl: str, dr: DataFrame, idr: str, self_join: bool
    ) -> DataFrame:
        """max_token_frequency set: prune hot tokens, then pair and dedup
        with ``distinct_pairs`` (min block_key per pair)."""
        l = self._exploded(dl, idl, "id1")
        r = self._exploded(dr, idr, "id2")
        # Prune via an anti-join against the HOT list (tokens with
        # df > cap) — the head of the frequency distribution, small
        # at any corpus size — NOT a semi-join against the keep
        # list, which is VOCABULARY-sized and grows with the corpus
        # (open vocabulary). The r11 100x fixed-output probe caught
        # the old pinned broadcast(keep) collecting ~1 GiB of
        # unique-token keys to the driver; the hot list at the same
        # scale is a few hundred rows. No broadcast pin: AQE
        # measures the hot aggregate's runtime size and broadcasts
        # it when (as in practice) it is tiny.
        #
        # The count runs over the RAW exploded rows, NOT the
        # repartitioned table (r12): the old shape aggregated the
        # post-repartition table, paying a full-width (id, token)
        # shuffle inside the hot job before counting anything —
        # measured 77.3 s vs 36.2 s at the 100x fixed-output probe
        # scale. A fancier two-phase xxhash64 pre-count was
        # measured WORSE (57.6 s): with an open vocabulary the
        # partial aggregate sees ~unique keys, so hashing the key
        # buys nothing and the exact recount pass rescans the
        # corpus (NOTES.md r12).
        cap = int(self.max_token_frequency)
        if self_join:
            # both sides explode the same table: one vocabulary
            # aggregate, not a union of two identical ones
            hot = (
                l.select("block_key")
                .groupBy("block_key")
                .agg(F.count(F.lit(1)).alias("__df"))
                .where(F.col("__df") > cap)
            )
        else:
            hot = (
                l.select("block_key").groupBy("block_key").count()
                .unionByName(
                    r.select("block_key").groupBy("block_key").count()
                )
                .groupBy("block_key").agg(F.max("count").alias("__df"))
                .where(F.col("__df") > cap)
            )
        # hot feeds BOTH anti-joins: without the checkpoint the
        # vocabulary aggregate would execute once per consumer
        hot = hot.select("block_key").localCheckpoint(eager=False)
        l = l.join(hot, "block_key", "left_anti")
        r = r.join(hot, "block_key", "left_anti")
        # keep one (id1,id2) row; block_key kept as the min matching token so
        # output stays deterministic (reference keeps first-seen token)
        pairs = pair_join(l, r, "block_key", self_join=self_join)
        return distinct_pairs(pairs.select("id1", "id2", "block_key"))
