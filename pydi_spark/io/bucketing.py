"""Stable shard routing: weighted rendezvous hashing as one per-row
expression (no shuffle, no state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pydi_spark.core.dataset import Dataset, as_dataframe


def rendezvous_shard(
    data: Dataset | DataFrame,
    key_col: str,
    weights: list[int],
    out_col: str = "shard",
) -> DataFrame:
    """Add ``out_col``: the WEIGHTED rendezvous (highest-random-weight)
    shard for each row's key. Shard ``i`` gets ``weights[i]`` virtual
    nodes; the row goes to the shard owning ``max md5(key:shard:rep)``
    over all virtual nodes (ties — md5 collisions — break to the
    larger shard id, deterministically).

    Why not ``hash % n`` (write_training_shards): rendezvous keeps
    assignment STABLE under topology change — removing a shard moves
    ONLY that shard's keys, and growing a shard's weight steals keys
    proportionally from everyone instead of reshuffling ~all keys the
    way modular hashing does. That is the property a 100 TB corpus
    wants when shard servers/capacities change between runs.

    Scale shape: a pure per-row expression — the argmax runs inside
    one array_max over sum(weights) md5 literals-per-row, whole-stage
    codegen, ZERO shuffles and no state. Integer replica weights give
    capacity ratios to ~1/sum(weights) precision; exact-arithmetic by
    construction (no float log/power rendezvous variants, which are
    not cross-engine portable).

    No reference counterpart — north-star addition.
    """
    from pyspark.sql import functions as F

    if not weights or any(int(w) < 1 for w in weights):
        raise ValueError(f"weights must be positive ints: {weights}")
    df = as_dataframe(data)
    key = F.col(key_col).cast("string")
    candidates = [
        F.struct(
            F.md5(
                F.concat(key, F.lit(f":{shard}:{rep}")).cast("binary")
            ).alias("h"),
            F.lit(shard).cast("int").alias("s"),
        )
        for shard, w in enumerate(weights)
        for rep in range(int(w))
    ]
    return df.withColumn(
        out_col, F.array_max(F.array(*candidates)).getField("s")
    )
