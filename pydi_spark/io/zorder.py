"""Z-order (Morton) layout for multi-dimensional scan pruning.

At 100 TB the cheapest query is the one that never reads the bytes:
parquet readers skip row groups whose column min/max statistics exclude
the predicate. A file sorted on ONE column prunes filters on that
column only; interleaving the bits of SEVERAL columns into a single
Morton key and sorting on it keeps every file/row-group covering a
small HYPER-RECTANGLE of the key space, so range filters on ANY of the
interleaved dimensions skip most of the data. (The same layout trick
Delta/Iceberg expose as ``OPTIMIZE ZORDER BY``; built here from plain
DataFrame ops: a bit-interleave expression + repartitionByRange + sort.)

The key expression is pure integer arithmetic (shifts, masks, adds) —
whole-stage-codegen'd on the JVM and exactly replayable by any SQL
engine, which is how the correctness gate checks it (the oracle builds
the same literal term sum).

Scale shape: ``write_zordered`` = one range exchange on the key (the
same shuffle any global sort pays) + in-partition sort; no driver
state. Column-to-coordinate normalization uses exact integer modulo or
caller-provided bucketing — rank-based normalization would add a
global-sort pass per dimension, so callers with skewed/unbounded
domains should pre-bucket (e.g. width_bucket-style) before keying.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pydi_spark.core import plansize


def zorder_key(cols: list[Column | str], bits: int = 10) -> Column:
    """Morton key: interleave the low ``bits`` bits of each coordinate.

    Coordinates must already be non-negative ints below 2**bits (use
    ``% (1 << bits)`` or a bucketing expression first). With d columns
    the key spans d*bits bits — keep d*bits <= 62 (signed long).
    Bit j of column i lands at key bit ``j*d + i``, the standard Morton
    layout. Null coordinates map to 0 (sort together at the low end).
    """
    d = len(cols)
    if d == 0:
        raise ValueError("zorder_key needs at least one column")
    if d * bits > 62:
        raise ValueError(f"{d} cols x {bits} bits exceeds a signed long")
    key = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        x = (F.col(c) if isinstance(c, str) else c).cast("long")
        x = F.coalesce(x, F.lit(0).cast("long"))
        for j in range(bits):
            bit = F.shiftright(x, j).bitwiseAND(F.lit(1).cast("long"))
            key = key + F.shiftleft(bit, j * d + i)
    return key


def zorder_key_sql(cols: list[str], bits: int = 10) -> str:
    """The SAME key as ``zorder_key`` as an ANSI-SQL expression string —
    generated from one loop so the Spark and oracle term orders are
    literally identical (the engine's cross-checking pattern)."""
    d = len(cols)
    terms = []
    for i, c in enumerate(cols):
        for j in range(bits):
            terms.append(f"((({c} >> {j}) & 1) << {j * d + i})")
    return " + ".join(terms)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 10,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Morton key of ``cols`` (already
    bucketed to [0, 2**bits) by the caller — see ``zorder_key``).

    repartitionByRange on the key makes FILES disjoint key ranges;
    sortWithinPartitions makes ROW GROUPS tight sub-ranges. Both levels
    of min/max pruning then work for range filters on any interleaved
    dimension. The key column itself is dropped before the write — the
    layout, not the data, carries it.
    """
    keyed = df.withColumn("__zkey", zorder_key(cols, bits))
    n = num_files or plansize.core_width(df.sparkSession)
    (
        keyed.repartitionByRange(n, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )
