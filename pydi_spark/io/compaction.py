"""Small-file compaction planning — the OPTIMIZE step of a lakehouse
maintenance loop, as plain DataFrame arithmetic.

At 100 TB the failure mode is millions of kilobyte parquet files
(streaming sinks, over-partitioned writes): every scan pays per-file
open cost and the NameNode/listing pays per-object cost. The fix is
periodic bin-packing of small files into ~target-size rewrite groups.
This module PLANS those groups deterministically; the rewrite itself
is a per-bin read->write the caller drives (each bin is independent —
embarrassingly parallel across a cluster).

Beyond the reference (PyDI has no storage layer); the layout
counterparts are io/bucketing.py and io/zorder.py.

Determinism: files order by path (a total order), bins assigned by
exclusive-cumulative-size integer division — the same file list always
yields the same plan, so a re-run after a partial failure rewrites the
same groups (idempotent maintenance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df


def list_data_files(spark, path: str) -> DataFrame:
    """[path, size_bytes] for every file under ``path`` (recursive),
    via the Hadoop FileSystem API — works for any configured scheme
    (file://, hdfs://, s3a://). Driver-side listing, bounded by file
    count; at catalog scale read the table metadata instead."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    it = fs.listFiles(root, True)
    rows = []
    while it.hasNext():
        st = it.next()
        rows.append((st.getPath().toString(), int(st.getLen())))
    return rows_to_df(spark, rows, "path string, size_bytes long")


def plan_compaction(
    files: DataFrame,
    target_bytes: int,
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """[path, size_bytes, bin] — order-preserving bin packing: files
    already >= ``target_bytes`` get bin NULL (leave them alone); the
    rest are walked in path order and grouped by exclusive-cumulative
    size div target, so every bin except the last holds >= target
    bytes and no bin exceeds target by more than one file.

    Scale: ONE ordered window over the small-file LIST (file-count
    bounded — a listing that itself needs a cluster needs a catalog,
    not this planner). Path order (not size order) keeps bins aligned
    with ingestion order, so compacted files preserve rough time
    locality for later range pruning.
    """
    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0: {target_bytes}")
    small = files.where(F.col(size_col) < target_bytes)
    big = files.where(F.col(size_col) >= target_bytes)
    w = (
        Window.orderBy(path_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = small.select(
        F.col(path_col).alias("path"),
        F.col(size_col).alias("size_bytes"),
        F.coalesce(F.sum(size_col).over(w), F.lit(0)).alias("__cum"),
    ).select(
        "path",
        "size_bytes",
        F.expr(f"CAST(__cum div {int(target_bytes)} AS INT)").alias("bin"),
    )
    untouched = big.select(
        F.col(path_col).alias("path"),
        F.col(size_col).alias("size_bytes"),
        F.lit(None).cast("int").alias("bin"),
    )
    return planned.unionAll(untouched)


def compaction_summary(plan: DataFrame) -> DataFrame:
    """[bin, n_files, bin_bytes] per rewrite group (NULL bin = files
    left alone)."""
    return plan.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("bin_bytes"),
    )
