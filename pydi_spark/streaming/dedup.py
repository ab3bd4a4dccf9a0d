"""Structured Streaming extensions (beyond the reference).

The reference has no streaming at all (SURVEY §2.13); its only
streaming-ish construct is the blocker batch iterator
(PyDI/entitymatching/blocking/base.py:59-64). These operators expose the
engine's dedup/aggregation semantics over unbounded streams:

- ``streaming_dedup``: watermarked ``dropDuplicates`` — exact streaming
  dedup with bounded state (late duplicates beyond the watermark are the
  documented trade-off).
- ``windowed_event_counts``: tumbling/sliding windowed aggregation with
  late-data handling.
- ``sessionize``: session windows per key.

All three take either a streaming or batch DataFrame — the SAME plan
works for both (Structured Streaming's unified semantics), which is how
the batch DuckDB oracle can check the windowed logic.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pydi_spark.core.arrowio import rows_to_df


def streaming_dedup(
    df: DataFrame,
    key_columns: list[str],
    ts_column: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Keep the first event per key within the watermark horizon."""
    out = df
    if out.isStreaming:
        out = out.withWatermark(ts_column, watermark)
    return out.dropDuplicates(key_columns)


def windowed_event_counts(
    df: DataFrame,
    window_duration: str = "1 hour",
    slide: str | None = None,
    ts_column: str = "ts",
    key_column: str | None = "event_type",
    watermark: str = "30 minutes",
    value_column: str | None = "value",
) -> DataFrame:
    """Tumbling (or sliding) window counts + sums per key."""
    out = df
    if out.isStreaming:
        out = out.withWatermark(ts_column, watermark)
    win = (
        F.window(F.col(ts_column), window_duration, slide)
        if slide
        else F.window(F.col(ts_column), window_duration)
    )
    keys = [win] + ([F.col(key_column)] if key_column else [])
    aggs = [F.count("*").alias("n_events")]
    if value_column:
        aggs.append(F.sum(F.col(value_column)).alias("sum_value"))
    agg = out.groupBy(*keys).agg(*aggs)
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *([F.col(key_column)] if key_column else []),
        "n_events",
        *(["sum_value"] if value_column else []),
    )


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    ts_column: str = "ts",
    key_column: str = "user_id",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Session windows per key (gap-based)."""
    out = df
    if out.isStreaming:
        out = out.withWatermark(ts_column, watermark)
    return (
        out.groupBy(F.session_window(F.col(ts_column), gap), F.col(key_column))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            key_column,
            "n_events",
            "sum_value",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key_column: str = "user_id",
    ts_column: str = "ts",
    watermark: str = "30 minutes",
    max_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a bounded event-time
    range: pairs (l, r) with the same key and ``r.ts`` in
    ``[l.ts, l.ts + max_delay]`` — the attribution/funnel join (click ->
    purchase within an hour).

    In streaming mode both sides carry watermarks and the join condition
    bounds each side's buffered state to watermark + max_delay (the
    standard interval-join state-cleanup contract); as a batch plan the
    SAME join runs unchanged, which is how the DuckDB oracle checks it.

    Output: [key, l_ts, r_ts, l_value, r_value].
    """
    l = left.select(
        F.col(key_column).alias("key"),
        F.col(ts_column).alias("l_ts"),
        F.col("value").alias("l_value"),
    )
    r = right.select(
        F.col(key_column).alias("r_key"),
        F.col(ts_column).alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    if l.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if r.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (F.col("key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, how).select("key", "l_ts", "r_ts", "l_value", "r_value")


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_column: str,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream (the lookup/enrichment stage of every streaming pipeline).
    The static side is broadcast — each micro-batch joins map-side
    with NO stream-side state at all (unlike stream-stream joins,
    nothing is buffered and no watermark is required). The same plan
    runs as a batch join unchanged, which is how the oracle checks it.

    Scale: the dimension re-broadcasts per trigger, so it can be
    updated between micro-batches; for dimensions beyond broadcast
    size pass ``broadcast_dim=False`` and pre-bucket both sides."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, key_column, "left")


def run_stream_from_parquet(
    spark,
    path: str,
    transform,
    schema=None,
    max_files_per_trigger: int = 1,
    output_mode: str = "append",
    query_name: str = "pydi_stream_result",
):
    """Drive a parquet directory as a bounded stream (availableNow) and
    return the collected result — the test harness for streaming ops.

    Use ``output_mode='complete'`` for aggregations you want fully
    emitted on bounded input (append mode only emits windows the
    watermark has passed — the final windows would be withheld).
    """
    import os
    import tempfile

    if schema is None:
        schema = spark.read.parquet(path).schema
    stage_ctx = None
    if os.path.isfile(path):
        # file stream sources require a directory
        stage_ctx = tempfile.TemporaryDirectory()
        os.symlink(os.path.abspath(path), os.path.join(stage_ctx.name, os.path.basename(path)))
        path = stage_ctx.name
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    out = transform(stream)
    # ignore_cleanup_errors: stateful queries run state-store maintenance
    # threads that can still touch the checkpoint dir during teardown
    with tempfile.TemporaryDirectory(ignore_cleanup_errors=True) as ckpt:
        q = (
            out.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # Stateful ops with processing-time timeouts keep scheduling
        # empty micro-batches under availableNow and never self-terminate
        # (and processAllAvailable never returns) — poll progress and
        # stop once a completed batch saw zero input rows (source drained).
        import time

        deadline = time.time() + 180
        try:
            while time.time() < deadline and q.isActive:
                lp = q.lastProgress
                if lp and lp.get("batchId", 0) > 0 and lp.get("numInputRows", 1) == 0:
                    break
                time.sleep(0.25)
        finally:
            q.stop()
        q.awaitTermination(60)
    if stage_ctx is not None:
        stage_ctx.cleanup()
    return spark.table(query_name)


def stateful_dedup_ttl(
    df: DataFrame,
    key_columns: list[str],
    ttl_ms: int = 3_600_000,
):
    """First-seen dedup with explicit per-key state and processing-time
    TTL eviction, via ``applyInPandasWithState``.

    The watermarked ``dropDuplicates`` above bounds state by EVENT time;
    this operator bounds it by wall-clock TTL instead — the right shape
    when late data has no usable event timestamp (common in ingestion
    dedup) and state must still be evictable at 100 TB stream scale.
    Emits the first row seen per key; repeat sightings inside the TTL
    refresh it and emit nothing. Streaming-only (Spark restriction for
    arbitrary stateful ops); the batch equivalent is
    ``exact_duplicates`` / ``dropDuplicates``.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    if not df.isStreaming:
        raise ValueError(
            "stateful_dedup_ttl is streaming-only; use dropDuplicates or "
            "llmdata.exact_duplicates for batch frames"
        )
    out_schema = df.schema
    state_schema = StructType([StructField("n_seen", LongType())])

    def fn(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return iter([])
        batch = pd.concat(list(pdf_iter), ignore_index=True)
        seen = state.get[0] if state.exists else 0
        state.update((seen + len(batch),))
        state.setTimeoutDuration(ttl_ms)
        if seen == 0 and len(batch):
            return iter([batch.head(1)])
        return iter([])

    return (
        df.groupBy(*[F.col(c) for c in key_columns])
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def streaming_incremental_dedup(
    spark,
    docs_stream: DataFrame,
    store_path: str,
    decisions_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.7,
    query_name: str = "pydi_incremental_dedup",
):
    """Streaming corpus ingest with dedup-at-the-door: each micro-batch
    runs ``incremental_minhash_dedup`` against the parquet signature
    store, appends its per-document decisions to ``decisions_path``,
    and appends the KEPT documents' signature rows back to the store —
    so later batches dedup against everything admitted so far.

    foreachBatch because the store is read anew per trigger (a
    stream-static join would snapshot it once); the store mutation is
    append-only parquet. Crash-replay safety: a batch EXCLUDES ITS OWN
    ids from the store view before deciding, so a replay after a crash
    that landed the store append but not the checkpoint commit cannot
    match documents against their own signatures — the replayed
    decisions are byte-identical to the lost trigger's, and the
    signature append is anti-joined against ids already in the store,
    so it is idempotent too. The decisions sink is therefore
    at-least-once with deterministic content: consumers dedupe by
    (batch_id, id) and never see conflicting rows. State never lives
    in the stream — it IS the signature store, which is what makes the
    pipeline restartable: the store and the checkpoint advance
    together.

    Scale: identical to the batch operator per trigger — the store is
    touched by two key-joins and never broadcast; batch-side tables
    broadcast. Store growth is one parquet append of kept-row
    signatures per trigger (compact periodically, like any streaming
    upsert sink). Returns the started StreamingQuery (availableNow
    trigger; call ``.awaitTermination()``)."""
    from pydi_spark.llmdata.dedup import (
        incremental_minhash_dedup,
        minhash_signature_table,
    )

    def _read_store():
        """The signature store, or an empty frame on the FIRST run —
        a cold start has no store yet and must not fail inside the
        batch handler (round-4 ADVICE; previously the pre-seed
        requirement was only implicit in examples/)."""
        try:
            return spark.read.parquet(store_path)
        except AnalysisException:
            # signature lanes are bigint (the affine MINHASH_AB family)
            sig_cols = ", ".join(f"s{i} bigint" for i in range(num_hashes))
            return rows_to_df(
                spark,
                [], f"id string, {sig_cols}, toks array<bigint>"
            )

    def handle(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_ids = batch_df.select(
            F.col(id_col).cast("string").alias("id")
        ).distinct()
        # exclude this batch's own ids from the store view: on a
        # crash-replay whose store append landed, the batch would
        # otherwise match its own signatures and flip its decisions
        store = _read_store().join(
            F.broadcast(batch_ids), "id", "left_anti"
        )
        decisions = incremental_minhash_dedup(
            batch_df,
            store,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            jaccard_threshold=jaccard_threshold,
        ).localCheckpoint(eager=True)  # decide BEFORE mutating the store
        decisions.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
            "append"
        ).parquet(decisions_path)
        kept = decisions.where(F.col("kept") == 1).select("id")
        # idempotent append under replay: drop ids already stored. The
        # already-present set is computed store-side with the BATCH ids
        # broadcast (batch-bounded output — never a corpus-side build),
        # and materialized so the append job does not read the path it
        # is writing to.
        present = (
            _read_store()
            .join(F.broadcast(batch_ids), "id", "left_semi")
            .select("id")
        )
        new_sigs = (
            minhash_signature_table(
                batch_df, text_col=text_col, id_col=id_col, num_hashes=num_hashes
            )
            .join(F.broadcast(kept), "id", "left_semi")
            .join(F.broadcast(present), "id", "left_anti")
        ).localCheckpoint(eager=True)
        new_sigs.write.mode("append").parquet(store_path)

    return (
        docs_stream.writeStream.foreachBatch(handle)
        .queryName(query_name)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation",
            decisions_path.rstrip("/") + "_checkpoint",
        )
        .start()
    )


def compact_signature_store(spark, store_path: str) -> int:
    """Rewrite the append-only signature store keeping one row per id
    (rows for one id are identical signatures; duplicates only arise
    from replayed batches). Returns the compacted row count. Run
    periodically, like any streaming upsert sink's maintenance job.

    Crash safety (round-4 ADVICE): the compacted frame is written to a
    SIBLING staging directory first and only then swapped into place —
    an in-place ``mode('overwrite')`` deletes the only copy before the
    rewrite commits, and the localCheckpoint blocks backing the rewrite
    are not fault-tolerant, so a lost executor mid-write would truncate
    the store. The old store directory survives (as ``*_old``) until
    the swap has fully succeeded.

    Local filesystems only: the swap uses ``os.rename``, which does not
    exist on HDFS/S3 — object-store deployments should compact into a
    new prefix and flip a pointer instead."""
    import os
    import shutil

    base = store_path.rstrip("/")
    staging = base + "_compacting"
    backup = base + "_old"
    # Crash recovery (round-5 ADVICE): a crash between the two renames
    # below leaves ``base`` missing while ``backup`` holds the only
    # surviving copy — restore it BEFORE clearing staging/backup, or
    # the cleanup would delete every copy and the read would fail.
    if not os.path.exists(base) and os.path.exists(backup):
        os.rename(backup, base)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)
    compacted = spark.read.parquet(store_path).dropDuplicates(["id"])
    compacted.write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    # swap: old -> *_old, staging -> store; delete the backup last
    os.rename(base, backup)
    os.rename(staging, base)
    shutil.rmtree(backup, ignore_errors=True)
    return n


def windowed_distinct_users(
    df: DataFrame,
    window_duration: str = "1 hour",
    ts_column: str = "ts",
    user_column: str = "user_id",
    watermark: str = "30 minutes",
    exact: bool | None = None,
    rsd: float = 0.05,
) -> DataFrame:
    """[window_start, window_end, n_users] — distinct users per
    tumbling window, the streaming face of events.active_users.

    ``exact=None`` picks by mode: BATCH plans use the exact
    ``countDistinct`` (and that is what the oracle checks); STREAMING
    plans use ``approx_count_distinct`` (HLL, ``rsd`` relative error)
    because Structured Streaming forbids exact distinct aggregations
    — the watermark bounds HLL state per window. Forcing
    ``exact=True`` on a stream raises the Spark analysis error
    deliberately (no silent approximation flip, and no silent exact
    request dropped).
    """
    out = df
    if out.isStreaming:
        out = out.withWatermark(ts_column, watermark)
    use_exact = (not df.isStreaming) if exact is None else exact
    agg = (
        F.countDistinct(F.col(user_column))
        if use_exact
        else F.approx_count_distinct(F.col(user_column), rsd)
    ).alias("n_users")
    return (
        out.groupBy(F.window(F.col(ts_column), window_duration))
        .agg(agg)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_users",
        )
    )
