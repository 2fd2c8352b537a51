"""Structured Streaming surfaces.

The reference is batch-only; the north rule needs *resumability*, which
the table layer provides (snapshots).  These streaming entry points are
the continuous-ingest expression of the same pipeline (SURVEY.md §2.6
"Streaming" note):

* ``stream_extract``: ``readStream`` over the pages directory →
  the SAME fused extract+parse UDF → parquet sink with checkpointing.
  ``Trigger.AvailableNow`` drains whatever exists and stops — the
  batch-resume idiom on streaming infrastructure; new files appearing
  between runs are picked up exactly once via the checkpoint's file
  index.  At 100 TB, ``maxFilesPerTrigger`` bounds per-micro-batch
  memory.
* ``stream_sessionize``: the sessionize_events query as a streaming
  aggregation using ``session_window`` + watermark — late events
  beyond the watermark are dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import extract_pages

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_extract(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Incremental extraction over a growing pages directory.

    Returns the StreamingQuery; callers ``awaitTermination()``.  Rerun
    with the same checkpoint to process only NEW files (exactly-once
    per file via the checkpoint file index).
    """
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    result = extract_pages(reader.load(src_dir), observe=False)

    writer = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(
    spark: SparkSession,
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming session aggregation over gap-based session windows.
    ``events`` must be a streaming DataFrame with (user_id, ts, value)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "session_start",
            "session_end",
            "session_value",
        )
    )


def stream_dedup_first_seen(
    stream: DataFrame,
    key_col: str = "url",
    timeout: str = "ProcessingTimeTimeout",
    ttl_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): emit
    only the FIRST occurrence of each key — streaming crawl-refetch
    dedup.

    State per key is a single seen-flag; at 10^12 urls the state store
    shards by key hash across executors (RocksDB state store in prod
    config).  The default is ROLLING-WINDOW dedup: each key's seen-flag
    expires after ``ttl_ms`` of inactivity (duplicates inside the
    window are dropped and refresh it; after expiry the next occurrence
    is emitted again), so state stays bounded by the active key set
    instead of growing forever.  Whole-stream exactly-once-per-key
    semantics require the explicit opt-in ``timeout='NoTimeout'`` —
    unbounded state is a deliberate choice, not the default.

    Timer caveat (standard Spark lazy-timeout semantics): an expired
    key is reaped the next micro-batch that runs; if new data for the
    key arrives in that same batch, the refreshed window wins and the
    row is still dropped.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream.schema
    state_schema = "seen boolean"
    with_ttl = timeout == "ProcessingTimeTimeout"

    def emit_first(key, pdf_iter, state: "GroupState"):
        import pandas as pd  # executor-side

        if with_ttl and state.hasTimedOut:
            state.remove()  # TTL expired: key becomes emittable again
            return iter(())
        if state.exists:
            # key already emitted inside the window — drop everything,
            # refresh the inactivity TTL
            if with_ttl:
                state.setTimeoutDuration(ttl_ms)
            return iter(())
        first_row = None
        for pdf in pdf_iter:
            if len(pdf) and first_row is None:
                first_row = pdf.iloc[[0]]
        if first_row is None:
            return iter(())
        state.update((True,))
        if with_ttl:
            state.setTimeoutDuration(ttl_ms)
        return iter((first_row,))

    timeout_conf = getattr(GroupStateTimeout, timeout)
    return stream.groupBy(key_col).applyInPandasWithState(
        emit_first,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
