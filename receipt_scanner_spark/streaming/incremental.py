"""Streaming ingest: the snapshot table's ingest, fed by Structured
Streaming.

``stream_extract`` reads a growing pages directory with ``readStream``
(``Trigger.AvailableNow``: drain what exists, then stop) and commits
each micro-batch through the same extract → write → publish step as
``table.snapshots.run_resumable_extraction``.  Streaming output thus
gets the table's lineage, footer metrics, time travel and
``compact()``.  Structured Streaming's checkpoint decides which files
form a batch; the table decides whether the batch is already
committed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.pipeline import PAGES_SCHEMA, extract_pages
from ..table.snapshots import SnapshotTable, _write_and_publish


def stream_extract(
    spark: SparkSession, src_dir: str, table: SnapshotTable, checkpoint_dir: str
) -> StreamingQuery:
    """Incremental extraction of the pages under ``src_dir`` into
    ``table``, one snapshot per micro-batch with lineage
    ``batch-<id>`` (zero-padded to 8 digits).

    Returns the query; callers ``awaitTermination()``.  A rerun with the
    same checkpoint processes only files that are new since the last
    run.  A batch that Spark replays after a crash (its offsets were
    logged, its commit was not) and whose snapshot was already published
    commits nothing.
    """

    def commit_batch(batch: DataFrame, batch_id: int) -> None:
        key = f"batch-{batch_id:08d}"
        if key in table.processed_partitions():
            return  # a replay of a batch published before the crash
        _write_and_publish(
            table, extract_pages(batch, observe=False), F.lit(key), [key]
        )

    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .parquet(src_dir)
        .writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
