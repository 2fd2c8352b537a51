"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB design point (SURVEY.md §4): AQE on (runtime
re-planning + skew-join splitting), Arrow-batched Python exchange,
shuffle partitions sized to parallelism.  Locally we run ``local[N]``;
on a real cluster the same code ships via ``spark-submit --py-files``
and only master/executor settings change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS overrides; otherwise one task slot per CPU
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "receipt-scanner-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(32, 2 * cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # Catalyst/AQE: runtime coalescing + skew-join handling are the
        # backstop behind our explicit salting (north rule).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow exchange for Python UDFs — the hot path. A Python worker
        # holds one input batch plus its Python copies, so batches are
        # bounded by bytes: Spark closes one after the row that crosses
        # 1 MiB (or at its default 10k rows).  Its own 64 MiB default let
        # the workers reach ~1 GB on ~48 KB pages (~270 MB at 1 MiB);
        # 1 MiB still batches several 200 KB pages together.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(1 << 20))
        # Scan parallelism: keep splits near the default 128 MiB so a
        # 100 TB table yields ~800k tasks, not 8 giant ones.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
