"""Iceberg-emulating snapshot layer: atomic commits, per-partition
lineage, checkpoint/resume.

No Iceberg runtime jar is available offline (SURVEY.md §7.5), so this
module provides the same *semantics* over partitioned parquet + JSON
manifests, behind an interface small enough that swapping in real
Iceberg (``spark.read.table`` + snapshot metadata) is config-only:

* **Snapshot**: an immutable manifest ``snap-<n>.json`` listing every
  data file with its input-partition lineage + row/metric counts,
  plus a parent pointer.  A manifest is written to a temp file of its
  writer's own and hard-linked to its name, which fails if the name
  exists: readers never see a torn manifest, and of two writers racing
  for one id exactly one wins (Iceberg's optimistic-concurrency commit;
  the loser re-checks against the new HEAD and takes the next id).
* **HEAD**: the highest manifest id.  ``_current`` holds a hint that
  ``current_snapshot_id`` probes forward from, as Iceberg's
  ``version-hint`` does, so a stale hint is harmless.
* **Lineage**: each commit records which INPUT partitions (e.g. url
  host buckets, WARC date ranges) it covers, and ``processed``, the
  union over its chain — the resume watermark, read from ONE manifest
  (Iceberg keeps its table state in the newest metadata file the same
  way), so a commit costs the same at any chain length.
* **Resume**: ``pending = all_partitions - processed``; re-running a
  killed job processes only pending partitions, and re-committing an
  already-processed partition is rejected (idempotence guard) unless
  ``overwrite=True`` (the overwrite-by-partition idiom).
* **Ingest** (``run_resumable_extraction``, and each micro-batch of
  ``streaming.incremental.stream_extract``): one Spark job extracts
  every pending row and writes it once, ``partitionBy`` a copy of the
  key, to ``data/<uuid>/__part=<key>/``; then one snapshot per key is
  published over that key's files only.  Per-partition metrics come
  from the files' parquet footers (row counts and null counts, as
  Iceberg's DataFile ``record_count``/``null_value_counts``), not from
  a second pass.  A kill mid-pass commits nothing; a kill between
  publishes keeps the partitions already published.
* ``commit`` and the ingests share one guard (duplicate partitions,
  explicit schema evolution) and one publish step.

At 100 TB: one commit per input partition batch keeps manifests tiny
(file lists per commit, not a global listing); reads prune by
partition directory, so resuming never lists the whole table.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field, replace
from pathlib import Path
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession


def _private_tmp(path: Path) -> Path:
    """A temp name next to ``path`` that no other writer uses."""
    return path.with_name(f"{path.name}.{uuid.uuid4().hex}.tmp")


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_at: float
    partitions: list[str]  # input partitions covered by THIS commit
    files: list[str]  # data files added by this commit (relative)
    metrics: dict  # extraction-success metrics for this commit
    # sorted union of ``partitions`` over the chain up to this commit; no
    # default, so a manifest written without it fails to load
    processed: list[str]
    operation: str = "append"
    schema: list[str] = field(default_factory=list)


class SnapshotTable:
    """A partitioned parquet table with snapshot manifests."""

    def __init__(self, root: str):
        self.root = Path(root)
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(parents=True, exist_ok=True)

    # -- manifest plumbing ----------------------------------------------------
    def _manifest_path(self, snapshot_id: int) -> Path:
        return self.root / "_manifests" / f"snap-{snapshot_id:08d}.json"

    def _head_path(self) -> Path:
        return self.root / "_manifests" / "_current"

    def _staged(self, snap: Snapshot) -> Path:
        """Write ``snap`` to a temp file of this writer's own."""
        tmp = _private_tmp(self._manifest_path(snap.snapshot_id))
        tmp.write_text(json.dumps(asdict(snap), indent=1))
        return tmp

    def current_snapshot_id(self) -> int | None:
        """HEAD: probe forward from the ``_current`` hint to the last
        manifest (a writer may have published after the hint was
        written, or died between its manifest and the hint)."""
        p = self._head_path()
        sid = int(p.read_text()) if p.exists() else 0
        while self._manifest_path(sid + 1).exists():
            sid += 1
        return sid or None

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        if sid is None:
            return None
        data = json.loads(self._manifest_path(sid).read_text())
        return Snapshot(**data)

    def history(self) -> list[Snapshot]:
        """Snapshot chain, oldest first."""
        chain: list[Snapshot] = []
        snap = self.snapshot()
        while snap is not None:
            chain.append(snap)
            snap = self.snapshot(snap.parent_id) if snap.parent_id is not None else None
        return list(reversed(chain))

    def processed_partitions(self, as_of: int | None = None) -> set[str]:
        """Input partitions committed up to snapshot ``as_of`` (default
        HEAD; an overwrite leaves its partitions processed).  Reads one
        manifest; an id before the chain or expired has none."""
        head = self.current_snapshot_id()
        if head is None:
            return set()
        sid = head if as_of is None else min(as_of, head)
        if sid < 1 or not self._manifest_path(sid).exists():
            return set()
        return set(self.snapshot(sid).processed)

    def pending_partitions(self, all_partitions: Iterable[str]) -> list[str]:
        done = self.processed_partitions()
        return sorted(p for p in all_partitions if p not in done)

    # -- commit / read ---------------------------------------------------------
    def _guard(
        self,
        partitions: list[str],
        columns: list[str],
        overwrite: bool = False,
        allow_schema_change: bool = False,
    ) -> tuple[Snapshot | None, str]:
        """Check a commit of ``partitions`` with ``columns`` against HEAD
        before anything is written; return HEAD and the commit's
        operation.

        Schema evolution is EXPLICIT, as in Iceberg: columns that differ
        from the table's current schema are rejected unless
        ``allow_schema_change=True`` (column ADDS only — drops/renames
        would orphan history; reads merge old and new files with nulls
        for missing columns)."""
        head = self.snapshot()
        done = set(head.processed) if head is not None else set()
        dup = [p for p in partitions if p in done]
        if dup and not overwrite:
            raise ValueError(
                f"partitions already committed (resume should skip them): {dup}"
            )
        if head is not None and head.schema and columns != head.schema:
            if not allow_schema_change:
                raise ValueError(
                    "schema change requires allow_schema_change=True: "
                    f"table {head.schema} vs commit {columns}"
                )
            missing = [c for c in head.schema if c not in columns]
            if missing:
                raise ValueError(
                    "schema evolution supports column ADDS only; commit "
                    f"drops existing columns {missing}"
                )
        return head, "overwrite" if dup else "append"

    def _new_data_dir(self) -> str:
        return f"data/{uuid.uuid4().hex}"

    def _data_files(self, data_dir: str) -> list[str]:
        return sorted(
            str(Path(data_dir) / f.name)
            for f in (self.root / data_dir).glob("*.parquet")
        )

    def _publish(
        self,
        partitions: list[str],
        files: list[str],
        metrics: dict,
        columns: list[str],
        overwrite: bool = False,
        allow_schema_change: bool = False,
    ) -> Snapshot:
        """Publish one snapshot over already-written ``files`` as HEAD's
        child.  The manifest name is taken exclusively (``os.link``), so
        a concurrent writer that took this id first makes this one re-run
        ``_guard`` against the new HEAD and retry with the next id; no
        published snapshot is ever replaced.  The HEAD hint is then
        advanced by ``os.replace`` of a temp file."""
        while True:
            head, operation = self._guard(
                partitions, columns, overwrite, allow_schema_change
            )
            parent = head.snapshot_id if head is not None else None
            snap = Snapshot(
                snapshot_id=(parent or 0) + 1,
                parent_id=parent,
                committed_at=time.time(),
                partitions=list(partitions),
                files=files,
                metrics=metrics,
                processed=sorted(
                    {*partitions, *(head.processed if head is not None else ())}
                ),
                operation=operation,
                schema=list(columns),
            )
            tmp = self._staged(snap)
            try:
                os.link(tmp, self._manifest_path(snap.snapshot_id))
                break
            except FileExistsError:
                continue  # lost the race for this id
            finally:
                tmp.unlink()
        head_tmp = _private_tmp(self._head_path())
        head_tmp.write_text(str(snap.snapshot_id))
        os.replace(head_tmp, self._head_path())
        return snap

    def commit(
        self,
        df: DataFrame,
        partitions: list[str],
        metrics: dict | None = None,
        overwrite: bool = False,
        allow_schema_change: bool = False,
    ) -> Snapshot:
        """Write ``df`` under data/<uuid>/ and atomically publish a new
        snapshot covering ``partitions``.  Crash before the manifest
        is linked leaves the table at the previous snapshot (orphan data
        files are unreachable, as in Iceberg).  Duplicate partitions
        and schema changes are rejected before the write (``_guard``)."""
        self._guard(partitions, df.columns, overwrite, allow_schema_change)
        data_dir = self._new_data_dir()
        df.write.mode("error").parquet(str(self.root / data_dir))
        return self._publish(
            partitions,
            self._data_files(data_dir),
            metrics or {},
            df.columns,
            overwrite,
            allow_schema_change,
        )

    def _live_files(self, as_of: int | None = None) -> list[str]:
        """Files visible at a snapshot: appends accumulate; an overwrite
        commit shadows files of every earlier commit whose partitions
        intersect its own."""
        chain = self.history()
        if as_of is not None:
            chain = [s for s in chain if s.snapshot_id <= as_of]
        live: list[tuple[set[str], list[str]]] = []
        for s in chain:
            pset = set(s.partitions)
            if s.operation == "overwrite":
                live = [(ps, fl) for ps, fl in live if not (ps & pset)]
            live.append((pset, s.files))
        return [f for _, fl in live for f in fl]

    def read(self, spark: SparkSession, as_of: int | None = None) -> DataFrame:
        """Time-travel read: table contents as of a snapshot id.
        mergeSchema unions evolved schemas — rows from pre-evolution
        files carry nulls in added columns (Iceberg read semantics)."""
        files = self._live_files(as_of)
        if not files:
            raise ValueError("empty table")
        return spark.read.option("mergeSchema", "true").parquet(
            *[str(self.root / f) for f in files]
        )

    def compact(
        self, spark: SparkSession, target_files: int = 1
    ) -> Snapshot:
        """Small-files compaction — the Iceberg ``rewrite_data_files``
        analog.  Streaming/incremental ingest accumulates many small
        parquet files; at web scale small files destroy scan throughput
        (per-file open cost, tiny row groups).  Compaction rewrites the
        CURRENT live file set into ``target_files`` coalesced files and
        publishes ONE overwrite snapshot covering every processed
        partition — it shadows all prior data files while the snapshot
        chain (and time travel to pre-compaction states) stays intact,
        and the partitions remain 'processed' so resume semantics are
        unaffected."""
        parts = sorted(self.processed_partitions())
        if not parts:
            raise ValueError("empty table: nothing to compact")
        df = self.read(spark).coalesce(target_files)
        n_before = len(self._live_files())
        snap = self.commit(
            df,
            parts,
            metrics={"compacted_from_files": n_before},
            overwrite=True,
            allow_schema_change=True,  # merged schema == evolved table schema
        )
        return snap

    def expire_snapshots(
        self, keep_from: int, orphan_grace_s: float = 3 * 24 * 3600
    ) -> dict:
        """Expire history before ``keep_from`` and delete data files no
        retained snapshot references — the Iceberg expire_snapshots +
        remove_orphan_files maintenance pair.

        Safety precondition (checked): ``keep_from`` must SHADOW all
        earlier history — an overwrite snapshot covering every partition
        processed before it (i.e. a compaction point).  Then the squash
        is trivially correct: the keep_from manifest becomes the new
        chain root, absorbing the expired snapshots' partition coverage
        (so resume still skips them), and every earlier data file is
        unreachable by construction.  Time travel to expired ids raises.

        ``orphan_grace_s``: commit directories modified within this
        window are never deleted, even if no retained manifest
        references them — an IN-FLIGHT commit writes its data files
        BEFORE publishing its manifest, so an ungated sweep running
        concurrently would destroy it and break the atomic-commit
        guarantee.  Default 3 days, the same older-than semantics as
        Iceberg's remove_orphan_files; pass 0.0 only when no concurrent
        writers can exist (e.g. tests, single-writer maintenance
        windows).
        """
        chain = self.history()
        ids = [s.snapshot_id for s in chain]
        if keep_from not in ids:
            raise ValueError(f"unknown snapshot id {keep_from}")
        idx = ids.index(keep_from)
        earlier = chain[:idx]
        if idx > 0:
            root = chain[idx]
            earlier_parts = {p for s in earlier for p in s.partitions}
            if root.operation != "overwrite" or not (
                earlier_parts <= set(root.partitions)
            ):
                raise ValueError(
                    "keep_from must be an overwrite snapshot covering all "
                    "earlier partitions (compact() first)"
                )
            # squash: keep_from becomes the chain root, absorbing coverage
            # (its ``processed`` already holds it)
            new_root = replace(
                root,
                parent_id=None,
                partitions=sorted(set(root.partitions) | earlier_parts),
                operation="append",  # nothing earlier remains to shadow
            )
            os.replace(self._staged(new_root), self._manifest_path(root.snapshot_id))
            for s in earlier:
                self._manifest_path(s.snapshot_id).unlink(missing_ok=True)
        # keep_from already the root -> nothing to expire, but the
        # orphan sweep below still runs (Iceberg's remove_orphan_files
        # is an independent maintenance op)
        # orphan cleanup: whole commit directories referenced by NO
        # retained manifest (each commit writes into its own uuid dir)
        import shutil

        retained_dirs = {
            f.split("/")[1] for s in self.history() for f in s.files
        }
        cutoff = time.time() - orphan_grace_s
        deleted = 0
        for d in (self.root / "data").iterdir():
            if (
                d.is_dir()
                and d.name not in retained_dirs
                and d.stat().st_mtime <= cutoff  # grace: may be in-flight
            ):
                deleted += sum(1 for _ in d.rglob("*.parquet"))
                shutil.rmtree(d)
        return {"expired": len(earlier), "orphan_files_deleted": deleted}

    def metrics_history(self) -> list[dict]:
        """Per-commit extraction metrics (north rule: per-partition
        lineage + extraction-success metrics)."""
        return [
            {
                "snapshot_id": s.snapshot_id,
                "partitions": s.partitions,
                "metrics": s.metrics,
                "committed_at": s.committed_at,
            }
            for s in self.history()
        ]


# partitionBy column of the ingest write: a string copy of the partition
# key, so the data files keep the original column
_PART_DIR = "__part"

# snapshot metric -> data column it counts non-null rows of (the names of
# plans/pipeline.extraction_counts; ``total`` counts rows)
_COUNTED = {"amount": "amount", "date": "date", "errors": "error"}


def _footer_counts(paths: list[Path]) -> dict:
    """``extraction_counts()`` of the rows in ``paths``, read from the
    parquet footers: ``total`` = rows, every other counter = rows minus
    the column's ``null_count`` (Iceberg's DataFile ``record_count`` /
    ``null_value_counts``).  parquet-mr leaves a column chunk's
    statistics out when a min/max value is over its 4 KiB limit; such a
    chunk is counted from its data instead."""
    import pyarrow.parquet as pq

    counts = dict.fromkeys(["total", *_COUNTED], 0)
    for path in paths:
        pf = pq.ParquetFile(path)
        for i in range(pf.metadata.num_row_groups):
            rg = pf.metadata.row_group(i)
            counts["total"] += rg.num_rows
            chunks = {
                rg.column(j).path_in_schema: rg.column(j)
                for j in range(rg.num_columns)
            }
            for metric, column in _COUNTED.items():
                stats = chunks[column].statistics
                if stats is not None and stats.has_null_count:
                    nulls = stats.null_count
                else:
                    nulls = pf.read_row_group(i, columns=[column]).column(0).null_count
                counts[metric] += rg.num_rows - nulls
    return counts


def _write_and_publish(
    table: SnapshotTable, result: DataFrame, key, partitions: list[str]
) -> list[Snapshot]:
    """The write-and-publish tail of every ingest (``run_resumable_extraction``
    and each ``stream_extract`` micro-batch).

    ``partitions`` (the keys known before the pass) are checked against
    HEAD first.  Then ``result`` is written once under
    ``data/<uuid>/__part=<key>/`` (``partitionBy`` on a string copy of
    the ``key`` column; the files keep every ``result`` column), and the
    same pass collects the key set with ``observe``.  One snapshot per
    key (sorted) is published; it lists only that key's files, which are
    found through Spark's own partition-path rule, so per-partition
    overwrite and resume stay exact.  Its metrics (``total``/``amount``/
    ``date``/``errors``, as ``extraction_counts()``) come from those
    files' parquet footers, so the extraction UDF runs once per row
    (pinned by test_snapshots.test_extraction_udf_runs_once_per_row).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    table._guard(partitions, result.columns)
    data_dir = table._new_data_dir()
    obs = Observation()
    (
        result.withColumn(_PART_DIR, key)
        .observe(obs, F.collect_set(_PART_DIR).alias("keys"))
        .write.mode("error")
        .partitionBy(_PART_DIR)
        .parquet(str(table.root / data_dir))
    )
    path_of = (
        result.sparkSession._jvm.org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.getPartitionPathString
    )
    committed: list[Snapshot] = []
    for part in sorted(obs.get["keys"]):
        files = table._data_files(f"{data_dir}/{path_of(_PART_DIR, part)}")
        metrics = _footer_counts([table.root / f for f in files])
        committed.append(table._publish([part], files, metrics, result.columns))
    return committed


def run_resumable_extraction(
    spark: SparkSession,
    pages: DataFrame,
    table: SnapshotTable,
    partition_column: str = "lang",
    **extract_kwargs,
) -> list[Snapshot]:
    """Checkpointed extraction: one snapshot commit per input partition,
    skipping partitions already committed — kill it anywhere and rerun;
    completed partitions are never recomputed.

    Partitioning is by a low-cardinality column the extraction output
    carries (default ``lang``; at scale it'd be crawl date / host
    bucket).  The partition key of a row is
    ``coalesce(cast(col as string), "")``: a null value and ``""`` share
    one partition, as they share Spark's default partition directory.

    One Spark job extracts every pending row and writes it once; then
    one snapshot per key is published with metrics read from the
    written files' footers (``_write_and_publish``).

    A table without commits gets no pre-scan.  Otherwise a key-only scan
    of ``pages`` finds the pending keys: none pending returns ``[]``
    without reading ``html``, else the pass extracts only pending rows.

    Kill semantics: a kill during the pass commits nothing (the written
    files are unreachable orphans); a kill between publishes keeps the
    partitions already published, and the rerun extracts only the rest.
    """
    from pyspark.sql import functions as F

    from ..plans.pipeline import extract_pages

    key = F.coalesce(F.col(partition_column).cast("string"), F.lit(""))
    pending: list[str] = []
    if table.current_snapshot_id() is not None:
        keys = [r[0] for r in pages.select(key).distinct().collect()]
        pending = table.pending_partitions(keys)
        if not pending:
            return []
        pages = pages.filter(key.isin(pending))
    result = extract_pages(pages, observe=False, **extract_kwargs)
    if partition_column not in result.columns:
        raise ValueError(
            f"partition column {partition_column!r} is not an output column "
            f"{result.columns}"
        )
    return _write_and_publish(table, result, key, pending)
