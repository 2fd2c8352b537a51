"""Iceberg-emulating snapshot layer: atomic commits, per-partition
lineage, checkpoint/resume.

No Iceberg runtime jar is available offline (SURVEY.md §7.5), so this
module provides the same *semantics* over partitioned parquet + JSON
manifests, behind an interface small enough that swapping in real
Iceberg (``spark.read.table`` + snapshot metadata) is config-only:

* **Snapshot**: an immutable manifest ``snap-<n>.json`` listing every
  data file with its input-partition lineage + row/metric counts,
  plus a parent pointer.  Manifests are written to a temp name and
  ``os.replace``d — atomic on POSIX, so readers never see a torn
  commit (the Iceberg commit-swap analog).
* **HEAD**: ``_current`` file holding the latest snapshot id, also
  swapped atomically.
* **Lineage**: each commit records which INPUT partitions (e.g. url
  host buckets, WARC date ranges) it covers; ``processed_partitions``
  is the union over the snapshot chain — the resume watermark.
* **Resume**: ``pending = all_partitions - processed``; re-running a
  killed job processes only pending partitions, and re-committing an
  already-processed partition is rejected (idempotence guard) unless
  ``overwrite=True`` (the overwrite-by-partition idiom).

At 100 TB: one commit per input partition batch keeps manifests tiny
(file lists per commit, not a global listing); reads prune by
partition directory, so resuming never lists the whole table.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_at: float
    partitions: list[str]  # input partitions covered by THIS commit
    files: list[str]  # data files added by this commit (relative)
    metrics: dict  # extraction-success metrics for this commit
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

    def current_snapshot_id(self) -> int | None:
        p = self._head_path()
        if not p.exists():
            return None
        return int(p.read_text().strip())

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
        chain = self.history()
        if as_of is not None:
            chain = [s for s in chain if s.snapshot_id <= as_of]
        out: set[str] = set()
        for s in chain:
            if s.operation == "overwrite":
                pass  # overwrite replaces data but the partition stays processed
            out.update(s.partitions)
        return out

    def pending_partitions(self, all_partitions: Iterable[str]) -> list[str]:
        done = self.processed_partitions()
        return sorted(p for p in all_partitions if p not in done)

    # -- commit / read ---------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        partitions: list[str],
        metrics: dict | None = None,
        overwrite: bool = False,
        metrics_supplier: Callable[[], dict] | None = None,
        allow_schema_change: bool = False,
    ) -> Snapshot:
        """Write ``df`` under data/<uuid>/ and atomically publish a new
        snapshot covering ``partitions``.  Crash before the final
        rename leaves the table at the previous snapshot (orphan data
        files are unreachable, as in Iceberg).

        ``metrics_supplier`` is called AFTER the write action finishes —
        the single-materialization hook: attach ``df.observe(obs, ...)``
        upstream and supply ``lambda: obs.get`` so metrics ride the same
        pass over the data as the write instead of a second full
        recomputation of the plan.

        Schema evolution is EXPLICIT, as in Iceberg: a commit whose
        columns differ from the table's current schema is rejected
        unless ``allow_schema_change=True`` (column ADDS only — drops/
        renames would orphan history; reads merge old and new files
        with nulls for missing columns)."""
        done = self.processed_partitions()
        dup = [p for p in partitions if p in done]
        if dup and not overwrite:
            raise ValueError(
                f"partitions already committed (resume should skip them): {dup}"
            )
        head = self.snapshot()
        if head is not None and head.schema and df.columns != head.schema:
            if not allow_schema_change:
                raise ValueError(
                    "schema change requires allow_schema_change=True: "
                    f"table {head.schema} vs commit {df.columns}"
                )
            missing = [c for c in head.schema if c not in df.columns]
            if missing:
                raise ValueError(
                    "schema evolution supports column ADDS only; commit "
                    f"drops existing columns {missing}"
                )

        commit_dir = f"data/{uuid.uuid4().hex}"
        out_path = str(self.root / commit_dir)
        df.write.mode("error").parquet(out_path)
        if metrics_supplier is not None:
            metrics = dict(metrics or {}, **metrics_supplier())
        files = sorted(
            str(Path(commit_dir) / f.name)
            for f in (self.root / commit_dir).glob("*.parquet")
        )

        parent = self.current_snapshot_id()
        sid = (parent or 0) + 1
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent,
            committed_at=time.time(),
            partitions=list(partitions),
            files=files,
            metrics=metrics or {},
            operation="overwrite" if (dup and overwrite) else "append",
            schema=df.columns,
        )
        tmp = self._manifest_path(sid).with_suffix(".tmp")
        tmp.write_text(json.dumps(asdict(snap), indent=1))
        os.replace(tmp, self._manifest_path(sid))  # atomic publish
        head_tmp = self._head_path().with_suffix(".tmp")
        head_tmp.write_text(str(sid))
        os.replace(head_tmp, self._head_path())
        return snap

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
            new_root = Snapshot(
                snapshot_id=root.snapshot_id,
                parent_id=None,
                committed_at=root.committed_at,
                partitions=sorted(set(root.partitions) | earlier_parts),
                files=root.files,
                metrics=root.metrics,
                operation="append",  # nothing earlier remains to shadow
                schema=root.schema,
            )
            tmp = self._manifest_path(root.snapshot_id).with_suffix(".tmp")
            tmp.write_text(json.dumps(asdict(new_root), indent=1))
            os.replace(tmp, self._manifest_path(root.snapshot_id))
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
                deleted += sum(1 for _ in d.glob("*.parquet"))
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

    Partitioning is by a low-cardinality input column (default
    ``lang``; at scale it'd be crawl date / host bucket).  Each commit
    records extraction-success metrics for its partition.

    Metrics ride the commit write via ``df.observe`` (one pass over the
    data): the extraction UDF runs exactly ONCE per input partition —
    the earlier shape (``result.agg(...).first()`` then write) re-ran
    the whole unmaterialized extraction plan a second time, doubling
    the dominant cost at scale (pinned by
    test_snapshots.test_extraction_udf_runs_once_per_row).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ..plans.pipeline import extract_pages, extraction_counts

    all_parts = [
        str(r[0]) for r in pages.select(partition_column).distinct().collect()
    ]
    committed: list[Snapshot] = []
    for part in table.pending_partitions(all_parts):
        subset = pages.filter(F.col(partition_column) == part)
        result = extract_pages(subset, observe=False, **extract_kwargs)
        obs = Observation()
        observed = result.observe(obs, *extraction_counts())
        snap = table.commit(
            observed,
            [part],
            metrics_supplier=lambda o=obs: {k: int(v) for k, v in o.get.items()},
        )
        committed.append(snap)
    return committed
