"""The three workloads: closed loops of Spark actions on distinct slices.

``web_mix`` and ``receipt_docs`` run one pass per slice:
``read_pages`` -> ``extract_pages(observe=False)`` -> per-url CRC32 of
(extracted_text, amount, date, error), collected into this process, where
the count, the aggregate checksum and the per-url golden check come
from.  ``resumable_ingest`` runs ``run_resumable_extraction`` into a
fresh ``SnapshotTable`` per slice, re-runs it (a resume must commit
nothing) and reads the table back for the golden check.

With tracing on, every other pass is traced: a span around the action
(and, for ingest, around each ``SnapshotTable.commit`` /
``pending_partitions`` call), Spark's own metrics for the action from
the status REST API, and a scan-only pass over the same files.
"""

from __future__ import annotations

import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from corpus import Corpus, crc_column
from sparkstats import ActionStats, StatusClient, merge, python_worker_rss_mb
from tracing import Tracer

@dataclass
class Run:
    spark: object
    corpus: Corpus
    work: Path
    seconds: float
    tracer: Tracer | None  # None: tracing off
    failed: int = 0
    attempted: int = 0
    problems: list = field(default_factory=list)  # make the run incorrect
    notes: list = field(default_factory=list)
    passes: list = field(default_factory=list)  # per timed pass record
    stats: list = field(default_factory=list)  # ActionStats of traced passes
    warmup_stats: ActionStats | None = None
    status: StatusClient | None = None
    warm_checksum: tuple = ()

    def check(self, got: dict[str, int], want: dict[str, int], what: str) -> int:
        """Count documents whose checksum differs from the golden, plus
        missing and unexpected urls."""
        bad = sum(1 for url, crc in want.items() if got.get(url) != crc)
        bad += sum(1 for url in got if url not in want)
        self.failed += bad
        self.attempted += len(want)
        if bad:
            self.problems.append(f"{what}: {bad} of {len(want)} documents differ from goldens")
        return bad

    def require(self, ok: bool, message: str) -> None:
        if not ok:
            self.problems.append(message)


def checksum(crcs: dict[str, int]) -> tuple[int, int]:
    """(count, order-independent aggregate) of per-url CRC32s."""
    return len(crcs), sum(crcs.values()) & 0xFFFFFFFFFFFFFFFF


def _collect(df) -> dict[str, int]:
    return {r[0]: r[1] for r in df.select("url", crc_column()).collect()}


# --- extraction passes (web_mix, receipt_docs) --------------------------------

def extract_pass(spark, path: Path) -> dict[str, int]:
    from receipt_scanner_spark.plans.pipeline import extract_pages, read_pages

    return _collect(extract_pages(read_pages(spark, str(path)), observe=False))


def scan_pass(spark, path: Path) -> float:
    from receipt_scanner_spark.plans.pipeline import read_pages

    t0 = time.perf_counter()
    read_pages(spark, str(path)).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def warmup_extract(run: Run) -> None:
    got = extract_pass(run.spark, run.corpus.warmup)
    run.check(got, run.corpus.golden(run.corpus.warmup), "warm-up")
    run.warm_checksum = checksum(got)


def loop_extract(run: Run) -> None:
    # the warm-up slice again, untimed: a repeated pass must reproduce its
    # checksum, and the JIT settles before the first timed pass
    again = extract_pass(run.spark, run.corpus.warmup)
    run.require(checksum(again) == run.warm_checksum,
                "warm-up slice checksum changed between passes")
    sc = run.spark.sparkContext
    spent = 0.0
    for i, path in enumerate(run.corpus.slices):
        if spent >= run.seconds and (run.tracer is None or i >= 2):
            break  # a traced run needs a traced and an untraced pass
        traced = run.tracer is not None and i % 2 == 1
        tag = f"pass-{i}"
        if traced:
            sc.setJobDescription(tag)
            t0 = time.perf_counter()
            with run.tracer.span("pipeline.pass"):
                got = extract_pass(run.spark, path)
                stats = run.status.action_stats(tag)
            dt = time.perf_counter() - t0
            sc.setJobDescription(None)
            run.stats.append(stats)
            run.passes.append({"docs": len(got), "s": dt, "traced": True,
                               "scan_s": scan_pass(run.spark, path)})
        else:
            t0 = time.perf_counter()
            got = extract_pass(run.spark, path)
            dt = time.perf_counter() - t0
            run.passes.append({"docs": len(got), "s": dt, "traced": False})
        spent += dt
        run.check(got, run.corpus.golden(path), path.name)
    else:
        run.notes.append("corpus exhausted before the measuring time ran out")


# --- resumable ingest -----------------------------------------------------------

def ingest_once(run: Run, path: Path, traced: bool) -> dict:
    import pyarrow.parquet as pq

    from receipt_scanner_spark.plans.pipeline import read_pages
    from receipt_scanner_spark.table.snapshots import (
        SnapshotTable,
        run_resumable_extraction,
    )

    spark = run.spark
    table = SnapshotTable(str(run.work / "tables" / path.name))
    if traced:
        table.commit = run.tracer.wrap("snapshots.commit", table.commit)
        table.pending_partitions = run.tracer.wrap(
            "snapshots.pending_partitions", table.pending_partitions)
    try:
        pages = read_pages(spark, str(path))
        tag = f"ingest-{path.name}"
        if traced:
            spark.sparkContext.setJobDescription(tag)
            first_span = len(run.tracer.spans)
        t0 = time.perf_counter()
        if traced:
            with run.tracer.span("pipeline.pass"):
                snaps = run_resumable_extraction(spark, pages, table)
                run.stats.append(run.status.action_stats(tag))
        else:
            snaps = run_resumable_extraction(spark, pages, table)
        dt = time.perf_counter() - t0
        if traced:
            spark.sparkContext.setJobDescription(None)
            commit_s = sum(run.tracer.durations("snapshots.commit", first_span))
            resume_span = len(run.tracer.spans)

        t1 = time.perf_counter()
        again = run_resumable_extraction(spark, pages, table)
        resume_s = time.perf_counter() - t1

        langs = set(pq.read_table(path, columns=["lang"]).column("lang").to_pylist())
        run.require(len(snaps) == len(langs),
                    f"{path.name}: {len(snaps)} commits for {len(langs)} partitions")
        run.require(not again, f"{path.name}: resume committed {len(again)} snapshots")
        got = _collect(table.read(spark))
        want = run.corpus.golden(path)
        run.check(got, want, path.name)
        written = sum((table.root / f).stat().st_size
                      for s in table.history() for f in s.files)
        rec = {"docs": len(want), "s": dt, "traced": traced, "commits": len(snaps),
               "resume_commits": len(again), "resume_s": resume_s,
               "bytes_written": written}
        if traced:
            rec["commit_s"] = commit_s
            rec["pending_s"] = sum(run.tracer.durations(
                "snapshots.pending_partitions", resume_span))
            rec["scan_s"] = scan_pass(spark, path)
        return rec
    finally:
        shutil.rmtree(table.root, ignore_errors=True)


def warmup_ingest(run: Run) -> None:
    ingest_once(run, run.corpus.warmup, traced=False)


def loop_ingest(run: Run) -> None:
    spent = 0.0
    for i, path in enumerate(run.corpus.slices):
        if spent >= run.seconds and (run.tracer is None or i >= 2):
            break  # a traced run needs a traced and an untraced pass
        rec = ingest_once(run, path, traced=run.tracer is not None and i % 2 == 1)
        run.passes.append(rec)
        spent += rec["s"]
    else:
        run.notes.append("corpus exhausted before the measuring time ran out")


# workload -> (corpus kind, warm-up action, closed loop)
WORKLOADS = {
    "web_mix": ("web", warmup_extract, loop_extract),
    "receipt_docs": ("receipt", warmup_extract, loop_extract),
    "resumable_ingest": ("web", warmup_ingest, loop_ingest),
}


# --- metrics ----------------------------------------------------------------------

def end_to_end(run: Run) -> dict:
    # median over passes: one pass slowed by a neighbour on the host
    # does not move it
    rates = [p["docs"] / p["s"] for p in run.passes if not p["traced"]]
    return {
        "docs_per_s": statistics.median(rates),
        "golden_ok_frac": 1.0 - run.failed / max(1, run.attempted),
        "worker_rss_mb": python_worker_rss_mb(),
    }


def per_layer(run: Run) -> dict:
    traced = [p for p in run.passes if p["traced"]]
    plain = [p for p in run.passes if not p["traced"]]

    def per_doc(ps):
        return sum(p["s"] for p in ps) / max(1, sum(p["docs"] for p in ps))

    out = {
        "pipeline.pass_s": statistics.median(p["s"] for p in traced),
        "pipeline.scan_s": statistics.median(p["scan_s"] for p in traced),
        "pipeline.docs_per_pass": statistics.median(p["docs"] for p in traced),
        "trace_overhead_frac": per_doc(traced) / per_doc(plain) - 1.0,
    }
    out.update(merge(run.stats, sum(p["docs"] for p in traced)))
    # workers start once, in the warm-up action, and are reused after it
    out["spark.python_boot_s"] = run.warmup_stats.python["python_boot_s"]
    ingest = [p for p in run.passes if "commits" in p]
    docs = sum(p["docs"] for p in ingest)
    out.update({
        "snapshots.commits": statistics.median([p["commits"] for p in ingest] or [0]),
        "snapshots.resume_commits": max([p["resume_commits"] for p in ingest] or [0]),
        "snapshots.commit_s": statistics.median([p["commit_s"] for p in traced if "commit_s" in p] or [0.0]),
        "snapshots.pending_s": statistics.median([p["pending_s"] for p in traced if "pending_s" in p] or [0.0]),
        "snapshots.resume_s": statistics.median([p["resume_s"] for p in ingest] or [0.0]),
        "snapshots.bytes_written": statistics.median([p["bytes_written"] for p in ingest] or [0]),
        "snapshots.written_bytes_per_doc": sum(p["bytes_written"] for p in ingest) / max(1, docs),
    })
    return out
