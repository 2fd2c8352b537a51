"""Snapshot table: atomic commits, lineage, time travel, kill/resume."""

import json
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from receipt_scanner_spark.plans.pipeline import extraction_counts
from receipt_scanner_spark.sources.pages import write_corpus
from receipt_scanner_spark.table.snapshots import (
    SnapshotTable,
    _footer_counts,
    run_resumable_extraction,
)


def _urls(df):
    return sorted(r["url"] for r in df.select("url").collect())


def _same_rows(a, b):
    cols = ["url", "extracted_text", "amount", "date", "error"]
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.fixture()
def pages(spark, tmp_path):
    write_corpus(str(tmp_path / "c"), n_rows=300, seed=42, n_files=4)
    return spark.read.parquet(str(tmp_path / "c" / "pages.parquet"))


class TestSnapshotTable:
    def test_commit_and_read(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        df = pages.select("url", "lang")
        snap = table.commit(df, ["all"], metrics={"total": 300})
        assert snap.snapshot_id == 1 and snap.parent_id is None
        assert table.read(spark).count() == 300
        assert table.snapshot().metrics == {"total": 300}

    def test_duplicate_partition_rejected(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        df = pages.select("url").limit(10)
        table.commit(df, ["p1"])
        with pytest.raises(ValueError, match="already committed"):
            table.commit(df, ["p1"])

    def test_overwrite_shadows(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        table.commit(pages.select("url").limit(10), ["p1"])
        table.commit(pages.select("url").limit(5), ["p2"])
        table.commit(pages.select("url").limit(3), ["p1"], overwrite=True)
        assert table.read(spark).count() == 8  # 3 (new p1) + 5 (p2)
        # time travel: at snapshot 2 the old p1 is still visible
        assert table.read(spark, as_of=2).count() == 15

    def test_schema_evolution_explicit(self, spark, pages, tmp_path):
        """Iceberg-style evolution: silent schema drift is rejected;
        column ADDS need the explicit flag; reads merge old and new
        files with nulls; drops are refused outright."""
        table = SnapshotTable(str(tmp_path / "t"))
        table.commit(pages.select("url", "lang").limit(10), ["p1"])
        evolved = pages.select(
            "url", "lang", F.lit(1).alias("crawl_round")
        ).limit(5)
        # silent drift rejected
        with pytest.raises(ValueError, match="allow_schema_change"):
            table.commit(evolved, ["p2"])
        # explicit add allowed
        table.commit(evolved, ["p2"], allow_schema_change=True)
        out = table.read(spark)
        assert set(out.columns) == {"url", "lang", "crawl_round"}
        assert out.filter("crawl_round IS NULL").count() == 10  # old files
        assert out.filter("crawl_round = 1").count() == 5
        # time travel before the evolution: old schema only
        assert set(table.read(spark, as_of=1).columns) == {"url", "lang"}
        # dropping a column is refused even with the flag
        with pytest.raises(ValueError, match="ADDS only"):
            table.commit(
                pages.select("url").limit(3), ["p3"], allow_schema_change=True
            )

    def test_compaction_rewrites_small_files(self, spark, pages, tmp_path):
        """rewrite_data_files analog: many small commits -> one
        compaction overwrite; contents identical, fewer live files,
        time travel to pre-compaction intact, partitions still
        processed (resume unaffected)."""
        table = SnapshotTable(str(tmp_path / "t"))
        # 3 small commits (each repartitioned to 2 files)
        for i, p in enumerate(["p1", "p2", "p3"]):
            table.commit(
                pages.select("url", "lang").limit(30 + i).repartition(2), [p]
            )
        n_live_before = len(table._live_files())
        assert n_live_before >= 6
        rows_before = sorted(r["url"] for r in table.read(spark).collect())
        pre_compaction_head = table.current_snapshot_id()

        snap = table.compact(spark, target_files=1)
        assert snap.operation == "overwrite"
        assert len(table._live_files()) < n_live_before
        assert sorted(r["url"] for r in table.read(spark).collect()) == rows_before
        # time travel to the pre-compaction snapshot still works
        assert (
            sorted(r["url"] for r in table.read(spark, as_of=pre_compaction_head).collect())
            == rows_before
        )
        # resume: nothing pending
        assert table.pending_partitions(["p1", "p2", "p3"]) == []

    def test_expire_snapshots_after_compaction(self, spark, pages, tmp_path):
        """expire_snapshots + orphan cleanup: only valid at a compaction
        point; old manifests and unreachable commit dirs are deleted,
        contents and resume semantics survive, expired time travel
        raises cleanly."""
        table = SnapshotTable(str(tmp_path / "t"))
        for p in ["p1", "p2"]:
            table.commit(pages.select("url", "lang").limit(20), [p])
        # not a compaction point yet -> refused
        with pytest.raises(ValueError, match="compact"):
            table.expire_snapshots(keep_from=2)
        snap = table.compact(spark)
        rows = sorted(r["url"] for r in table.read(spark).collect())
        # default grace protects the fresh (but unreferenced) commit dirs
        graced = table.expire_snapshots(keep_from=snap.snapshot_id)
        assert graced["orphan_files_deleted"] == 0
        assert len(list((tmp_path / "t" / "data").iterdir())) == 3
        # history is already squashed; a second call at the (now-root)
        # snapshot expires nothing but still runs the orphan sweep,
        # which deletes the unreferenced dirs once the grace is waived
        report = table.expire_snapshots(
            keep_from=snap.snapshot_id, orphan_grace_s=0.0
        )
        assert graced["expired"] == 2 and report["orphan_files_deleted"] >= 2
        # contents identical, resume still complete
        assert sorted(r["url"] for r in table.read(spark).collect()) == rows
        assert table.pending_partitions(["p1", "p2"]) == []
        # only the retained commit dir remains on disk
        assert len(list((tmp_path / "t" / "data").iterdir())) == 1
        # expired time travel raises cleanly
        with pytest.raises(ValueError, match="empty table"):
            table.read(spark, as_of=1)
        # further commits proceed normally on the squashed chain
        table.commit(pages.select("url", "lang").limit(5), ["p3"])
        assert table.read(spark).count() == len(rows) + 5
        assert table.processed_partitions() == {"p1", "p2", "p3"}
        assert table.processed_partitions(as_of=1) == set()  # expired

    def test_atomic_manifest_no_tmp_leak(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        table.commit(pages.select("url").limit(10), ["p1"])
        leftovers = list((tmp_path / "t" / "_manifests").glob("*.tmp"))
        assert not leftovers

    def test_concurrent_publishes_form_one_chain(self, tmp_path):
        """Two writers racing on one table: every publish that returned
        is in HEAD's chain, ids are consecutive, and no temp file is
        left behind."""
        barrier = threading.Barrier(2, timeout=60)

        def writer(name):
            table = SnapshotTable(str(tmp_path / "t"))
            barrier.wait()
            return [
                table._publish([f"{name}-{i}"], [], {}, ["url"]).snapshot_id
                for i in range(20)
            ]

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)  # interleave the writers finely
        try:
            with ThreadPoolExecutor(2) as pool:
                returned = [sid for ids in pool.map(writer, "ab") for sid in ids]
        finally:
            sys.setswitchinterval(interval)
        history = SnapshotTable(str(tmp_path / "t")).history()
        assert sorted(returned) == [s.snapshot_id for s in history]
        assert [s.snapshot_id for s in history] == list(range(1, 41))
        assert [s.parent_id for s in history] == [None, *range(1, 40)]
        assert sorted(p for s in history for p in s.partitions) == sorted(
            f"{w}-{i}" for w in "ab" for i in range(20)
        )
        # the loser of a race recomputes ``processed`` from the new HEAD
        for prev, snap in zip([None, *history], history):
            assert snap.processed == sorted(
                {*snap.partitions, *(prev.processed if prev else ())}
            )
        assert not list((tmp_path / "t" / "_manifests").glob("*.tmp"))

        # HEAD does not depend on the hint: a writer that dies between its
        # manifest and the hint leaves it stale, or absent on a new table
        table = SnapshotTable(str(tmp_path / "t"))
        table._head_path().write_text("1")
        assert table.current_snapshot_id() == 40
        table._head_path().unlink()
        assert table.current_snapshot_id() == 40
        assert table._publish(["c"], [], {}, ["url"]).parent_id == 40


    def test_publish_reads_one_manifest_at_any_chain_length(
        self, tmp_path, monkeypatch
    ):
        """The resume watermark is HEAD's ``processed``: a publish and a
        ``processed_partitions()`` read the same number of manifests on
        a chain of 1 snapshot as on one of 200."""
        table = SnapshotTable(str(tmp_path / "t"))
        reads = []
        read_text = Path.read_text

        def counting(path, *args, **kwargs):
            if path.name.startswith("snap-"):
                reads.append(path.name)
            return read_text(path, *args, **kwargs)

        monkeypatch.setattr(Path, "read_text", counting)

        def manifest_reads(fn):
            reads.clear()
            fn()
            return len(reads)

        def publish(i):
            return lambda: table._publish([f"p{i}"], [], {}, ["url"])

        publish(0)()
        at_1 = manifest_reads(publish(1))
        for i in range(2, 200):
            publish(i)()
        assert table.current_snapshot_id() == 200
        assert manifest_reads(publish(200)) == at_1 == 1
        assert manifest_reads(table.processed_partitions) == 1
        assert table.processed_partitions() == {f"p{i}" for i in range(201)}
        assert table.processed_partitions(as_of=3) == {"p0", "p1", "p2"}
        assert table.pending_partitions(["p7", "q"]) == ["q"]

    def test_manifest_without_processed_fails_loudly(self, tmp_path):
        """A manifest written before ``processed`` was recorded must not
        read as "nothing processed" (that would re-ingest everything)."""
        table = SnapshotTable(str(tmp_path / "t"))
        path = table._manifest_path(table._publish(["en"], [], {}, ["url"]).snapshot_id)
        data = json.loads(path.read_text())
        del data["processed"]
        path.write_text(json.dumps(data))
        with pytest.raises(TypeError, match="processed"):
            table.pending_partitions(["en", "fr"])


class TestResumableExtraction:
    def test_full_run_then_noop(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        snaps = run_resumable_extraction(spark, pages, table)
        assert {p for s in snaps for p in s.partitions} == {"en", "es"}
        assert table.read(spark).count() == 300
        # second run: everything already committed → no-op
        again = run_resumable_extraction(spark, pages, table)
        assert again == []
        assert table.read(spark).count() == 300

    def test_kill_mid_run_resumes(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        # simulate a job killed after the first partition committed
        first_part = table.pending_partitions(["en", "es"])[0]
        sub = pages.filter(F.col("lang") == first_part)
        from receipt_scanner_spark.plans.pipeline import extract_pages

        table.commit(extract_pages(sub, observe=False), [first_part],
                     metrics={"total": sub.count()})
        # resume: processes ONLY the remaining partition
        snaps = run_resumable_extraction(spark, pages, table)
        assert [p for s in snaps for p in s.partitions] == ["es"] or [
            p for s in snaps for p in s.partitions
        ] == ["en"]
        assert table.read(spark).count() == 300
        # lineage + per-partition metrics recorded (north rule)
        hist = table.metrics_history()
        assert len(hist) == 2
        assert all("total" in h["metrics"] for h in hist[1:])

    def test_resumed_equals_single_shot(self, spark, pages, tmp_path):
        t1 = SnapshotTable(str(tmp_path / "t1"))
        run_resumable_extraction(spark, pages, t1)
        t2 = SnapshotTable(str(tmp_path / "t2"))
        # kill/restart path
        from receipt_scanner_spark.plans.pipeline import extract_pages

        sub = pages.filter(F.col("lang") == "en")
        t2.commit(extract_pages(sub, observe=False), ["en"], metrics={})
        run_resumable_extraction(spark, pages, t2)

        assert _same_rows(t1.read(spark), t2.read(spark))

    def test_extraction_udf_runs_once_per_row(self, spark, pages, tmp_path):
        """Metrics come from the written files' footers — the extraction
        UDF must materialize exactly ONCE per row (an earlier shape ran
        the plan twice: once for metrics, once for the write)."""
        calls = spark.sparkContext.accumulator(0)

        def counting_parser(text, config=None):
            calls.add(1)
            return {"match": None, "matches": []}

        table = SnapshotTable(str(tmp_path / "t"))
        snaps = run_resumable_extraction(
            spark, pages, table, parsers=["amount", "date", counting_parser]
        )
        n_rows = pages.count()
        out = table.read(spark)
        assert out.count() == n_rows
        # parsers only run on rows whose extraction produced text
        n_parsed = out.filter("extracted_text IS NOT NULL").count()
        assert n_parsed > 0.8 * n_rows
        assert calls.value == n_parsed  # once per parsed row, not 2x
        # footer metrics still recorded per commit
        assert sum(s.metrics["total"] for s in snaps) == n_rows
        assert all(
            set(s.metrics) == {"total", "amount", "date", "errors"} for s in snaps
        )

    def test_manifest_is_json_with_lineage(self, spark, pages, tmp_path):
        table = SnapshotTable(str(tmp_path / "t"))
        run_resumable_extraction(spark, pages, table)
        manifest = json.loads(
            next((tmp_path / "t" / "_manifests").glob("snap-*.json")).read_text()
        )
        assert {"snapshot_id", "parent_id", "partitions", "files", "metrics"} <= set(
            manifest
        )

    def test_fresh_table_is_one_spark_job(self, spark, pages, tmp_path):
        """A fresh ingest is one pass over ``pages``: no key pre-scan,
        one extraction-plus-write job for every partition."""
        sc = spark.sparkContext
        sc.setJobGroup("fresh-ingest", "fresh ingest")
        try:
            snaps = run_resumable_extraction(
                spark, pages, SnapshotTable(str(tmp_path / "t"))
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(snaps) == 2
        assert len(sc.statusTracker().getJobIdsForGroup("fresh-ingest")) == 1

    def test_null_partition_rows_kept(self, spark, tmp_path):
        """A null partition value shares the "" partition (Spark's
        default partition directory): every input row reaches the table,
        and a rerun commits nothing."""
        write_corpus(str(tmp_path / "c"), n_rows=50, seed=7, n_files=2)
        raw = spark.read.parquet(str(tmp_path / "c" / "pages.parquet"))
        nulls = _urls(raw)[:7]
        pages = raw.withColumn(
            "lang", F.when(F.col("url").isin(nulls), None).otherwise(F.col("lang"))
        )
        table = SnapshotTable(str(tmp_path / "t"))
        snaps = run_resumable_extraction(spark, pages, table)
        assert _urls(table.read(spark)) == _urls(raw)
        by_key = {s.partitions[0]: s for s in snaps}
        assert by_key[""].metrics["total"] == 7
        assert sum(s.metrics["total"] for s in snaps) == 50
        assert run_resumable_extraction(spark, pages, table) == []
        assert table.read(spark).count() == 50

    def test_crash_between_publishes_resumes(self, spark, pages, tmp_path):
        """A kill after the pass, between two publishes, keeps the first
        partition; the rerun commits only the missing one and the table
        equals a single-shot run."""
        table = SnapshotTable(str(tmp_path / "t"))
        publish = table._publish
        calls = []

        def killed_on_second(*args, **kwargs):
            calls.append(args[0])
            if len(calls) == 2:
                raise RuntimeError("killed between publishes")
            return publish(*args, **kwargs)

        table._publish = killed_on_second
        with pytest.raises(RuntimeError, match="between publishes"):
            run_resumable_extraction(spark, pages, table)
        assert calls == [["en"], ["es"]]
        assert table.processed_partitions() == {"en"}

        restarted = SnapshotTable(str(tmp_path / "t"))
        snaps = run_resumable_extraction(spark, pages, restarted)
        assert [s.partitions for s in snaps] == [["es"]]
        single = SnapshotTable(str(tmp_path / "single"))
        run_resumable_extraction(spark, pages, single)
        assert _same_rows(restarted.read(spark), single.read(spark))

    def test_escaped_keys_and_footer_metrics(self, spark, pages, tmp_path):
        """Keys that Spark escapes in partition paths, plus "" (the
        default partition): each snapshot's files hold exactly that
        key's rows, and its footer metrics equal extraction_counts()
        over them."""
        keys = ["a/b", "k=v", "50%", "é", " x", ""]
        keyed = pages.withColumn(
            "lang",
            F.element_at(
                F.array(*[F.lit(k) for k in keys]),
                (F.pmod(F.xxhash64("url"), F.lit(len(keys))) + 1).cast("int"),
            ),
        )
        table = SnapshotTable(str(tmp_path / "t"))
        snaps = run_resumable_extraction(spark, keyed, table)
        assert [s.partitions for s in snaps] == [[k] for k in sorted(keys)]
        for s in snaps:
            (key,) = s.partitions
            got = spark.read.parquet(*[str(table.root / f) for f in s.files])
            assert got.columns == s.schema
            assert _urls(got) == _urls(keyed.filter(F.col("lang") == key))
            assert got.agg(*extraction_counts()).first().asDict() == s.metrics
        assert table.read(spark).count() == 300

    def test_footer_counts_without_statistics(self, tmp_path):
        """A column chunk without footer statistics (parquet-mr drops
        them for min/max values over 4 KiB) is counted from its data."""
        rows = pa.table({
            "amount": ["1.00", None, "2.50", None],
            "date": [None, None, "2020-01-02", None],
            "error": [None, "x" * 5000, None, None],
        })
        want = {"total": 4, "amount": 2, "date": 1, "errors": 1}
        for stats in (True, False):
            path = tmp_path / f"stats-{stats}.parquet"
            pq.write_table(rows, path, write_statistics=stats, row_group_size=3)
            md = pq.ParquetFile(path).metadata
            assert md.num_row_groups == 2
            assert (md.row_group(0).column(0).statistics is not None) == stats
            assert _footer_counts([path]) == want
