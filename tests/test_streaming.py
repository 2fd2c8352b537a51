"""Streaming ingest into the snapshot table: exactly-once per file
across restarts, a replayed micro-batch commits nothing, and the
streaming entry of ``__spark_entry__.queries()`` equals the batch
extraction."""

import shutil

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from receipt_scanner_spark.plans.pipeline import extract_pages, extraction_counts
from receipt_scanner_spark.sources.pages import write_corpus
from receipt_scanner_spark.streaming.incremental import stream_extract
from receipt_scanner_spark.table.snapshots import SnapshotTable


def _add_files(tmp_path, src, prefix, **corpus):
    write_corpus(str(tmp_path / prefix), **corpus)
    for f in (tmp_path / prefix / "pages.parquet").glob("*.parquet"):
        shutil.copy(f, src / f"{prefix}_{f.name}")


def _drain(spark, src, table, ckpt):
    q = stream_extract(spark, str(src), table, ckpt)
    q.awaitTermination(120)
    assert q.exception() is None


def _same_rows(a, b):
    cols = ["url", "format", "extracted_text", "amount", "date", "error"]
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestStreamExtract:
    def test_available_now_drains_then_resumes_new_files(self, spark, tmp_path):
        src = tmp_path / "src"
        src.mkdir()
        table = SnapshotTable(str(tmp_path / "t"))
        ckpt = str(tmp_path / "ckpt")

        _add_files(tmp_path, src, "a", n_rows=200, seed=42, n_files=4)
        _drain(spark, src, table, ckpt)
        assert table.read(spark).count() == 200

        # new files appear; a restart on the same checkpoint processes
        # ONLY them: 200 + 100, not 400 (reprocess) or 500 (both redone).
        # (urls overlap across seeds, so count rows, not urls)
        _add_files(tmp_path, src, "b", n_rows=100, seed=7, n_files=2)
        _drain(spark, src, table, ckpt)
        result = table.read(spark)
        assert result.count() == 300
        assert result.filter(F.col("amount").isNotNull()).count() > 200

        history = table.history()
        assert [s.partitions for s in history] == [
            ["batch-00000000"], ["batch-00000001"]
        ]
        # each micro-batch snapshot carries the ingest's footer metrics
        for s in history:
            files = spark.read.parquet(*[str(table.root / f) for f in s.files])
            assert files.agg(*extraction_counts()).first().asDict() == s.metrics
        assert [s.metrics["total"] for s in history] == [200, 100]

    def test_replayed_batch_commits_nothing(self, spark, tmp_path):
        """A crash after the publish but before Spark logs the batch's
        commit: the restart replays that batch id, and the table skips
        it."""
        src = tmp_path / "src"
        src.mkdir()
        table = SnapshotTable(str(tmp_path / "t"))
        ckpt = tmp_path / "ckpt"
        _add_files(tmp_path, src, "a", n_rows=40, seed=3, n_files=2)
        _drain(spark, src, table, str(ckpt))
        before = table.history()
        rows = table.read(spark)
        assert [s.partitions for s in before] == [["batch-00000000"]]

        last = max(int(p.name) for p in (ckpt / "commits").glob("[0-9]*"))
        (ckpt / "commits" / str(last)).unlink()
        (ckpt / "commits" / f".{last}.crc").unlink()
        _drain(spark, src, SnapshotTable(str(tmp_path / "t")), str(ckpt))
        assert (ckpt / "commits" / str(last)).exists()  # the batch re-ran
        assert table.history() == before
        assert _same_rows(table.read(spark), rows)


def test_spark_entry_equals_extract_pages(spark, tmp_path):
    """``__spark_entry__``'s streaming entry returns exactly what the
    batch extraction of the same corpus returns."""
    got = entry_mod.queries()["streaming_extract_availablenow"](spark, "")
    write_corpus(str(tmp_path / "c"), n_rows=200, seed=11, n_files=4)
    pages = spark.read.parquet(str(tmp_path / "c" / "pages.parquet"))
    want = extract_pages(pages, observe=False).select(*got.columns)
    assert got.count() == 200
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
