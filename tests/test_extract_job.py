"""Smoke test of the production entry point ``jobs/extract_job.py``:
a run, a resumed run, ``--report``, and a bad ``--profile`` on a small
corpus."""

import importlib.util
import json
import sys
from pathlib import Path

import pytest

from receipt_scanner_spark.sources.pages import write_corpus
from receipt_scanner_spark.table.snapshots import SnapshotTable

JOB = Path(__file__).resolve().parents[1] / "jobs" / "extract_job.py"


def _load_job():
    spec = importlib.util.spec_from_file_location("extract_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    return job


def test_run_resume_report(spark, tmp_path, monkeypatch, capsys):
    pages_dir, _ = write_corpus(str(tmp_path / "c"), n_rows=60, seed=11, n_files=2)
    table = str(tmp_path / "t")
    job = _load_job()

    def run(*extra):
        monkeypatch.setattr(
            sys, "argv", ["extract_job.py", "--input", pages_dir, "--table", table, *extra]
        )
        job.main()
        return capsys.readouterr()

    # main() runs on the caller's session and leaves its confs as they were
    conf_before = spark.conf.getAll
    first = run()
    second = run()
    report = run("--report")
    assert spark.conf.getAll == conf_before

    langs = {
        r["lang"] for r in spark.read.parquet(pages_dir).select("lang").distinct().collect()
    }
    lines = [json.loads(line) for line in first.out.splitlines()]
    assert sorted(p for line in lines for p in line["partitions"]) == sorted(langs)
    assert len(lines) == len(langs) == 2
    assert sum(line["metrics"]["total"] for line in lines) == 60

    assert second.out == ""
    assert "nothing to do" in second.err

    # an unknown profile fails before the pass: nothing is committed
    bad_table = str(tmp_path / "bad")
    monkeypatch.setattr(sys, "argv", ["extract_job.py", "--input", pages_dir,
                                      "--table", bad_table, "--profile", "nope"])
    with pytest.raises(ValueError, match="profile='nope'"):
        job.main()
    assert SnapshotTable(bad_table).current_snapshot_id() is None
    assert spark.conf.getAll == conf_before

    history = json.loads(report.out)
    assert [(h["snapshot_id"], h["partitions"], h["metrics"]) for h in history] == [
        (line["snapshot"], line["partitions"], line["metrics"]) for line in lines
    ]
