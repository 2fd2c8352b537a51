"""Smoke test of the production entry point ``jobs/extract_job.py``:
a run, a resumed run, ``--report``, ``--summary`` with ``--json-out``,
and a bad ``--profile`` on a small corpus."""

import importlib.util
import json
import sys
from pathlib import Path

import pytest

from receipt_scanner_spark.functions.natsort import natural_key
from receipt_scanner_spark.plans.pipeline import summary
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
    out_json = tmp_path / "out.json"
    outputs = run("--summary", "--json-out", str(out_json))
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

    # --summary and --json-out read the whole table (nothing pending here)
    written = SnapshotTable(table).read(spark)
    want = summary(written).first().asDict()
    assert json.loads(outputs.out.splitlines()[-1]) == {"summary": want}
    urls = [r["url"] for r in written.orderBy(natural_key("url"), "url").collect()]
    keys = list(json.loads(out_json.read_text()))
    assert len(keys) == 60 and keys == urls
