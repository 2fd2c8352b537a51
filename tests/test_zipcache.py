"""receipt_scanner_spark/zipcache.py — zipimport's archive directories
survive ``importlib.invalidate_caches()`` while the archive is unchanged."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from receipt_scanner_spark import zipcache

GUARDED = (3, 10) <= sys.version_info[:2] < (3, 13)
needs_guard = pytest.mark.skipif(not GUARDED, reason="guard is off on this Python")


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    os.replace(tmp, path)  # a new inode, as a re-shipped archive gets


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to zipimport's directory reader, in call order."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path):
    path = tmp_path / "zc_lib.zip"
    _write_zip(path, {"zc_old.py": "VALUE = 1\n", "zc_pkg/__init__.py": "", "zc_pkg/m.py": "X = 3\n"})
    return str(path)


@needs_guard
def test_installed_with_the_package():
    assert zipcache.active()
    assert zipimport.zipimporter.invalidate_caches.keeps_unchanged_archives


@needs_guard
def test_unchanged_archive_is_read_once_and_shared(archive, reads):
    root = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "zc_pkg"))
    assert reads == [archive]  # the constructor's read, shared by both
    for _ in range(3):  # three tasks' worth of invalidation
        root.invalidate_caches()
        sub.invalidate_caches()
    # one stamped re-read at the first call, none after it
    assert reads == [archive, archive]
    shared = zipimport._zip_directory_cache[archive]
    assert root._files is shared and sub._files is shared
    assert sub.find_spec("zc_pkg.m") is not None


@needs_guard
def test_rewritten_archive_is_reread_and_new_member_imports(archive, reads, monkeypatch):
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zc_old").VALUE == 1
        importer = sys.path_importer_cache[archive]
        importlib.invalidate_caches()  # stamps the archive
        n = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == n

        _write_zip(archive, {"zc_old.py": "VALUE = 1\n", "zc_new.py": "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads[n:] == [archive]
        assert importer._files is zipimport._zip_directory_cache[archive]
        assert importlib.import_module("zc_new").VALUE == 2
    finally:
        for name in ("zc_old", "zc_new"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@needs_guard
def test_missing_archive_takes_the_stdlib_path(archive, reads):
    z = zipimport.zipimporter(archive)
    z.invalidate_caches()
    os.remove(archive)
    z.invalidate_caches()  # the stdlib's ZipImportError branch
    assert z._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert archive not in zipcache._STAMPS
    # the same path back with other content is read, not trusted
    _write_zip(archive, {"zc_back.py": ""})
    n = len(reads)
    z.invalidate_caches()
    assert reads[n:] == [archive] and "zc_back.py" in z._files


@needs_guard
def test_install_twice_is_a_no_op():
    before = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() is True
    assert zipcache.install() is True
    assert zipimport.zipimporter.invalidate_caches is before


def test_python_313_keeps_the_stdlib_method(monkeypatch):
    def stdlib(self):
        """Stand-in for 3.13's method."""

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert not zipcache.active()


@pytest.mark.skipif(shutil.which("python3.13") is None, reason="no python3.13 on PATH")
def test_python_313_interpreter_leaves_zipimport_alone():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import zipimport; before = zipimport.zipimporter.invalidate_caches\n"
        "import receipt_scanner_spark\n"
        "from receipt_scanner_spark import zipcache\n"
        "assert zipcache.install() is False and not zipcache.active()\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n"
    )
    env = dict(os.environ, PYTHONPATH=repo)
    r = subprocess.run(["python3.13", "-c", code], env=env, capture_output=True, text=True)
    if r.returncode and "command not found" in r.stderr:
        pytest.skip("python3.13 shim without an interpreter")
    assert r.returncode == 0, r.stderr


@needs_guard
def test_reused_spark_worker_keeps_one_pyspark_directory(spark):
    """A worker that ran an engine UDF has the guard before its next
    task's ``invalidate_caches()``: that task's UDF sees the guard and
    every ``pyspark.zip`` importer on the one cached directory."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("pid int, active boolean, importers int, shared boolean")
    def probe(x: pd.Series) -> pd.DataFrame:
        import os
        import sys
        import zipimport

        from receipt_scanner_spark import zipcache

        cache = zipimport._zip_directory_cache
        zs = [f for f in list(sys.path_importer_cache.values())
              if isinstance(f, zipimport.zipimporter)
              and os.path.basename(f.archive) == "pyspark.zip"]
        shared = all(f._files is cache.get(f.archive) for f in zs)
        return pd.DataFrame({"pid": os.getpid(), "active": zipcache.active(),
                             "importers": len(zs), "shared": shared}, index=x.index)

    df = spark.range(0, 8, numPartitions=2)

    def run():
        return df.select(probe("id").alias("r")).select("r.*").distinct().collect()

    seen = {r.pid for r in run()}
    reused = []
    for _ in range(5):  # idle workers are handed out in no fixed order
        rows = run()
        reused = [r for r in rows if r.pid in seen]
        if reused:
            break
        seen |= {r.pid for r in rows}
    assert reused, "no Python worker was reused"
    for r in reused:
        assert r.active and r.importers >= 1 and r.shared, r
