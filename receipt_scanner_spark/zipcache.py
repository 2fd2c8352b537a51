"""Keep zipimport's archive directories across ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark/worker_util.setup_spark_files``).  On
CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory: the
worker's ``pyspark.zip`` once per imported sub-package, py4j, and the
spark-core jar (5,359 entries) — about 0.2 s per task — after which
each importer holds a private copy of the directory instead of sharing
``zipimport._zip_directory_cache[archive]``.  CPython 3.13 no longer
re-reads there.

``install()`` gives ``zipimporter.invalidate_caches`` this rule: while
an archive has the same ``(st_ino, st_size, st_mtime_ns)`` as when the
method last read it, re-point the importer at the shared cached
directory; a changed, missing or not yet stamped archive takes the
stdlib path (re-read, or drop an unreadable one).  A reused worker
therefore re-reads each archive once more, at its first task after the
install, and never again while the archives stay as they are.

The package imports this module and calls ``install()``, so every
process that unpickles an engine UDF (each Spark Python worker) runs it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) when the guard last read it
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> bool:
    """Guard ``zipimporter.invalidate_caches`` (idempotent).  Whether the
    guard is active after the call: False outside CPython 3.10-3.12 (3.13
    no longer re-reads eagerly, and its method is left as it is; before
    3.10 zipimporter has no such method)."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        return False
    if active():
        return True
    cls = zipimport.zipimporter
    stdlib = cls.invalidate_caches

    def invalidate_caches(self):
        """Re-read the archive directory unless the archive is unchanged
        since this method last read it."""
        archive = self.archive
        stamp = _stamp(archive)
        if stamp is not None and _STAMPS.get(archive) == stamp:
            files = zipimport._zip_directory_cache.get(archive)
            if files is not None:
                self._files = files
                return
        stdlib(self)
        # stat before the read: a change during it shows at the next call
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _STAMPS[archive] = stamp
        else:
            _STAMPS.pop(archive, None)

    invalidate_caches.keeps_unchanged_archives = True
    cls.invalidate_caches = invalidate_caches
    return True


def active() -> bool:
    """Whether this process's zipimporters carry the guard."""
    return getattr(zipimport.zipimporter.invalidate_caches, "keeps_unchanged_archives", False)
