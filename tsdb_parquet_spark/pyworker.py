"""Python-worker start-up: zip directories are re-read only when the zip changed.

Every Python worker call, planner or task, runs
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``.  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``; before CPython 3.13
``zipimporter.invalidate_caches`` eagerly re-reads the archive directory, and a
worker holds 16 zipimporters (pyspark.zip under 12 package prefixes, the
spark-core jar twice, py4j).  That is ~27k directory entries re-parsed, 0.1-0.2 s,
on every call.  ``install()`` makes the re-read conditional on the archive's
``(st_mtime_ns, st_size)`` having changed since its directory was last read; a
rewritten archive is still re-read, and every importer of that archive then
takes the refreshed shared directory from ``zipimport._zip_directory_cache``.
CPython 3.13 made the re-read lazy, so there ``install()`` does nothing.

``session.get_spark`` names this module as ``spark.python.daemon.module``, so
the executor daemon installs the shim before it forks any worker;
``datasource.py`` installs it at import for the planner workers, which Spark
starts from ``pyspark.daemon`` regardless of that setting.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its cached directory was read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent; no-op on 3.13+)."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or zi.invalidate_caches.__module__ == __name__:
        return
    reread = zi.invalidate_caches

    def invalidate_caches(self):
        """Reload the archive's directory if the archive changed on disk."""
        stamp = _stamp(self.archive)  # taken before any read: a racing write re-reads again
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _read_at.get(self.archive) != stamp:
            reread(self)
            _read_at[self.archive] = stamp
        else:
            self._files = files

    invalidate_caches.__wrapped__ = reread
    # directories read before the patch are taken as current
    for archive in list(zipimport._zip_directory_cache):
        _read_at[archive] = _stamp(archive)
    zi.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # Run by Spark as the Python worker daemon, which reports its port on
    # stdout: write nothing there.  Import the shim by its package name so
    # forked workers see it as ``tsdb_parquet_spark.pyworker``.
    from pyspark import daemon

    from tsdb_parquet_spark.pyworker import install as _install

    _install()
    daemon.manager()
