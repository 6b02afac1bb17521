"""Spark Python worker daemon that keeps zip-archive import caches warm.

Every Python task calls ``importlib.invalidate_caches()`` once it has
put its ``--py-files`` on ``sys.path`` (``pyspark/worker_util.py``,
``setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads the whole directory of its
archive, and a worker holds one importer per sub-package it imported
from ``pyspark.zip`` (12-20 of them), so every task, even on a reused
worker, re-read that directory a dozen times (~150 ms on a 4-core
box). CPython 3.13 made the method lazy.

This module replaces the method, on Python < 3.13 only, with one that
re-reads an archive only when its ``os.stat`` identity
``(st_ino, st_size, st_mtime_ns)`` differs from the one this importer
recorded when it last read it; then it runs Spark's own daemon loop.
An archive rewritten or shipped again under the same path therefore
is still re-read, a new archive gets a new importer, and directory
finders are untouched.

Spark starts it through ``spark.python.daemon.module`` (set by
``session.get_spark``), as ``python -m coa_codesearch_mcp_spark.worker_daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_identity(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Reload the archive's directory if the archive changed on disk
    since this importer last read it. The stat comes BEFORE the read:
    a rewrite landing in between records the older identity, so the
    next call reads again (one redundant read, never a stale one)."""
    ident = _archive_identity(self.archive)
    if ident is not None and getattr(self, "_archive_identity", None) == ident:
        return
    _stock_invalidate_caches(self)
    self._archive_identity = ident


def main() -> None:
    """Patch ``zipimporter.invalidate_caches`` (Python < 3.13) and read
    each zip importer the daemon already holds once, so the workers it
    forks start with every importer stamped; then run Spark's daemon."""
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run through the package's own module object, so tasks that
    # import it see the functions that are installed
    from coa_codesearch_mcp_spark import worker_daemon

    worker_daemon.main()
