"""PySpark worker daemon that keeps zip-archive directories across tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``).  On CPython
3.11 that makes every ``zipimporter`` on ``sys.path_importer_cache``
re-read its archive's whole central directory: ``pyspark.zip``, the
py4j zip and the spark-core jar, held by ~16 importers, ~27k entries
per task.  That is a fixed ~0.16-0.37 s before a task sees any data,
whatever its size.  CPython 3.12 made the re-read lazy (gh-103200).

``install()`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when ``os.stat`` reports a changed
``(st_mtime_ns, st_size, st_ino)`` since that importer last read it,
the staleness rule ``FileFinder`` applies to directories.  A changed
archive is still re-read, and a failed stat falls back to the stock
method.  On Python 3.12+ it does nothing.

Run as a module this is a drop-in ``pyspark.daemon``: it installs the
patch, then runs the stock daemon's ``manager()``, so every forked
worker inherits it.  ``session.get_spark`` points
``spark.python.daemon.module`` here.  It imports nothing heavy.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    # stat before read: an archive replaced in between leaves an older
    # stamp than the directory read, so the next call re-reads it
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _stock_invalidate(self)
        self._archive_stamp = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on Python < 3.12; returns
    whether the patch is active."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return active()


def active() -> bool:
    """Whether this process runs the patched method."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed


if __name__ == "__main__":
    import importlib

    # install from the package module, not this ``__main__`` copy, so
    # ``active()`` holds inside the workers
    from crego_document_extractor_spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()

    # stamp every importer the daemon holds before it forks, so even
    # a worker's first task skips the re-read
    importlib.invalidate_caches()
    manager()
