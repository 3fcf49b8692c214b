"""PySpark's worker daemon, with zip-directory re-reads only on change.

Before every task a reused PySpark worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On Python < 3.13 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory: a worker
holds about 16 of them, over ``pyspark.zip``, py4j's zip and the
``spark-core`` jar, so each task parses about 27,000 directory entries
(0.18-0.26 s on a 4-core VM) for archives that never change during a run.

``install()`` keeps the stock result at a fraction of the cost:

- every directory read stamps its archive with the ``(st_mtime_ns,
  st_size)`` that ``os.stat`` gave just before the read;
- ``zipimporter.invalidate_caches`` re-reads an archive only when its stat
  differs from the stamp, or when the stat fails (then it runs the stock
  method, which drops a vanished archive).  An unchanged archive hands the
  importer the shared directory already read, as a stock re-read of an
  unchanged file would.

Python 3.13's ``invalidate_caches`` only drops the shared cache and reads
lazily, so ``install`` leaves it alone there.

Run as ``python -m disq_original_spark.pydaemon`` (Spark's
``spark.python.daemon.module``, set by ``session.get_spark``): it installs
the patch, then runs ``pyspark.daemon.manager()``.  The daemon forks every
Python worker, so each worker pool has it from its first task.  The module
imports only the standard library and ``pyspark``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int] | None] = {}


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Patch ``zipimport`` in this process (a no-op on Python 3.13 and
    later) and bring the importers already made up to date."""
    if sys.version_info >= (3, 13):
        return
    stock_read = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches

    def read_directory(archive):
        stamp = _stat(archive)
        files = stock_read(archive)
        _stamps[archive] = stamp  # None, when the stat failed, never matches
        return files

    def invalidate_caches(self):
        stamp = _stat(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _stamps.get(self.archive) != stamp:
            stock_invalidate(self)
        else:
            self._files = files

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # importers made before the patch hold unstamped directories: one
    # re-read per archive stamps them
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
