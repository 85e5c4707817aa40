"""PySpark Python-worker daemon: ``pyspark.daemon`` with zip directory
re-reads skipped for archives that did not change.

Spark runs it as ``python -m homelogging_spark.workerd [worker module]``
(``spark.python.daemon.module``, set by ``session.get_spark``). It
patches ``zipimport`` and then runs ``pyspark.daemon.manager()``
unchanged, so every forked worker inherits the patch.

Why: at the start of every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On CPython < 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole central
directory of its archive, and a worker holds one zipimporter per package
directory it imported from ``pyspark.zip`` (1,328 entries) and the py4j
zip: some 16 instances and 26,000 directory entries parsed per task,
about 0.2 s of worker CPU before the task reads a row. Workers are
reused across tasks and re-import nothing, so the re-read buys nothing
while the archive is unchanged.

The patched method re-reads an archive only when its ``os.stat``
(inode, mtime, size) differs from the stat taken before the last read,
so a rewritten zip (an ``addPyFile`` upload, say) is still re-read and
imports keep their semantics. An archive that cannot be stat-ed goes to
the stock method. CPython >= 3.12 reads zip directories lazily and is
left untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_ino, st_mtime_ns, st_size) taken before its last
# read; process-wide, like zipimport._zip_directory_cache it vouches for
_read_stats: dict[str, tuple[int, int, int]] = {}


def _stat_checked_invalidate(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory
    re-read when the archive's stat is the one seen at the last read."""
    try:
        st = os.stat(self.archive)
    except (OSError, ValueError):
        _read_stats.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stat = (st.st_ino, st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stats.get(self.archive) == stat:
        self._files = files
        return
    _stock_invalidate(self)
    # stat taken before the read: a change during the read is seen as a
    # change at the next call
    if self.archive in zipimport._zip_directory_cache:
        _read_stats[self.archive] = stat
    else:
        _read_stats.pop(self.archive, None)


def install() -> bool:
    """Patch ``zipimport`` in this process (CPython < 3.12 only).
    Returns whether the patch is in place."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _stat_checked_invalidate
    return True


if __name__ == "__main__":
    install()
    # on import, pyspark.daemon takes its worker module from sys.argv,
    # where Spark's command line put it
    from pyspark import daemon

    daemon.manager()
