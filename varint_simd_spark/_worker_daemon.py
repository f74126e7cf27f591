"""Python worker daemon for local Spark sessions: ``pyspark.daemon`` with a
stat-checked zip directory cache.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``setup_spark_files``, so that newly shipped ``pyFiles`` become
importable).  On CPython 3.11 that makes every ``zipimporter`` on the path
re-parse its archive's whole central directory, and a worker holds one
importer per imported package directory: pyspark.zip (about 1300 entries),
the py4j zip and the spark-core jar (about 5400 entries) are re-read 16
times, 0.2 s or more before each task's function starts, whatever the task
does.  CPython 3.12 made the re-read lazy.

``get_spark`` names this module as ``spark.python.daemon.module`` on local
masters.  The daemon installs :func:`_checked_invalidate_caches`, then runs
the stock ``pyspark.daemon.manager()``; the workers it forks inherit the
replacement, which re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the last read in this process.  An archive that
changes on disk is therefore still re-read, and one that cannot be
stat'ed takes the stock path.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) at its last directory read here
_read_stat: dict[str, tuple[int, int]] = {}


def _checked_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory re-read
    while the archive's mtime and size match the last read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate_caches(self)
        return
    key = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stat.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_stat[self.archive] = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _checked_invalidate_caches

    from pyspark.daemon import manager

    manager()
