"""Python worker daemon for Spark's ``spark.python.daemon.module`` hook.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``). Before Python 3.13 that makes every
cached ``zipimporter`` re-read its archive's whole central directory: the ones
on ``pyspark.zip`` (1,328 entries) and on the spark-core jar that Spark puts on
the worker path (5,359 entries) cost over 100 ms of CPU per task together. This
daemon re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since it was last read; a changed or new archive is still read, so what a task
imports cannot change. Forked workers inherit the wrapper and the stamps taken
here. Python 3.13's zipimport reads lazily, so there it only starts the daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_last_read: dict = {}  # archive path -> ((st_mtime_ns, st_size), directory)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    last = _last_read.get(self.archive)
    if last is not None and last[0] == stamp:
        self._files = last[1]
        return
    _reread(self)
    _last_read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    from pyspark.daemon import manager

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # stamp the importers workers inherit
    manager()
