"""Python worker daemon for the package's sessions (``spark.python.daemon.module``).

It is ``pyspark.daemon`` with one change, made before the daemon forks any
worker: ``zipimporter.invalidate_caches`` re-reads an archive's directory
only when the archive's (mtime, size) changed since that importer last
read it.

Why: every task runs ``pyspark.worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's whole central directory: a
dozen importers on ``pyspark.zip`` (1,328 entries, ~13 ms each), two on
the py4j zip and two on the spark-core jar (5,359 entries, ~54 ms each):
110-215 ms per task in a worker on a 4-core box. A stateful Python
stage pays it twice per state partition per batch, so it was most of a
short micro-batch. With the guard the call costs ~0.2 ms, and an archive
that really changed (a re-shipped ``--py-files`` zip) is still re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if the file changed."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_dir_stamp", None):
        return
    # stamp taken before the read: a change during the read re-reads next time
    _reread(self)
    self._dir_stamp = stamp


def install() -> None:
    """Guard every zipimporter and record what each cached one has read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    # pyspark.daemon imports the worker module, which creates most of the
    # importers a task will use; install after it so they start recorded.
    # The guard is installed from the package module, not from __main__,
    # so a worker can check which function it runs.
    from pyspark import daemon

    from flinkrealtimedatawarehouse_spark import workerdaemon

    workerdaemon.install()
    daemon.manager()
