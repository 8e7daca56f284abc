"""Python worker daemon for the engine's sessions. It has two jobs.

1. Preload the heavy imports. pyspark's worker model forks workers from
   a daemon process; the stock daemon imports only pyspark, so EVERY
   forked worker pays the numpy/pandas/pyarrow import (~0.5s each,
   measured ~2.5s of wall for the first Python-boundary job at local[32]
   as 32 workers import in parallel). Importing them HERE, before the
   fork server starts, lets every worker inherit the warm modules
   through copy-on-write fork — first-job latency drops to fork cost.

2. Stop every task from re-parsing pyspark.zip. For each task the worker
   runs pyspark's setup_spark_files, which calls
   importlib.invalidate_caches(). On CPython 3.11 that makes every
   zipimporter re-read its archive's whole central directory, and a
   worker holds one zipimporter per package it imported from pyspark.zip
   (1,328 entries): 16 re-reads, ~200 ms before each task's UDF is even
   unpickled. The daemon wraps zipimporter.invalidate_caches so an
   archive is re-read only when os.stat shows it changed (inode, size,
   mtime_ns), then invalidates once so the importers the workers inherit
   are already stamped. A changed archive, such as a new --py-files
   upload, is still re-read. CPython 3.12 made this invalidation lazy
   for the same reason, so the wrapper is installed only before 3.12.

Wired by session.get_spark via spark.python.daemon.module (local mode:
the daemon inherits the driver's environment, so PYTHONPATH is set there
to make this module importable; on a real cluster ship it with
--py-files and set the same conf).
"""

import importlib
import os
import sys
import zipimport

_reread_zip_directory = zipimport.zipimporter.invalidate_caches
# archive path -> (stat key, directory) as of the last read of that archive
_zip_directories: dict = {}


def _stat_guarded_invalidate(self):
    """zipimporter.invalidate_caches that re-reads the archive only when it
    changed since the last read; importers of an unchanged archive share
    that read. The stat is taken BEFORE the read, so a file that changes
    mid-read leaves a stale key and is read again next time."""
    try:
        st = os.stat(self.archive)
        key = st.st_ino, st.st_size, st.st_mtime_ns
    except OSError:
        key = None
    seen = _zip_directories.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        return
    _reread_zip_directory(self)
    _zip_directories[self.archive] = (key, self._files)


if __name__ == "__main__":
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401

    from pyspark.daemon import manager  # also imports the worker module

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _stat_guarded_invalidate
        importlib.invalidate_caches()
    manager()
