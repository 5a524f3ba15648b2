"""Skip the per-task re-read of unchanged zip archives in Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py``).  Before CPython 3.13 that re-parses
the central directory of every zip on ``sys.path`` (``pyspark.zip``, the
spark-core jar: ~27k entries, ~0.25 s a task); 3.13 made it lazy.  Here
an importer re-reads only when its archive's stat changed since its last
read.  Each worker installs it on the first UDF that imports this package.
"""

import os
import sys
import zipimport

from pyspark import TaskContext


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (installing twice is a no-op)."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_pis_stat_keyed", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)  # before the read: a racing rewrite re-reads
        except OSError:
            self._pis_archive_key = None
            return original(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_pis_archive_key", None) != key:
            original(self)
            self._pis_archive_key = key

    invalidate_caches._pis_stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13) and TaskContext.get() is not None:
    install()
