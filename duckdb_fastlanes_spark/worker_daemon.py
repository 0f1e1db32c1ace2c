"""Spark's Python worker daemon, minus the per-task re-read of zip archives.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
each ``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory: pyspark.zip (one importer per imported subpackage), the py4j zip
and the spark-core jar. That is about 150 ms per task, whatever the task
does. ``get_spark`` starts workers through this module
(``spark.python.daemon.module``); it re-reads an archive only when the file
changed, then runs ``pyspark.daemon``. Workers fork from the daemon and
inherit the patch; a process that merely imports this module is untouched.
"""

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that re-reads the directory only when
    the archive's (inode, mtime, size) changed since this importer read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        # install the function under its importable name, not __main__'s copy
        from duckdb_fastlanes_spark import worker_daemon

        zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    from pyspark.daemon import manager

    manager()
