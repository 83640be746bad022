"""Spark's Python worker daemon, with zip archives re-read only when they change.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), so that files added with
``addPyFile`` become importable. On CPython before 3.13 that makes every
``zipimporter`` re-read its archive's whole central directory: one
importer per package directory of ``pyspark.zip`` (1,328 entries) and
the py4j source zip, about 285 ms of worker CPU per task on a 4-core
host before the task reads a row. CPython 3.13's ``invalidate_caches``
only drops the cached directory, which is read again on next use.

Run as ``python -m adenhq_hive_spark.worker_daemon`` (the session's
``spark.python.daemon.module``), this module wraps
``zipimporter.invalidate_caches`` so that an archive whose
``(st_ino, st_size, st_mtime_ns)`` equals the one of its last read keeps
the directory of that read; a changed, replaced or unreadable archive
gets the stock re-read. It then runs ``pyspark.daemon.manager()``, which
forks the workers. Importing this module changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def reread_when_changed(stock):
    """``stock`` (``zipimporter.invalidate_caches``) wrapped to skip the
    re-read of an archive whose stat matches its last read."""
    last_read = {}  # archive path -> (stat key, directory of that read)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        seen = last_read.get(self.archive)
        if seen is not None and seen[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = seen[1]
        else:  # stat before the read: a change in between shows next call
            stock(self)
            last_read[self.archive] = (key, self._files)
        return None

    return invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = reread_when_changed(
            zipimport.zipimporter.invalidate_caches)
    from pyspark.daemon import manager

    manager()
