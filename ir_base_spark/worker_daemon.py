"""PySpark's worker daemon, with zip-archive cache invalidation gated on stat.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). CPython's
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory on each call, and a worker holds one zipimporter per
subpackage it imported from ``pyspark.zip``: ~0.2 s of every task went to
re-reading archives that had not changed. ``get_spark`` starts this
module as the daemon (``spark.python.daemon.module``); it installs the
gate below in the daemon, so every forked worker inherits it, then runs
``pyspark.daemon.manager()``. Importing the module patches nothing.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only if its (mtime, size, inode) changed since
    this importer last read it; the stdlib method when it cannot be stat'ed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        self._read_stat = None
        return _stdlib_invalidate(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    if getattr(self, "_read_stat", None) != key:
        _stdlib_invalidate(self)
        self._read_stat = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
