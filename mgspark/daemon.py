"""Python worker daemon for sessions built by :func:`mgspark.session.get_spark`.

``get_spark`` names this module in ``spark.python.daemon.module``; Spark
runs it as ``python -m mgspark.daemon pyspark.worker``.  It is
``pyspark.daemon.manager()`` with one change, which the forked workers
inherit: on CPython < 3.13, ``zipimport.zipimporter.invalidate_caches``
reuses the directory it last read of an archive whose
``(st_mtime_ns, st_size)`` has not changed, as 3.13 does lazily.

Before every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On 3.10-3.12 that makes each of the
~20 zipimporters a worker holds on ``pyspark.zip`` (3.5 MB, 1,328
entries) re-read the whole archive directory, ~11 ms each: 0.16-0.23 s
per task on a reused worker, on 4 CPUs with 3.11.7.  A rewritten or newly
shipped archive (``addPyFile``) has a new size or mtime and is re-read.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> ((st_mtime_ns, st_size) before the read, its directory)
_directories: dict[str, tuple[tuple[int, int], dict]] = {}


def _invalidate_caches(self, _stock=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    seen = _directories.get(self.archive)
    if key is not None and seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock(self)
    if key is not None and self._files:
        _directories[self.archive] = (key, self._files)
    else:
        _directories.pop(self.archive, None)


_invalidate_caches.mgspark_zip_backport = True


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.13; True if patched now."""
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(current, "mgspark_zip_backport", False):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    if install():
        importlib.invalidate_caches()  # read each archive once here, not per forked worker
    from pyspark.daemon import manager

    manager()
