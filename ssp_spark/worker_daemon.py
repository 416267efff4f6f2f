"""Python-worker daemon for ``get_spark`` sessions: ``pyspark.daemon`` with
lazy zip invalidation.

Every Python task ends its setup (``pyspark.worker_util.setup_spark_files``)
with ``importlib.invalidate_caches()``. That makes each ``zipimporter`` cached
on the worker re-parse its archive's central directory in pure Python: 16
importers over ``pyspark.zip`` (3.5 MB) and the py4j zip, once per task. At
import this module makes the re-read lazy: an importer re-reads its archive
only when the archive's ``(st_ino, st_mtime_ns, st_size)`` differs from the
one its last read saw, so a zip replaced or newly added on ``sys.path``
(``SparkContext.addPyFile``) is still read afresh. ``get_spark`` starts the
workers' daemon as ``python -m ssp_spark.worker_daemon``, so ``ssp_spark``
must stay importable on Python workers.
"""

from __future__ import annotations

import os
import zipimport


def _install() -> None:
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "lazy_zip_invalidation", False):
        return  # ``python -m`` ran this file as __main__; keep one wrapper
    keys: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)
            return
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and keys.get(self.archive) == key:
            self._files = files
        else:
            reread(self)
            keys[self.archive] = key

    invalidate_caches.lazy_zip_invalidation = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install()

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
