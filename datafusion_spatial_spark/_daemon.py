"""PySpark worker daemon that keeps ``importlib.invalidate_caches()`` cheap.

Every Python task calls ``importlib.invalidate_caches()`` (in
``pyspark.worker_util.setup_spark_files``). On CPython < 3.12,
``zipimporter.invalidate_caches`` eagerly re-reads its archive's central
directory, once for every zipimporter in ``sys.path_importer_cache``: one
per pyspark subpackage over ``pyspark.zip`` plus the py4j zip, 14–16 reads
of a 1 300-entry directory, ~0.14 s per task. :func:`install` replaces it
with a version that re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since the last read or
``zipimport._zip_directory_cache`` holds no directory for it; otherwise it
re-binds the importer to the cached directory. CPython 3.12 made this
invalidation lazy, so :func:`install` does nothing there.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Run as ``python -m``, it installs the shim and hands off to
``pyspark.daemon.manager()``; ``pyspark.daemon`` still imports the worker
module named by ``spark.python.worker.module`` (``sys.argv[1]``).
"""

import importlib
import os
import sys
import zipimport

_read = zipimport.zipimporter.invalidate_caches
_stamps: dict = {}  # archive path -> (st_mtime_ns, st_size) at its last read


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read(self)  # stat before read: a change in between forces a re-read
    _stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    import pyspark.daemon

    # one read per archive here, so forked workers start with fresh stamps
    importlib.invalidate_caches()
    pyspark.daemon.manager()
