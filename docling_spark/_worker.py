"""Python-worker guard: re-read a zip archive's directory only when it changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task, and under Python 3.11 every ``zipimporter`` on the path then
re-parses its archive's whole central directory (``pyspark.zip``, the
Spark jar, the py4j zip). On a reused worker that is ≈75 ms of CPU per
task spent re-reading files that never change. The guard keeps each
importer's archive ``(st_ino, st_size, st_mtime_ns)`` and calls the
stdlib method only when that key differs or ``os.stat`` fails, the same
mtime contract ``FileFinder`` uses for directories.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path):
    st = os.stat(path)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _guard(reread):
    def invalidate_caches(self):
        try:
            key = _stat_key(self.archive)
        except OSError:
            key = None
        if key is None or key != getattr(self, "_archive_key", None):
            reread(self)
            self._archive_key = key
    invalidate_caches.__wrapped__ = reread
    return invalidate_caches


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` and seed every cached importer.

    Seeding is right on a worker: this task's set-up re-read them all."""
    zi = zipimport.zipimporter
    zi.invalidate_caches = _guard(zi.invalidate_caches)
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, zi):
            try:
                imp._archive_key = _stat_key(imp.archive)
            except OSError:
                pass


def on_worker() -> bool:
    """True inside a PySpark Python worker; the driver never imports
    ``pyspark.core.files`` as a side effect of importing this package."""
    files = sys.modules.get("pyspark.core.files")
    return files is not None and files.SparkFiles._is_running_on_worker
