"""Re-read a zip archive's directory on ``importlib.invalidate_caches()``
only when the archive has changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``). Before CPython
3.12, ``zipimport.zipimporter.invalidate_caches`` eagerly re-parses its
archive's central directory, and a worker holds one zipimporter per zip
path entry and package prefix (pyspark.zip, py4j, the spark-core jar):
about 16 re-reads and 0.25 CPU-s per task before any UDF code runs.
CPython 3.12 made the re-read lazy (gh-103200); there this module does
nothing.

The wrapper keeps a ``(st_ino, st_size, st_mtime_ns)`` signature per
archive. While the signature is unchanged and
``zipimport._zip_directory_cache`` still holds the archive, the cached
directory is reused; otherwise the original eager re-read runs and the
new signature is recorded. The shared cache stays populated, so
``pkgutil.iter_modules(<zip>)`` keeps working right after an invalidate
(a plain port of 3.12's lazy pop breaks it with ``KeyError`` on 3.11).

Installed on import of the package ``__init__``, which every Python
worker that unpickles a library UDF imports.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``, once per process."""
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_reuses_unchanged_archives", False):
        return
    signatures: dict[str, tuple] = {}

    def invalidate_caches(self):
        # stat BEFORE reading: an archive rewritten between the stat and
        # the read is recorded under its old signature and re-read again
        sig = _signature(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and cached is not None and signatures.get(self.archive) == sig:
            self._files = cached
            return
        original(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            signatures[self.archive] = sig
        else:
            signatures.pop(self.archive, None)

    invalidate_caches._reuses_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
