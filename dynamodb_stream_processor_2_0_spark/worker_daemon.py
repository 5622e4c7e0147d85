"""Python-worker daemon that re-reads a zip archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. On CPython 3.11 every cached ``zipimporter`` then re-reads its
archive's central directory, one importer per package prefix, so
``pyspark.zip`` is parsed 14-16 times per task. Here an importer reuses
the directory read last time unless the archive's ``(st_mtime_ns,
st_size, st_ino)`` changed, so a new or rewritten archive (``addPyFile``)
is still picked up. ``session.get_spark`` selects this module with
``spark.python.daemon.module``; Spark runs it as
``python -m <module> <worker module>``.
"""

import importlib
import os
import zipimport

# Per archive path, like zipimport's own process-wide directory cache.
_read_signature: dict = {}
_reread = zipimport.zipimporter.invalidate_caches


def _signature(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self):
    """Drop-in for ``zipimporter.invalidate_caches``."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    unchanged = sig is not None and _read_signature.get(self.archive) == sig
    if unchanged and files is not None:
        self._files = files
        return
    # Taken before the read: a rewrite racing the read is re-read next time.
    _reread(self)
    _read_signature[self.archive] = sig


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read once here; forked workers inherit it
    manager()
