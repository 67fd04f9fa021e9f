"""Re-read a zip archive's directory on invalidation only if the file changed.

The PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On CPython 3.11 and 3.12 that
makes every cached ``zipimporter`` re-read the whole central directory of its
archive, and ``sys.path_importer_cache`` holds one zipimporter per package
directory of ``pyspark.zip``: 16 re-reads of a 1,328-entry directory, about
0.2 s of CPU, per Python-UDF task.

Importing this module stamps every directory read with the archive's
``(st_mtime_ns, st_size)``, taken just before the read, and lets
``zipimporter.invalidate_caches`` reuse the last read while the stamp still
matches. An archive whose stamp changed, or that can no longer be stat'ed,
goes to the stock method, exactly as before. Archives read before the install
are read once more at install time, so their stamps are known. CPython 3.13
reads the directory lazily after invalidation; there the wrapper is only
redundant.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _install():
    if getattr(zipimport.zipimporter.invalidate_caches, "stamped", False):
        return
    stock_read = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    last_read = {}  # archive -> (stamp, files) of its latest directory read

    def read_directory(archive):
        stamp = _stamp(archive)
        last_read.pop(archive, None)
        files = stock_read(archive)
        if stamp is not None:
            last_read[archive] = stamp, files
        return files

    def invalidate_caches(self):
        last = last_read.get(self.archive)
        if last is None or _stamp(self.archive) != last[0]:
            return stock_invalidate(self)
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]

    invalidate_caches.stamped = True
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    cache = zipimport._zip_directory_cache
    for archive in list(cache):
        try:
            cache[archive] = read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)


_install()
