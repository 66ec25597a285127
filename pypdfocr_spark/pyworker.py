"""Python-worker set-up: keep zip directories across ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py::setup_spark_files``). On CPython
before 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads its
archive's whole central directory in pure Python, once per importer
instance. A worker holds a dozen importers under ``pyspark.zip`` (one
per subpackage it has imported from) plus the spark-core jar and the
py4j zip, so every task re-parsed about 16 directories before it read a
row. CPython 3.13 only drops the cache entry and re-reads it lazily.

:func:`keep_zip_directories` makes the re-read conditional: an archive
whose ``os.stat`` is unchanged since its last read keeps its directory
(the importer is pointed at the shared ``zipimport._zip_directory_cache``
entry); a changed archive is re-read as before, and a missing or
unreadable one falls through to the original method. Importing the
package calls it, so every worker that unpickles one of the package's
UDFs installs it during its first task.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stat(path: str) -> tuple[int, int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)


def keep_zip_directories() -> None:
    """Install the stat-checked ``zipimporter.invalidate_caches`` (once per
    process; a no-op on CPython 3.13 and later)."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "keeps_zip_directories", False):
        return
    # archive → stat at its last directory read. The archives already in
    # the importer cache were re-read by the current task's set-up.
    read_at = {}
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                read_at[importer.archive] = _archive_stat(importer.archive)
            except OSError:
                pass

    def invalidate_caches(self):
        try:
            stat = _archive_stat(self.archive)
        except OSError:
            original(self)
            return
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_at.get(self.archive) == stat:
            self._files = files
            return
        # the stat is taken before the read, so a write racing the read
        # leaves a stat that differs next time and forces another read
        original(self)
        read_at[self.archive] = stat

    invalidate_caches.keeps_zip_directories = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
