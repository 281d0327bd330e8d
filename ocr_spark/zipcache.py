"""Keep an unchanged zip archive's directory cached across
``importlib.invalidate_caches()``.

On CPython 3.11 ``zipimport.zipimporter.invalidate_caches`` re-parses
the archive's whole central directory on every call. PySpark's worker
calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``), and a worker that imported
pyspark from ``pyspark.zip`` holds about 16 importers of that one
1,328-entry archive: each task re-reads it 16 times, 0.25-0.3 CPU-s per
task whatever the task does. ``install()`` makes the invalidation re-read
an archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed
since the last read, and share that one read between every importer of
the archive. CPython 3.12 made the invalidation lazy; there ``install``
does nothing.

The package ``__init__`` calls ``install()``, so a Python worker has it
from the first task that unpickles an engine UDF on.
"""

import os
import sys
import zipimport

# archive path -> stat key of the archive when its directory was last read
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when it changed since the last read. Every importer of one archive
    shares the directory in ``zipimport._zip_directory_cache``."""
    archive = self.archive
    stamp = _stamp(archive)  # taken before the read: a racing rewrite re-reads next time
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        self._files = files
        return
    try:
        self._files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(archive, None)
        _read_stamps.pop(archive, None)
        self._files = {}
        return
    zipimport._zip_directory_cache[archive] = self._files
    _read_stamps[archive] = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` (idempotent; a
    no-op on Python >= 3.12)."""
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
