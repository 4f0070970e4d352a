"""A stat-checked zip-import cache for the Spark Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython
3.10-3.12 every ``zipimport.zipimporter`` answers that call by
re-reading the whole central directory of its archive.  A kernel worker
holds one importer per package directory it imported from
``pyspark.zip`` (16 of them over the archive's 1,328 entries), so every
Python task paid 0.2-0.6 s of re-reads on 4 cores before its kernel
ran.  CPython 3.13 only drops the cached directory there and re-reads it
on the next lookup, so the cache applies before 3.13 only.

:func:`install_zip_stamp_cache` runs when the package is imported, which
a worker does when it unpickles any of the package's kernels.  From then
on, each importer of that worker re-reads its archive only when the
archive's ``(st_mtime_ns, st_size, st_ino)`` differ from the stamp of
that importer's last read.  The first call on an importer, and any call
whose ``os.stat`` fails, reads as the stdlib does, so a changed archive
behaves as it would without the cache.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    """(mtime in ns, size, inode) of ``path``, or None if it cannot be read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's stamp equals the one taken before this importer's last read."""
    stamp = _archive_stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_archive_stamp", None):
        return
    _STDLIB_INVALIDATE(self)
    self._archive_stamp = stamp


def install_zip_stamp_cache() -> None:
    """Put :func:`_invalidate_if_changed` on ``zipimport.zipimporter`` in a
    process with a Spark task context, on CPython before 3.13.  Anywhere
    else (the driver, 3.13 or later) the stdlib method stays."""
    if sys.version_info >= (3, 13) or _STDLIB_INVALIDATE is None:
        return
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
