"""Backport of CPython 3.13's cheap ``zipimporter.invalidate_caches``.

Before 3.13, ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, which
reaches each cached importer of pyspark.zip. The replacement re-reads
an archive only when its ``(st_mtime_ns, st_size)`` changed since its
last read, so a zip that ``addPyFile`` rewrites or adds is still seen.
Other finders keep their own invalidation.
"""

import os
import sys
import zipimport

_read_stamps = {}  # archive path -> (st_mtime_ns, st_size) before its last read
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
        _read_stamps[self.archive] = stamp
        _reread(self)
    else:
        self._files = files


def install():
    """Patch ``zipimporter`` on Python < 3.13; idempotent."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
