"""Stat-checked zip re-reads for Spark Python workers.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``).  Under CPython 3.11
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's central directory in pure Python, changed or not.
A worker holds one importer per imported package directory of
``pyspark.zip`` (1,328 entries), the py4j zip and the spark-core jar, so
the re-reads cost ~0.2 s per task per Python node (measured on a 4-vCPU
host).

:func:`patch_zip_importers` gives those importers, and every importer
``sys.path_hooks`` creates later, an ``invalidate_caches`` that re-reads
the archive only when its ``(st_mtime_ns, st_size)`` changed since the
importer last read it — the staleness test ``FileFinder`` applies to
directories.  A zip that ``addPyFile`` re-ships is still re-read.  The
package calls it on import inside a Python worker only.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatCheckedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` skips the re-read of
    an archive whose stat stamp is unchanged since its last read.  An
    importer whose last read is unknown (created before the patch, or
    from ``zipimport``'s shared directory cache) re-reads once."""

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_stat_stamp", None):
            return
        super().invalidate_caches()
        self._stat_stamp = stamp


def patch_zip_importers() -> None:
    """Swap every stock ``zipimporter`` in ``sys.path_importer_cache``
    and ``sys.path_hooks`` for :class:`StatCheckedZipImporter`.  An
    importer whose class cannot be swapped stays stock."""
    sys.path_hooks[:] = [
        StatCheckedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            try:
                finder.__class__ = StatCheckedZipImporter
            except TypeError:
                pass
