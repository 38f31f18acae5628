"""Re-read a zip importer's archive only when the archive changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (``pyspark.worker_util.setup_spark_files``). Before Python
3.13 (gh-103200) that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory. A worker's path holds Spark's core jar (5,359 entries, two
importers) and ``pyspark.zip`` (1,328 entries, one importer per
imported sub-package), so each task waited 190-240 ms before its first
row on a 4-core box.

:func:`gate_zip_invalidation`, called when ``dbus_spark`` is imported,
swaps in a method that keeps one ``(st_mtime_ns, st_size, st_ino)``
stamp per archive and re-reads the archive only when the stamp changed
or the archive is gone. A rewritten archive is still re-read, as it is
under 3.13's lazy invalidation; an unchanged one costs one ``stat``.
Every worker that unpickles engine code imports the package, so a
reused worker reads each archive once more in its second task, to take
the stamps, and skips the re-reads from then on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except (OSError, ValueError):
        _stamps.pop(self.archive, None)
        _stock_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _stamps[self.archive] = stamp


def gate_zip_invalidation() -> None:
    """Install the stat-gated ``zipimporter.invalidate_caches``; a
    no-op on Python 3.13+, whose stock method no longer re-reads."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
