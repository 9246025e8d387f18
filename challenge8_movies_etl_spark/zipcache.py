"""Stat-checked ``zipimporter.invalidate_caches`` for Python workers.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``,
and on CPython < 3.13 each cached zipimporter then re-reads its whole
archive directory: one read of ``pyspark.zip`` per imported pyspark
subpackage, per task. ``install`` makes a zipimporter re-read only when
the archive's ``(st_mtime_ns, st_size)`` moved since the last read of it
in this process, so a rewritten or new archive is still picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (its stamp taken just before the last read, the directory read)
_last_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    # stamped before reading: a rewrite racing the read leaves an older
    # stamp behind, so the next call reads again
    _stock_invalidate(self)
    _last_read[self.archive] = (stamp, self._files)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process. CPython
    3.13 already only drops the shared directory cache there, read once
    on the next lookup, so it is left as it is."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed
