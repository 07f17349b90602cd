"""Cheap ``importlib.invalidate_caches()`` for zip archives on CPython < 3.12.

pyspark's worker runs ``importlib.invalidate_caches()`` at the start of
every Python worker call (``worker_util.setup_spark_files``). Before 3.12
(gh-103200 made it lazy) that makes every cached ``zipimporter`` re-read
its archive's whole central directory at once: ~15 importers over the
1,328-entry ``pyspark.zip`` cost 0.1-0.3 CPU-s per call, more than the
datasource planning and read work of a point lookup.

``install()`` wraps ``zipimporter.invalidate_caches`` so an archive whose
``(st_mtime_ns, st_size, st_ino)`` is unchanged since its last read
re-binds the shared ``_zip_directory_cache`` entry instead; a changed,
replaced or removed archive goes through the original method as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> "tuple[int, int, int] | None":
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Idempotent; a no-op on Python >= 3.12."""
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_fcls_original", None) is not None:
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and cached is not None \
                and _read_stamps.get(self.archive) == stamp:
            self._files = cached
            return
        # stat before the read: a write racing the read leaves the old
        # stamp recorded, so the next call reads the archive again
        original(self)
        if stamp is not None:
            _read_stamps[self.archive] = stamp

    invalidate_caches._fcls_original = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
