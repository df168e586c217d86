"""Spark's Python worker daemon, minus the per-task zip directory re-read.

Every Python task begins with ``importlib.invalidate_caches()``. On
CPython 3.10-3.12 that makes each ``zipimporter`` re-parse its archive's
central directory: about 18 importers over ``pyspark.zip`` and py4j,
100-230 ms per task on a 4-core VM. :func:`install` re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read, so a rewritten archive is still picked up. CPython 3.13 only drops the cache
entry, so nothing is installed there. Run as ``python -m`` (what
``spark.python.daemon.module`` does), the module installs the change and
starts ``pyspark.daemon``; every worker it forks inherits the change.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` on archive change; a no-op
    from CPython 3.13 on."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    cache = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int, int] | None] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is not None and read_at.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        reread(self)  # stat before read: a change during the read shows next time
        read_at[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, before any fork


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
