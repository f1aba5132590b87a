"""Python worker daemon: ``pyspark.daemon`` with lazy zipimport cache
invalidation.

Every Python task starts with pyspark's ``setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On CPython < 3.13 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` — one per package
directory imported from ``pyspark.zip``, about 16 — re-read the whole
archive directory (1,328 entries), about 0.3 s per task (cProfile in a
worker). CPython 3.13 made the re-read lazy. This daemon installs the
same behaviour before it forks any worker: an archive is re-read only
when its (mtime, size) changed since it was last read, and then once
for all its importers, so a replaced zip (``addPyFile`` of a new
version) is still picked up.

``session.get_spark`` selects it through ``spark.python.daemon.module``
when the daemon can import this package. Run as
``python -m argostats_spark.daemon <worker module>``, as Spark does.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> ((mtime_ns, size), directory listing read at that stamp)
_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when it changed; a no-op on CPython >= 3.13 or when installed."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or getattr(cls.invalidate_caches, "lazy", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        seen = _read.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        reread(self)
        if stamp is not None:
            _read[self.archive] = (stamp, self._files)

    invalidate_caches.lazy = True
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
