"""Python worker daemon: ``pyspark.daemon`` with a stat-guarded zip rescan.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts ``python -m sigma_rx7_spark.daemon`` and forks every
Python worker from it. A worker calls ``importlib.invalidate_caches()``
before each task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.12 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory. A reused worker holds one per package directory it imported
from ``pyspark.zip`` (16 of them), so each task re-read the zip 16 times
before it ran any UDF code. 3.12 made the rescan lazy (gh-103200).

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the stamp taken at its last read, so a zip rewritten on
disk is still re-read. The daemon installs it before it forks, so
every worker inherits it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _guarded(reread):
    # archive path -> (st_mtime_ns, st_size) stamped just before its last read
    read_stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        """Reload the archive's file data only if the file changed."""
        stamp = _stamp(self.archive)
        if stamp is not None and read_stamps.get(self.archive) == stamp:
            # Unchanged since the last read, which left its directory in
            # the module cache; point this importer at that same dict.
            files = zipimport._zip_directory_cache.get(self.archive)
            if files is not None:
                self._files = files
                return
        reread(self)
        if stamp is not None:
            read_stamps[self.archive] = stamp

    # ``python -m`` runs this file as ``__main__``; name the module, so a
    # worker can tell that the patch it runs under came from here.
    invalidate_caches.__module__ = __spec__.name
    return invalidate_caches


def guard_zip_rescans() -> None:
    """Stat-guard ``zipimporter.invalidate_caches`` (CPython < 3.12)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _guarded(
            zipimport.zipimporter.invalidate_caches)


if __name__ == "__main__":
    guard_zip_rescans()
    from pyspark.daemon import manager

    manager()
