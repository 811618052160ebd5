"""PySpark worker daemon whose tasks skip re-reading unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task. Before Python 3.13, each ``zipimporter`` answers by re-parsing its
whole archive directory in Python: a worker holds importers on
``pyspark.zip``, the py4j zip and the spark-core jar, ~0.2 s of CPU per
task. Run as ``python -m eeecs485_p4_mapreduce_spark.pydaemon`` (Spark's
``spark.python.daemon.module``), this installs an ``invalidate_caches``
that re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read, then runs PySpark's own daemon. Importing
the module changes nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_mtime_ns, st_size) when its directory was read.
_stamps: dict[str, tuple[int, int]] = {}


def _stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory
    of an archive unchanged on disk. A changed or new archive is read as
    stock does, and a failed read drops its cache entry and leaves
    ``_files == {}``."""
    stamp = _stat(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stamps.pop(self.archive, None)
    try:
        self._files = zipimport._read_directory(self.archive)
    except zipimport.ZipImportError:
        zipimport._zip_directory_cache.pop(self.archive, None)
        self._files = {}
        return
    zipimport._zip_directory_cache[self.archive] = self._files
    if stamp is not None:
        _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp the archives read so far, so that
    forked workers inherit the stamps. Python 3.13+ already reads lazily,
    so there it does nothing."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        if (stamp := _stat(archive)) is not None:
            _stamps[archive] = stamp


if __name__ == "__main__":
    from pyspark import daemon  # reads the worker module from sys.argv[1]

    install()
    daemon.manager()
