"""Python worker daemon for sessions built by :func:`dampr_spark.session.get_spark`.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11 that reaches
``zipimport.zipimporter.invalidate_caches`` once per zipimporter in
``sys.path_importer_cache``, and each call re-reads its archive's whole
central directory. A worker holds a zipimporter for every package it has
imported from ``pyspark.zip``, the py4j zip and the ``spark-core`` jar, so
one ``invalidate_caches()`` measured 170-240 ms of CPU on a 4-vCPU host:
most of the start-up cost of a short Python task.

This module wraps ``zipimporter.invalidate_caches`` with a stat check and
then runs ``pyspark.daemon.manager()``, so every forked worker inherits the
wrapper. An archive whose ``(st_mtime_ns, st_size, st_ino)`` still matches
the stamp taken when its directory was last read, and whose directory is
still in ``zipimport._zip_directory_cache``, keeps the cached directory.
Any other archive is re-read by the original method, so a rewritten
archive is still picked up.

``get_spark`` sets ``spark.python.daemon.module`` to this module.
"""

from __future__ import annotations

import os
import zipimport

_reread_directory = zipimport.zipimporter.invalidate_caches
# archive path -> stamp taken just before its directory was last read.
# Process-wide, like zipimport._zip_directory_cache, since the wrapper
# replaces a method of the zipimporter class.
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since it was last read."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread_directory(self)
    if stamp is None or self.archive not in zipimport._zip_directory_cache:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def main() -> None:
    """Install the wrapper, then serve workers as ``pyspark.daemon`` does."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the imported module's main, not this ``__main__`` copy's, so the
    # installed wrapper is ``dampr_spark.workerd.invalidate_caches``.
    from dampr_spark.workerd import main as _main

    _main()
