"""Python worker daemon prelude: keep zip import caches across tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.11 every
``zipimporter`` then re-reads its archive's whole central directory
(CPython gh-103200, fixed in 3.12). A worker holds one importer for
``pyspark.zip`` plus one per package imported from it, one for the py4j zip
and one for the spark-core jar, so that call costs about 0.2 s: a fixed tax
on every Python task, whatever its data size (pandas UDFs, the stateful
operators, ``applyInPandas`` queries).

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Run as ``__main__`` it calls :func:`install` and then runs ``pyspark.daemon``
as ``__main__``, so every forked worker inherits the patch. On CPython < 3.12,
:func:`install` makes ``zipimporter.invalidate_caches`` re-read an archive
only when its ``(st_ino, st_mtime_ns, st_size)`` differs from the one taken
before its last read. A zip rewritten on disk, or newly put on ``sys.path``,
is still read. On 3.12 and later it does nothing.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

# archive path -> stat stamp taken just before its directory was last read
_stamps: dict[str, tuple[int, int, int]] = {}
_read_directory = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _stamped_read_directory(archive):
    # Stamp before reading: a write racing the read leaves a stale stamp, so
    # the next invalidate_caches reads the archive again.
    stamp = _stamp(archive)
    files = _read_directory(archive)
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def _invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)


def install() -> None:
    """Skip re-reading unchanged zip archives on ``invalidate_caches``."""
    if sys.version_info >= (3, 12):
        return
    zipimport._read_directory = _stamped_read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # Archives read before the patch have no stamp yet: read each once now,
    # in the daemon, instead of once in every forked worker.
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
