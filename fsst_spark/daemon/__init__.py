"""Python worker daemon: ``pyspark.daemon`` plus a zipimport directory cache.

Every Spark Python task starts with ``setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python < 3.12 that makes every cached
``zipimporter`` re-read its archive's central directory at once — about 16
importers over the 1,328-entry ``pyspark.zip``, ~0.2 CPU-s per task, more
than a small ``mapInArrow`` task spends on its data. CPython 3.12 made the
re-read lazy (gh-103200).

:func:`install` patches ``zipimport.zipimporter.invalidate_caches`` to
re-read an archive only when its ``(st_mtime_ns, st_size, st_ino)`` stamp
changes. It has two callers:

- Importing ``fsst_spark`` installs it, so every Python process that
  unpickles an engine object carries it from its next task on. That covers
  the workers Spark forks from a fixed ``pyspark.daemon`` whatever
  ``spark.python.daemon.module`` says: the fsst DataSource's planner
  workers (``create_data_source`` at ``load()``, filter pushdown, read
  planning) and its write and commit workers. It also covers plain
  ``pyspark.daemon`` workers on non-local masters, ``--py-files`` archives
  included. Spark's setup runs before the unpickle, so a freshly forked
  worker still re-reads on its first task, and its second task's read
  takes the stamps; a reused worker (``spark.python.worker.reuse``) skips
  the read from then on.
- Run as the worker daemon (``python -m fsst_spark.daemon``, through
  ``__main__.py``), :func:`main` installs the patch, reads each archive
  once so the stamps are known, and then runs ``pyspark.daemon`` as
  ``__main__``. Workers forked from it carry the patch and the stamps
  from their first task. Run it with::

      --conf spark.python.daemon.module=fsst_spark.daemon

  ``jobs.session.get_spark`` sets that for ``local`` masters. On a cluster
  it needs ``fsst_spark`` installed on the executors: ``--py-files``
  archives are not on the daemon's path when it starts.
"""

from __future__ import annotations

import importlib
import os
import runpy
import sys
import zipimport

# Python >= 3.12 re-reads zip directories lazily; nothing to patch there.
PATCHES_ZIPIMPORT = sys.version_info < (3, 12)

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp taken before the read, directory dict it read).
# Per process, like zipimport's own _zip_directory_cache it shadows.
_directories: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The stamp is taken before the read, so an archive rewritten during the
    read is stamped as older than its content and read again next time.
    """
    archive = self.archive
    stamp = _stamp(archive)
    seen = _directories.get(archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        zipimport._zip_directory_cache[archive] = seen[1]
        return
    _original_invalidate_caches(self)
    if stamp is not None and self._files:
        _directories[archive] = (stamp, self._files)
    else:
        _directories.pop(archive, None)


def install() -> bool:
    """Patch ``zipimporter`` in this process; return whether it applies."""
    if PATCHES_ZIPIMPORT:
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    return PATCHES_ZIPIMPORT


def main() -> None:
    if install():
        importlib.invalidate_caches()  # read each archive once, pre-fork
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
