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

Socket reads. Spark's JVM writes each task's input to the worker over a
loopback TCP socket with Nagle's algorithm on (RFC 896), and Linux delays
the worker's ACK by up to 40 ms (RFC 1122). A small JVM write queued behind
an unacknowledged one waits out that delay: unwrapped, a small task can
block ~40 ms in ``ipc.open_stream`` for its input schema, twice its own
work. So :func:`main` wraps ``pyspark.worker.main`` (:func:`quickack_main`)
before it runs ``pyspark.daemon``, which binds ``worker_main`` as it starts.
Per task, the wrapper sets ``TCP_NODELAY`` on the worker's socket and hands
``worker_main`` a buffered reader whose every raw read first sets
``TCP_QUICKACK`` (``tcp(7)``: send pending ACKs now; the kernel clears the
flag again on its own). Every read of the input goes through that raw
read: ``read_int``, pickled commands, and pyarrow's stream and batch reads.

pyspark builds a fresh buffered ``infile`` for each task, and reads the
first task's auth secret before the JVM sends any task bytes, so nothing
is left buffered in ``infile`` when the wrapper reads past it. The wrapper
passes ``infile`` through untouched for a Unix socket
(``spark.python.unix.domain.socket.enabled``), on a platform without
``socket.TCP_QUICKACK``, or when no socket handle can be opened on it.
Only workers forked from this daemon get it: Spark's planner, write and
commit workers come from ``pyspark.daemon``, which binds
``pyspark.worker.main`` before any engine code runs.
"""

from __future__ import annotations

import importlib
import io
import os
import runpy
import socket
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


class _QuickAckRaw(io.RawIOBase):
    """Raw reader over a worker's ``infile.raw`` that sets ``TCP_QUICKACK``
    on ``sock`` before each read."""

    def __init__(self, raw, sock: socket.socket):
        self._raw = raw
        self._sock = sock

    def readable(self) -> bool:
        return True

    def fileno(self) -> int:
        return self._raw.fileno()

    def readinto(self, b) -> int | None:
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
        return self._raw.readinto(b)


def _tcp_handle(infile) -> socket.socket | None:
    """A socket handle on ``infile``'s TCP connection, or None."""
    try:
        fd = os.dup(infile.fileno())
    except (OSError, ValueError):  # closed, or not backed by a descriptor
        return None
    try:
        sock = socket.socket(fileno=fd)
    except OSError:  # not a socket
        os.close(fd)
        return None
    if sock.family in (socket.AF_INET, socket.AF_INET6):
        return sock
    sock.close()
    return None


def quickack_main(worker_main):
    """Wrap a pyspark ``worker_main(infile, outfile)`` so each task's input
    socket reads ACK at once and its writes skip Nagle (module docstring)."""

    def main(infile, outfile):
        sock = _tcp_handle(infile) if hasattr(socket, "TCP_QUICKACK") else None
        if sock is None:
            return worker_main(infile, outfile)
        try:
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            reader = io.BufferedReader(
                _QuickAckRaw(infile.raw, sock),
                int(os.environ.get("SPARK_BUFFER_SIZE", 65536)))
            return worker_main(reader, outfile)
        finally:
            sock.close()

    return main


def main() -> None:
    if install():
        importlib.invalidate_caches()  # read each archive once, pre-fork
    # pyspark.daemon runs ``sys.argv[1]``'s ``main`` (pyspark.worker here).
    name = sys.argv[1] if sys.argv[1:] else ""
    worker = importlib.import_module(
        name if name.startswith("pyspark") else "pyspark.worker")
    worker.main = quickack_main(worker.main)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
