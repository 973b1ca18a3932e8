"""Process-level tuning for numpy-heavy executors.

glibc serves large allocations (>=128 KiB) with mmap and returns them to the
OS on free, so every large numpy temporary pays first-touch page faults.
On virtualized hosts with slow fault paths this dominates runtime (measured
>100x slowdown in this environment); on any host it costs soft-fault + zero
page churn. Keeping freed memory in the heap (no mmap, no trim) makes
numpy temp buffers reusable at memcpy speed.

Called from ``fsst_spark.__init__`` so it applies to the driver *and* to
every Spark Python worker the moment the package is imported there —
beside ``fsst_spark.daemon.install()``, which the same import runs.
"""

from __future__ import annotations

import ctypes
import os

_M_TRIM_THRESHOLD = -1
_M_MMAP_MAX = -4

_done = False


def tune_malloc() -> None:
    global _done
    if _done:
        return
    _done = True
    # For child processes (JVM -> pyspark daemon -> workers).
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    # Huge-page faults are ~30x cheaper than 4K faults on virtualized hosts;
    # glibc >= 2.35 madvises MADV_HUGEPAGE when this tunable is set.
    os.environ.setdefault("GLIBC_TUNABLES", "glibc.malloc.hugetlb=1")
    # Route Arrow allocations through glibc malloc (retained by the
    # settings above) instead of jemalloc/mimalloc, whose decay returns
    # pages to the OS and re-faults them on every Arrow batch. Measured on
    # the JVM->Python Arrow transfer path: 30 -> 130+ MB/s warm. Read at
    # pyarrow's first pool use, and inherited by Spark's Python workers
    # (driver env -> JVM -> worker daemon).
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    # For the current process (env vars are only read at process start).
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(_M_MMAP_MAX, 0)
        libc.mallopt(_M_TRIM_THRESHOLD, 2**31 - 1)
    except OSError:
        pass  # non-glibc platform: env vars above still cover children
    madvise_hugepages()


_MADV_HUGEPAGE = 14


def madvise_hugepages(min_bytes: int = 1 << 20) -> int:
    """Advise THP for every sizable anonymous writable mapping.

    On hosts where THP is in 'madvise' mode, 4K first-touch faults can be
    ~500x slower than 2M huge-page faults (measured on this sandbox:
    10 MB/s vs 4.8 GB/s). glibc heap segments and numpy buffers are plain
    anonymous mappings, so one pass over /proc/self/maps upgrades them all.
    Safe to call repeatedly (idempotent per VMA, ~ms); kernels call it at
    task start so newly created segments get covered too.
    """
    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
    except OSError:
        return 0
    n = 0
    try:
        with open("/proc/self/maps") as f:
            for line in f:
                parts = line.split()
                if len(parts) < 5 or parts[1] != "rw-p" or parts[4] != "0":
                    continue  # only anonymous writable mappings
                lo_s, hi_s = parts[0].split("-")
                lo, hi = int(lo_s, 16), int(hi_s, 16)
                if hi - lo < min_bytes:
                    continue
                if libc.madvise(ctypes.c_void_p(lo), ctypes.c_size_t(hi - lo), _MADV_HUGEPAGE) == 0:
                    n += 1
    except OSError:
        pass
    return n
