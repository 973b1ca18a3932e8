"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..env import tune_malloc

# Directory (or zip archive) that holds the ``fsst_spark`` package.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def get_spark(master: str | None = None, app_name: str = "fsst_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build a SparkSession tuned for Arrow-heavy columnar UDF work.

    In production this is `spark-submit --py-files fsst_spark.zip` on a real
    cluster (no ``master`` override); locally defaults to ``local[N]``.
    """
    tune_malloc()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    cores = _parse_local_cores(master)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # JVM->Python Arrow batches capped by BYTES, not just records: on
        # wide web rows (~7 KB) the 64 MB default builds batches whose
        # allocation churn falls out of the retained warm heap and
        # re-faults (measured on the DataFrame-scan encode arm: 16-27 MB
        # batches ~6-9 s, 54+ MB batches 35-120 s on the same input).
        # Smaller batches also pipeline JVM serialization with Python-side
        # encode. Row-count cap stays high so narrow rows still batch big.
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH_BYTES", "16777216"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or (cores * 2 if cores else 64)))
        # Encode is CPU-bound (~75 MB/s/core): 32 MB scan partitions (one
        # chunk each) keep every core busy; 256 MB would starve a 32-core
        # node on a ~1 GB table. Override per-deployment via env.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "33554432"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # The bypass-merge shuffle writer creates M x R physical files per
        # shuffle (map tasks x reduce partitions) whenever R <= 200; the
        # serialized sort writer writes ONE file per map task. File
        # creation is expensive on this host class (and M x R file counts
        # are exactly the §2.2 small-block blow-up at scale), and with
        # production-sized R (> 200) the bypass path never fires anyway —
        # so prefer the sort writer everywhere (measured: halves the
        # fixed cost of every small shuffle, identical results).
        .config("spark.shuffle.sort.bypassMergeThreshold",
                os.environ.get("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "8"))
        # pass malloc tuning to the python workers (see fsst_spark.env)
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.python.worker.reuse", "true")
    )
    if master:
        b = b.master(master)
        if master.startswith("local"):
            mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
            b = b.config("spark.driver.memory", mem)
            # Pinned, pre-touched heap with a non-uncommitting GC: G1 keeps
            # returning regions to the OS, which re-faults them on the next
            # allocation — on virtualized hosts with slow fault paths this
            # throttles the whole scan pipeline ~50x (measured). ParallelGC
            # + Xms=Xmx + AlwaysPreTouch + THP makes the heap fault exactly
            # once at startup. The same flags go on executors in cluster
            # mode via spark.executor.extraJavaOptions.
            b = b.config(
                "spark.driver.extraJavaOptions",
                f"-Xms{mem} -XX:+UseParallelGC -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages",
            )
            # Skips the per-task re-read of pyspark.zip (fsst_spark.daemon).
            # Local only: the daemon runs on this host, so putting the
            # package root (a directory, or a --py-files archive) on its
            # PYTHONPATH lets it import the engine; cluster daemons start
            # before --py-files reach their path.
            b = (b.config("spark.python.daemon.module", "fsst_spark.daemon")
                 .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT))
    return b.getOrCreate()


def _default_driver_mem() -> str:
    """Local driver heap: ``min(8g, MemTotal/4)``, or 8g when
    ``/proc/meminfo`` is unreadable. The heap is pre-touched (see above),
    so it is resident from start-up: a quarter of RAM leaves room for a
    second local session (a CLI run next to a notebook or test fixture)
    plus the Python workers."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return f"{min(8 << 10, int(line.split()[1]) // 4096)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "8g"


def _parse_local_cores(master: str | None) -> int | None:
    if master and master.startswith("local[") and master.endswith("]"):
        v = master[6:-1]
        return os.cpu_count() if v == "*" else int(v)
    return None
