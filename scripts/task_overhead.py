#!/usr/bin/env python3
"""Per-task fixed cost of a Python ``mapInArrow`` task under ``get_spark``,
the cost of planning an fsst DataSource read, and of a one-task file job.

Times a no-op ``mapInArrow`` job of N = ``TASKS`` tasks and the same job on
the JVM alone (both written to the ``noop`` sink), each as the median of
warm repetitions, and prints one JSON line. ``per_task_ms`` is the extra
task-slot time a Python task costs: ``(python_s - jvm_s) * min(N, slots)
/ N``. ``plan_read_ms`` is the median wall time of a plan-only point read
through the fsst source on a tiny store the script writes:
``load().where(...)`` and its query plan, no action. Spark runs those
planning steps in its own Python workers. ``file_job_ms`` is the median
wall time of a one-task no-op job over ``plan.file_tasks_df`` (the task
frame of every file-granular job) on one of that store's chunk files. A
worker-startup or task-frame regression (daemon, imports, per-task or
per-planner-call setup) shows here without a full benchmark run.
``socket_hook`` says whether the tasks ran with ``fsst_spark.daemon``'s
socket-read wrapper: the engine daemon, over TCP, on a platform with
``socket.TCP_QUICKACK``.

Usage: python scripts/task_overhead.py [--master local[4]]
"""
from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import socket
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell")

import fsst_spark  # noqa: F401,E402  (malloc tuning before the JVM starts)
from fsst_spark.jobs.session import get_spark  # noqa: E402

TASKS = 16
REPS = 5
ROWS_PER_TASK = 1000
STORE_ROWS = 400


def _identity(batches):
    yield from batches


def _median_s(run) -> float:
    run()  # warm: JVM codegen, Python daemon and workers
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        run()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _plan_read_s(spark, store: str) -> float:
    """Median wall time of ``load().where(url == X)`` plus its query plan
    through the fsst source; Spark plans it in Python planner workers."""
    from pyspark.sql import functions as F

    from fsst_spark.sources.fsst_source import register
    from fsst_spark.synth.webcorpus import synth_web_df

    register(spark)
    synth_web_df(spark, STORE_ROWS, seed=7).write.format("fsst").mode("overwrite").save(store)
    url = spark.read.format("fsst").load(store).select("url").first()["url"]

    def plan():
        df = spark.read.format("fsst").load(store).where(F.col("url") == url)
        with contextlib.redirect_stdout(io.StringIO()):
            df.explain()

    return _median_s(plan)


def _file_job_s(spark, store: str) -> float:
    """Median wall time of a one-task no-op job over the file-task frame."""
    from fsst_spark.jobs.plan import chunk_files, file_tasks_df

    files = [(path, None) for _, path in chunk_files(store)[:1]]

    def run():
        (file_tasks_df(spark, files).mapInArrow(_identity, "files string")
         .write.format("noop").mode("overwrite").save())

    return _median_s(run)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark(args.master, app_name="task_overhead")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        n = TASKS
        df = spark.range(0, n * ROWS_PER_TASK, 1, n)

        def jvm():
            df.write.format("noop").mode("overwrite").save()

        def python():
            df.mapInArrow(_identity, df.schema).write.format("noop").mode("overwrite").save()

        jvm_s = _median_s(jvm)
        python_s = _median_s(python)
        with tempfile.TemporaryDirectory(prefix="task_overhead_") as tmp:
            store = os.path.join(tmp, "store")
            plan_s = _plan_read_s(spark, store)
            file_job_s = _file_job_s(spark, store)
        conf = spark.sparkContext.getConf()
        slots = spark.sparkContext.defaultParallelism
        daemon_module = conf.get("spark.python.daemon.module", "pyspark.daemon")
        print(json.dumps({
            "tasks": n,
            "slots": slots,
            "daemon_module": daemon_module,
            "socket_hook": (daemon_module == "fsst_spark.daemon"
                            and hasattr(socket, "TCP_QUICKACK")
                            and conf.get("spark.python.unix.domain.socket.enabled",
                                         "false").lower() != "true"),
            "python_s": round(python_s, 4),
            "jvm_s": round(jvm_s, 4),
            "per_task_ms": round((python_s - jvm_s) * min(n, slots) / n * 1000, 1),
            "plan_read_ms": round(plan_s * 1000, 1),
            "file_job_ms": round(file_job_s * 1000, 1),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
