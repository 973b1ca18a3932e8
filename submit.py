#!/usr/bin/env python3
"""spark-submit driver for the fsst_spark CLI.

Ship the package as a zip and point spark-submit at this file:

    python -m zipfile -c fsst_spark.zip fsst_spark
    spark-submit --py-files fsst_spark.zip submit.py \
        encode --input s3://corpus/pages --out s3://corpus/encoded \
        --cluster-by 'url_sort_key(url)'

Every CLI subcommand works unchanged (decode/verify/stats/advise/...).
``jobs.session.get_spark`` uses ``getOrCreate``, so the session inherits
whatever master/conf spark-submit supplies — the same entry point runs
at N and 4N executors with no code change.

On Python < 3.12 each Spark Python task re-reads ``pyspark.zip``'s
directory. Importing ``fsst_spark`` stops that in every worker that
unpickles an engine object, ``--py-files`` shipping included, from its
next task on. Where ``fsst_spark`` is installed on the executors (not only
shipped via ``--py-files``, which the worker daemon cannot see at
startup), also add ``--conf spark.python.daemon.module=fsst_spark.daemon``
so workers skip it from their first task; see ``fsst_spark.daemon``.
"""

from fsst_spark.jobs.cli import main

if __name__ == "__main__":
    raise SystemExit(main())
