"""fsst_spark — a PySpark-native per-column lightweight-compression engine.

Codecs: FSST (Fast Static Symbol Tables), dictionary, RLE,
frame-of-reference, bit-packing — with a stats-driven auto-selector.
All encode/decode runs as vectorized Arrow/numpy kernels inside
``mapInArrow`` tasks; Spark provides scan, partitioning (with explicit
skew salting), and the checkpointable manifest that makes encode jobs
resumable per partition.
"""

from . import daemon
from .env import tune_malloc

tune_malloc()
# Every process that unpickles an engine object imports this package:
# Spark's data-source planner, write and commit workers and, on other
# masters, plain ``pyspark.daemon`` workers. They then stop re-reading
# unchanged zip archives on each task (see ``fsst_spark.daemon``).
daemon.install()

__version__ = "0.1.0"
