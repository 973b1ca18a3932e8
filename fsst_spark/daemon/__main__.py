"""``python -m fsst_spark.daemon``: the engine's Python worker daemon.

A package ``__main__`` rather than a runnable ``daemon.py``: importing
``fsst_spark`` already imports ``fsst_spark.daemon`` (to install the
patch), and ``runpy`` warns when the module it is asked to run is already
imported under its own name."""

from fsst_spark.daemon import main

main()
