"""A one-column DataSource that reports which ``zipimporter.invalidate_caches``
the Spark worker planning its read runs.

``schema()`` runs in the worker Spark forks for ``create_data_source`` at
``load()``. It imports the engine, as the fsst source does, and names its
column after the function's qualified name."""

from pyspark.sql.datasource import DataSource


class DaemonProbeSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "daemon_probe"

    def schema(self) -> str:
        import zipimport

        import fsst_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        return f"`{fn.__module__}.{fn.__qualname__}` int"
