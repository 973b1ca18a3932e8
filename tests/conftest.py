import pytest

import fsst_spark  # noqa: F401  (malloc tuning before JVM fork)


@pytest.fixture(scope="session")
def spark():
    from fsst_spark.jobs.session import get_spark

    s = get_spark("local[4]", app_name="fsst_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def parquet_reads(monkeypatch):
    """Records ``(columns, filters)`` of every pyarrow parquet read this
    process makes (``columns`` None means every column): the driver-side
    chunk planner's metadata reads. Empties the planner's metadata cache
    first, so the reads of a cold plan happen."""
    import pyarrow.parquet as pq

    from fsst_spark.jobs import plan

    plan._meta_cache.clear()
    calls = []
    read_table, pf_read = pq.read_table, pq.ParquetFile.read

    def rec_read_table(source, *args, columns=None, filters=None, **kw):
        calls.append((columns, filters))
        return read_table(source, *args, columns=columns, filters=filters, **kw)

    def rec_pf_read(self, columns=None, *args, **kw):
        calls.append((columns, None))
        return pf_read(self, columns, *args, **kw)

    monkeypatch.setattr(pq, "read_table", rec_read_table)
    monkeypatch.setattr(pq.ParquetFile, "read", rec_pf_read)
    return calls

