"""The driver-side chunk planner (``jobs.plan``): a selective read is
planned from chunk metadata without any Spark job, and then runs as ONE
job of file tasks that decode only the planned chunks."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_filtered, decode_job, decode_plan
from fsst_spark.jobs.encode import encode_job
from fsst_spark.sources.fsst_source import register
from tests.plan_checks import assert_no_chunk_row_shuffle, run_counting_jobs

URL = "00001234.example.org/page"


def _lang(col):
    return F.element_at(F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
                        (col % 3 + 1).cast("int"))


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """url-clustered store of 4 files with several chunks each; every url
    has its own 8-byte prefix, so url zones isolate a single chunk."""
    out = str(tmp_path_factory.mktemp("planner") / "store")
    df = (spark.range(0, 4000).withColumnRenamed("id", "doc_id")
          .withColumn("url", F.format_string("%08d.example.org/page",
                                             F.col("doc_id")))
          .withColumn("lang", _lang(F.col("doc_id"))))
    encode_job(spark, df.orderBy(F.md5(F.col("url"))), out, num_partitions=4,
               chunk_bytes=8 << 10, resume=False, unique_col="url",
               sort_key="url").collect()
    return out


def test_point_lookup_is_one_spark_job(spark, clustered):
    rows, n_jobs = run_counting_jobs(
        spark, "planner-point",
        lambda: decode_filtered(spark, clustered, "url", "==", URL).collect())
    assert [r["doc_id"] for r in rows] == [1234]
    assert n_jobs == 1


def test_source_point_lookup_plans_one_partition(spark, clustered):
    register(spark)
    df = spark.read.format("fsst").load(clustered).where(F.col("url") == URL)
    assert df.rdd.getNumPartitions() == 1
    assert [r["doc_id"] for r in df.collect()] == [1234]


def test_decode_plan_runs_no_spark_job(spark, clustered):
    plan, n_jobs = run_counting_jobs(
        spark, "planner-plan",
        lambda: decode_plan(spark, clustered, filters=[("url", "==", URL)]))
    assert n_jobs == 0
    assert plan["chunks_kept"] == 1 < plan["chunks_total"]
    assert plan["rows_bound"] < plan["rows_total"]


_OPS = {"==": lambda c, v: c == v, "<": lambda c, v: c < v,
        ">=": lambda c, v: c >= v}


def _cond(flt, any_flt):
    cond = F.lit(True)
    for c, op, v in flt or []:
        cond = cond & _OPS[op](F.col(c), v)
    if any_flt:
        alt = F.lit(False)
        for c, op, v in any_flt:
            alt = alt | _OPS[op](F.col(c), v)
        cond = cond & alt
    return cond


def test_filtered_decode_with_tombstones_and_added_columns(spark, tmp_path):
    """Filtered reads of a store with row tombstones and a schema-log-added
    column (NULL in chunks written before the add, real values after it)
    match a full decode followed by the same filter."""
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.schema import add_column

    register(spark)
    store = str(tmp_path / "mixed")
    base = (spark.range(0, 3000).withColumnRenamed("id", "doc_id")
            .withColumn("lang", _lang(F.col("doc_id"))))
    (base.where("doc_id < 1500").repartition(2, "doc_id")
     .sortWithinPartitions("doc_id").write.format("fsst")
     .option("chunk_bytes", 4 << 10).mode("overwrite").save(store))
    add_column(store, "quality", "double")
    (base.where("doc_id >= 1500")
     .withColumn("quality", (F.col("doc_id") % 5).cast("double"))
     .repartition(2, "doc_id").sortWithinPartitions("doc_id")
     .write.format("fsst").option("chunk_bytes", 4 << 10)
     .mode("append").save(store))
    delete_where(spark, store, "lang", "==", "fr")
    delete_where(spark, store, "doc_id", "<", 100)

    full = decode_job(spark, store).drop("pid", "chunk_id")
    assert full.count() == 3000 - 1000 - 67  # fr rows and doc_id < 100 gone
    for flt, any_flt in [
        ([("doc_id", ">=", 1000), ("doc_id", "<", 2000)], None),
        ([("lang", "==", "de")], [("quality", ">=", 3.0), ("doc_id", "<", 300)]),
        (None, [("quality", "==", 1.0)]),
        ([("quality", "<", 1.0)], None),
    ]:
        want = Counter(map(tuple, full.where(_cond(flt, any_flt)).collect()))
        assert want, (flt, any_flt)
        got = decode_filtered(spark, store, filters=flt, any_filters=any_flt)
        assert Counter(map(tuple, got.drop("pid", "chunk_id")
                           .select(*full.columns).collect())) == want
        src = spark.read.format("fsst").load(store).where(_cond(flt, any_flt))
        assert Counter(map(tuple, src.select(*full.columns).collect())) == want


def test_chunk_jobs_read_planned_file_tasks(spark, clustered):
    """The chunk-local aggregations and deletes read whole chunks through
    planned file tasks: no chunk-row shuffle on (pid, chunk_id) and no JVM
    scan of chunk payloads."""
    from fsst_spark.jobs.agg import (encoded_count_filtered,
                                     encoded_group_count, encoded_histogram)

    flt = [("doc_id", ">=", 1000), ("doc_id", "<", 3000)]
    for df in (encoded_count_filtered(spark, clustered, flt),
               encoded_group_count(spark, clustered, "lang", filters=flt),
               encoded_histogram(spark, clustered, "doc_id", 500),
               encoded_histogram(spark, clustered, "doc_id", 500,
                                 filters=flt)):
        assert_no_chunk_row_shuffle(df)
    # delete_where's tombstone frame, built without writing it
    from fsst_spark.jobs.deletes import _where_tombstones

    assert_no_chunk_row_shuffle(
        _where_tombstones(spark, clustered, flt, [], None))
    r = encoded_count_filtered(spark, clustered, flt).collect()[0]
    assert r["n_rows"] == 2000
    assert (r["chunks_pruned"] + r["chunks_metadata_only"]
            + r["chunks_decoded"]) == r["chunks_total"]
    assert _where_tombstones(spark, clustered, flt, [], None).count() == 2000
