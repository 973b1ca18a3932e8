"""The driver-side chunk planner (``jobs.plan``): a selective read is
planned from chunk metadata without any Spark job, and then runs as ONE
job of file tasks that decode only the planned chunks."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import (decode_filtered, decode_head, decode_job,
                                    decode_plan)
from fsst_spark.jobs.encode import encode_job
from fsst_spark.sources.fsst_source import register
from tests.plan_checks import (assert_no_chunk_row_shuffle,
                               assert_no_row_filter, run_counting_jobs,
                               run_counting_py4j)

URL = "00001234.example.org/page"
# py4j commands the driver sends per call (test_py4j_round_trips_per_call);
# a task frame built from a pickled RDD and a row predicate that built every
# comparison made them 165 and 79, and a Spark-side row predicate 90
POINT_PY4J = 62
ENCODE_PY4J = 48


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


def test_row_predicate_runs_in_the_file_task(spark, clustered):
    """Every filter op but rlike keeps rows inside the file task, so no
    Spark Filter sits above the mapInArrow and only the requested columns
    leave it; an rlike (Java regex) read keeps its Spark Filter, and an OR
    clause that mixes rlike with other ops still returns exact rows."""
    point = decode_filtered(spark, clustered, "url", "==", URL)
    both = decode_filtered(
        spark, clustered, columns=["doc_id"], filters=[("doc_id", "<", 2000)],
        any_filters=[("lang", "==", "de"), ("url", "prefix", "000001")])
    head = decode_head(spark, clustered, 5, columns=["doc_id"],
                       filters=[("lang", "==", "fr")])
    for df in (point, both, head):
        assert_no_row_filter(df)
    assert [r["doc_id"] for r in point.collect()] == [1234]
    assert sorted(r["doc_id"] for r in both.collect()) == [
        i for i in range(2000) if i % 3 == 0 or 100 <= i < 200]
    assert both.columns == ["pid", "chunk_id", "doc_id"]
    assert all(r["doc_id"] % 3 == 2 for r in head.collect())
    assert head.columns == ["pid", "chunk_id", "doc_id"]

    rx = decode_filtered(spark, clustered, "lang", "rlike", "^d")
    with pytest.raises(AssertionError, match="Filter"):
        assert_no_row_filter(rx)
    mixed = decode_filtered(
        spark, clustered, columns=["doc_id"],
        any_filters=[("lang", "rlike", "^d"), ("doc_id", "<", 10)])
    assert mixed.columns == ["pid", "chunk_id", "doc_id"]
    assert sorted(r["doc_id"] for r in mixed.collect()) == [
        i for i in range(4000) if i % 3 == 0 or i < 10]


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


def test_metadata_cache_rereads_replaced_files(spark, tmp_path,
                                               parquet_reads):
    """The planner's metadata cache serves a repeated plan without a
    parquet read; once ``_atomic_write`` replaces the chunk files (the same
    pids written again with other rows) they are read again, and the plan
    equals a cold plan of the rewritten store."""
    from fsst_spark.jobs import plan
    from fsst_spark.jobs.decode import column_arrow_types

    store = str(tmp_path / "store")

    def write(lo):
        df = spark.range(lo, lo + 2000).select(
            F.col("id").alias("doc_id"), _lang(F.col("id")).alias("lang"))
        encode_job(spark, df, store, num_partitions=2, chunk_bytes=4 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="doc_id").collect()

    # zones, blooms (doc_id) and dictionaries (lang) all take part
    flt = [("doc_id", "in", [10, 2500, 3999]), ("lang", "==", "de")]

    def planned():
        return plan.plan_chunks(store, None, flt,
                                types=column_arrow_types(store))

    write(0)
    old = planned()
    parquet_reads.clear()
    assert planned() == old
    assert parquet_reads == []
    paths = [fp.path for fp in old.files]
    stamps = {p: plan._meta_cache[p][0] for p in paths}
    write(2000)
    warm = planned()
    assert parquet_reads, "the replaced files were not read again"
    assert all(plan._meta_cache[p][0] != stamps[p] for p in paths)
    plan._meta_cache.clear()
    assert warm == planned() != old
    got = decode_filtered(spark, store, filters=flt).select("doc_id").collect()
    assert [r["doc_id"] for r in got] == [3999]


def test_py4j_round_trips_per_call(spark, clustered, tmp_path):
    """The driver's py4j traffic per call stays pinned: a point lookup
    (plan, task frame, collect) and a file-granular encode
    job's build and run."""
    from fsst_spark.jobs.encode import encode_files_job

    def point():
        return decode_filtered(spark, clustered, "url", "==", URL).toArrow()

    point()  # warm: column types and chunk metadata cached
    t, n_point = run_counting_py4j(spark, point)
    assert t.column("doc_id").to_pylist() == [1234]
    assert n_point <= POINT_PY4J, n_point

    src = str(tmp_path / "in")
    spark.range(0, 200).selectExpr("id AS doc_id", "uuid() AS text") \
        .repartition(2).write.parquet(src)
    files = sorted(os.path.join(src, f) for f in os.listdir(src)
                   if f.endswith(".parquet"))

    def encode(out):
        return encode_files_job(spark, "", out, files=files).collect()

    encode(str(tmp_path / "warm"))
    rows, n_encode = run_counting_py4j(spark, lambda: encode(
        str(tmp_path / "store")))
    assert sorted(r["pid"] for r in rows) == [0, 1]
    assert n_encode <= ENCODE_PY4J, n_encode
