"""Metadata-only schema evolution: drop_column hides a column from every
reader in O(1) (payloads untouched), undrop restores it, rewrites purge
it physically, compaction preserves the drop."""

import os

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import column_arrow_types, decode_job
from fsst_spark.jobs.encode import encode_job
from fsst_spark.jobs.schema import (
    drop_column,
    dropped_columns,
    physical_columns,
    undrop_column,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
    )


@pytest.fixture()
def store(spark, docs, tmp_path):
    out = str(tmp_path / "store")
    encode_job(spark, docs, out, chunk_bytes=8 << 10, resume=False,
               pre_partitioned=False, num_partitions=2,
               unique_col="doc_id").collect()
    return out


def test_drop_hides_column_everywhere(spark, docs, store):
    drop_column(store, "source")
    assert dropped_columns(store) == {"source"}
    assert "source" not in column_arrow_types(store)
    dec = decode_job(spark, store)
    assert "source" not in dec.columns
    # remaining values bit-identical
    a = (dec.drop("pid", "chunk_id").orderBy("doc_id").collect())
    b = (docs.drop("source").select(*sorted(set(docs.columns) - {"source"}))
         .orderBy("doc_id").collect())
    assert a == b
    # explicit request for a dropped column raises
    with pytest.raises(KeyError, match="source"):
        decode_job(spark, store, ["source"]).count()
    # payloads untouched: physical schema still carries it
    assert "source" in physical_columns(store)


def test_fsst_source_respects_drop(spark, docs, store):
    from fsst_spark.sources.fsst_source import register, store_column_types

    register(spark)
    drop_column(store, "source")
    assert "source" not in store_column_types(store)
    back = spark.read.format("fsst").load(store)
    assert "source" not in back.columns
    assert back.count() == docs.count()


def test_undrop_restores(spark, docs, store):
    drop_column(store, "source")
    undrop_column(store, "source")
    assert dropped_columns(store) == set()
    dec = decode_job(spark, store)
    assert "source" in dec.columns
    assert (dec.agg(F.count_distinct("source")).collect()
            == docs.agg(F.count_distinct("source")).collect())


def test_drop_guards(store):
    with pytest.raises(KeyError, match="nope"):
        drop_column(store, "nope")
    drop_column(store, "source")
    with pytest.raises(ValueError, match="already dropped"):
        drop_column(store, "source")
    drop_column(store, "lang")
    drop_column(store, "n_chars")
    with pytest.raises(ValueError, match="last visible"):
        drop_column(store, "doc_id")
    with pytest.raises(ValueError, match="not currently dropped"):
        undrop_column(store, "doc_id")


def test_recluster_purges_physically(spark, docs, store, tmp_path):
    from fsst_spark.jobs.compact import recluster_store

    drop_column(store, "source")
    out = str(tmp_path / "reclustered")
    recluster_store(spark, store, out, sort_key="doc_id",
                    chunk_bytes=8 << 10).collect()
    assert "source" not in physical_columns(out)
    assert decode_job(spark, out).count() == docs.count()


def test_compact_preserves_drop(spark, docs, store, tmp_path):
    from fsst_spark.jobs.compact import compact_store

    drop_column(store, "source")
    out = str(tmp_path / "compacted")
    compact_store(spark, store, out, target_files=1).collect()
    assert dropped_columns(out) == {"source"}
    assert "source" not in column_arrow_types(out)
    assert "source" in physical_columns(out)  # verbatim copy
    assert decode_job(spark, out).count() == docs.count()


def test_append_with_dropped_column_refused(spark, docs, tmp_path):
    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = str(tmp_path / "ds_store")
    docs.write.format("fsst").mode("append").save(out)
    drop_column(out, "source")
    with pytest.raises(Exception, match="DROPPED"):
        docs.limit(5).write.format("fsst").mode("append").save(out)
    # a frame without the ghost column appends fine
    docs.drop("source").limit(5).write.format("fsst").mode("append").save(out)


def test_fast_paths_respect_drop(spark, docs, store):
    from fsst_spark.jobs.agg import encoded_group_count
    from fsst_spark.jobs.stats import encoded_profile

    drop_column(store, "source")
    with pytest.raises(KeyError, match="source"):
        encoded_group_count(spark, store, "source").count()
    prof = encoded_profile(spark, store).collect()
    assert "source" not in {r["column"] for r in prof}
    got = {r["value"]: r["cnt"]
           for r in encoded_group_count(spark, store, "lang").collect()}
    exp = {r["lang"]: r["cnt"]
           for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert got == exp


def test_store_status(spark, docs, store):
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.schema import store_status

    drop_column(store, "source")
    delete_where(spark, store, "lang", "==", "de")
    s = store_status(store)
    assert s["mode"] == "dataframe"
    assert "source" not in s["columns"] and s["dropped_columns"] == ["source"]
    assert s["chunk_files"] == 2 and s["encoded_bytes"] > 0
    assert s["has_deletes"] and s["tombstoned_rows"] > 0
    assert s["recent_mutations"][-1]["deleted_now"] == s["tombstoned_rows"]
    assert s["commits"] == 0


def test_store_history(spark, docs, store):
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.schema import store_history

    drop_column(store, "source")
    delete_where(spark, store, "lang", "==", "fr")
    h = store_history(store)
    assert h["schema"][-1]["action"] == "drop"
    assert h["mutations"][-1]["deleted_now"] > 0
    assert [m["index"] for m in h["mutations"]] == \
        sorted(m["index"] for m in h["mutations"])
    assert isinstance(h["commits"], list)


# --------------------------------------------------------------------------
# ADD COLUMN (metadata-only): NULL for pre-add chunks, real values in
# post-add appends, fast paths fail fast until materialized.
# --------------------------------------------------------------------------
def test_add_column_nulls_in_decode(spark, docs, store):
    from fsst_spark.jobs.schema import add_column, added_columns

    add_column(store, "quality", "double")
    assert added_columns(store) == {"quality": "double"}
    dec = decode_job(spark, store)
    assert dict(dec.dtypes)["quality"] == "double"
    n = docs.count()
    assert dec.count() == n
    assert dec.filter(F.col("quality").isNull()).count() == n
    # selective decode still prunes + fills
    from fsst_spark.jobs.decode import decode_filtered

    d2 = decode_filtered(spark, store, "doc_id", ">=", 100,
                         columns=["doc_id", "quality"])
    assert d2.count() == docs.filter("doc_id >= 100").count()
    assert d2.filter(F.col("quality").isNotNull()).count() == 0
    # decode of ONLY the added column: all-null rows, exact row count
    only = decode_job(spark, store, ["quality"])
    assert only.count() == n
    assert only.filter(F.col("quality").isNull()).count() == n


def test_add_column_guards(spark, docs, store):
    from fsst_spark.jobs.schema import add_column

    with pytest.raises(ValueError, match="already exists"):
        add_column(store, "lang", "string")
    with pytest.raises(ValueError, match="unsupported arrow type"):
        add_column(store, "x", "wibble")
    add_column(store, "x", "int64")
    with pytest.raises(ValueError, match="already added"):
        add_column(store, "x", "int64")
    # fast paths fail fast on the unmaterialized column
    from fsst_spark.jobs.agg import encoded_group_count
    from fsst_spark.jobs.stats import encoded_column_stats

    with pytest.raises(KeyError):
        encoded_group_count(spark, store, "x")
    with pytest.raises((KeyError, ValueError)):
        encoded_column_stats(spark, store, ["x"])
    # drop retracts the add; undrop restores it
    from fsst_spark.jobs.schema import added_columns

    drop_column(store, "x")
    assert "x" not in added_columns(store)
    assert "x" not in decode_job(spark, store).columns
    undrop_column(store, "x")
    assert added_columns(store)["x"] == "int64"


def test_add_column_mixed_store_via_datasource(spark, docs, tmp_path):
    """append AFTER the add carries the column: old chunks read NULL, new
    chunks read real values, through both decode_job and the source."""
    from fsst_spark.jobs.schema import add_column
    from fsst_spark.sources.fsst_source import register

    register(spark)
    store = str(tmp_path / "dstore")
    old = docs.filter("doc_id < 200")
    new = docs.filter("doc_id >= 200").withColumn(
        "quality", (F.col("doc_id") % 5).cast("double"))
    old.write.format("fsst").mode("overwrite").save(store)
    add_column(store, "quality", "double")
    # an append LACKING the added column is refused
    with pytest.raises(Exception, match="ADDED"):
        old.write.format("fsst").mode("append").save(store)
    new.write.format("fsst").mode("append").save(store)

    got = spark.read.format("fsst").load(store)
    assert got.count() == docs.count()
    assert (got.filter("doc_id < 200").filter(F.col("quality").isNotNull())
            .count() == 0)
    want_new = {(r["doc_id"], float(r["doc_id"] % 5))
                for r in new.select("doc_id").collect()}
    got_new = {(r["doc_id"], r["quality"])
               for r in got.filter("doc_id >= 200").collect()}
    assert got_new == want_new
    # decode_job agrees
    dj = decode_job(spark, store)
    assert dj.filter("doc_id < 200").filter(
        F.col("quality").isNotNull()).count() == 0
    assert {(r["doc_id"], r["quality"])
            for r in dj.filter("doc_id >= 200").collect()
            } >= set()  # shape check; exact values:
    assert {(r["doc_id"], r["quality"])
            for r in dj.select("doc_id", "quality")
            .filter("doc_id >= 200").collect()} == want_new


def test_rewrite_materializes_added_column(spark, docs, store, tmp_path):
    """recluster (decode -> re-encode) turns an added column physical:
    every chunk carries it, and the fast paths answer again."""
    from fsst_spark.jobs.agg import encoded_group_count
    from fsst_spark.jobs.compact import recluster_store
    from fsst_spark.jobs.schema import add_column, physical_columns

    add_column(store, "quality", "double")
    out2 = str(tmp_path / "rewritten")
    recluster_store(spark, store, out2, sort_key="doc_id",
                    num_partitions=2).collect()
    assert "quality" in physical_columns(out2)
    dec = decode_job(spark, out2)
    n = docs.count()
    assert dec.count() == n
    assert dec.filter(F.col("quality").isNull()).count() == n
    # fast paths see the (now physical) column
    got = {r["value"]: r["cnt"]
           for r in encoded_group_count(spark, out2, "quality").collect()}
    assert got == {None: n}


def test_status_reports_added_columns(spark, docs, store):
    from fsst_spark.jobs.schema import add_column, store_status

    add_column(store, "quality", "double")
    s = store_status(store)
    assert s["added_columns"] == ["quality"]
    assert s["columns"]["quality"] == "double"


def test_decode_only_materialized_added_column(spark, docs, tmp_path):
    """Regression: once appends materialize an added column, it reads as
    physical from NEW chunk files — the row-count carrier for an
    only-added-columns decode must still be a column present in EVERY
    chunk, or pre-add rows vanish."""
    from fsst_spark.jobs.schema import add_column
    from fsst_spark.sources.fsst_source import register

    register(spark)
    store = str(tmp_path / "mstore")
    old = docs.filter("doc_id < 150")
    new = docs.filter("doc_id >= 150").withColumn(
        "quality", (F.col("doc_id") % 3).cast("double"))
    old.write.format("fsst").mode("overwrite").save(store)
    add_column(store, "quality", "double")
    new.write.format("fsst").mode("append").save(store)

    n_all = docs.count()
    n_new = new.count()
    only = decode_job(spark, store, ["quality"])
    assert only.count() == n_all
    assert only.filter(F.col("quality").isNotNull()).count() == n_new
    via_src = (spark.read.format("fsst").option("columns", "quality")
               .load(store))
    assert via_src.count() == n_all
    assert via_src.filter(F.col("quality").isNotNull()).count() == n_new
    # decode_head over the mixed store stays exact too
    from fsst_spark.jobs.decode import decode_head

    assert decode_head(spark, store, 10, columns=["quality"]).count() == 10
