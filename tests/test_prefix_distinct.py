"""prefix-predicate selective decode/count and encoded DISTINCT."""

import pytest
from pyspark.sql import Row, functions as F

from fsst_spark.jobs.agg import encoded_count_filtered
from fsst_spark.jobs.decode import decode_filtered, decode_plan
from fsst_spark.jobs.encode import encode_job
from fsst_spark.jobs.stats import encoded_distinct


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """Clustered on a host-reversed key whose domains differ inside the
    8-byte pack window (net.dNN/...), plus a dict-codable lang column."""
    out = str(tmp_path_factory.mktemp("pfx") / "store")
    df = (spark.range(0, 30000).withColumnRenamed("id", "doc_id")
          .withColumn("key", F.concat(
              F.lit("net.d"),
              F.lpad(F.col("doc_id") % 40, 2, "0"),
              F.lit("/page/"), F.col("doc_id").cast("string")))
          .withColumn("lang", F.element_at(
              F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("pt")),
              (F.col("doc_id") % 4 + 1).cast("int"))))
    # many chunks per partition: with one chunk per range partition the
    # existence of an INTERIOR all-match chunk for a 1/4-keyspace prefix
    # depends on where repartitionByRange's sampled boundaries land (they
    # shift with session history); ~60 chunks make it structural
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        encode_job(spark, df, out, num_partitions=6, chunk_bytes=16 << 10,
                   resume=False, unique_col="doc_id", sort_key="key").collect()
    finally:
        spark.conf.set(key, old)
    return out, df


def test_prefix_decode_exact_and_pruned(spark, store):
    out, df = store
    got = decode_filtered(spark, out, "key", "prefix", "net.d07/")
    want = df.filter(F.col("key").startswith("net.d07/"))
    assert got.count() == want.count() == 750
    assert (got.select("doc_id").exceptAll(want.select("doc_id")).count()
            == 0)
    # clustered on key: the 1/40 slice must prune most chunks
    n_all = decode_plan(spark, out, ["key"])["chunks_kept"]
    n_kept = decode_plan(
        spark, out, ["key"], [("key", "prefix", "net.d07/")])["chunks_kept"]
    assert n_kept < n_all / 4, (n_kept, n_all)


def test_prefix_longer_than_pack_window(spark, store):
    out, df = store
    # 13-byte prefix: zones collapse to a point interval, still exact
    got = decode_filtered(spark, out, "key", "prefix", "net.d11/page/2")
    want = df.filter(F.col("key").startswith("net.d11/page/2"))
    assert got.count() == want.count() > 0


def test_prefix_empty_matches_everything(spark, store):
    out, df = store
    assert decode_filtered(spark, out, "key", "prefix", "").count() == 30000


def test_prefix_no_match(spark, store):
    out, _ = store
    assert decode_filtered(spark, out, "key", "prefix", "org.").count() == 0


def test_prefix_type_guards(spark, store):
    out, _ = store
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "doc_id", "prefix", "12")
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "key", "prefix", 12)


def test_prefix_dict_prune_on_dict_column(spark, store):
    out, df = store
    # lang is dict-coded; a prefix no dictionary entry starts with must
    # drop every dict chunk without decoding codes
    n_kept = decode_plan(
        spark, out, ["lang"], [("lang", "prefix", "zz")])["chunks_kept"]
    assert n_kept == 0
    got = decode_filtered(spark, out, "lang", "prefix", "d")
    assert got.count() == df.filter(F.col("lang").startswith("d")).count()


def test_count_where_prefix_tristate(spark, store):
    out, df = store
    r = encoded_count_filtered(
        spark, out, [("key", "prefix", "net.d2")]).collect()[0]
    assert r["n_rows"] == df.filter(F.col("key").startswith("net.d2")).count()
    assert r["chunks_pruned"] > 0
    # clustered store: interior chunks of the range are provably all-match
    assert r["chunks_metadata_only"] > 0, r


def test_encoded_distinct_dict_column_reads_dicts_only(spark, store):
    out, _ = store
    obs = {}
    got = sorted(r["val"] for r in
                 encoded_distinct(spark, out, "lang", observer=obs).collect())
    assert got == ["de", "en", "fr", "pt"]
    # range-partition boundaries shift with session history, and a 1-2 row
    # TAIL chunk can legitimately defect from str_dict (dict needs repeats);
    # the pruning claim is "body chunks contribute dictionaries only", so
    # allow at most one defecting tail per partition (6) and require the
    # dict population to dominate
    assert obs["n_dict_chunks"] >= 10 * max(obs["n_decoded_chunks"], 1), obs
    assert obs["n_decoded_chunks"] <= 6, obs


def test_encoded_distinct_int_column(spark, store):
    out, df = store
    got = sorted(r["val"] for r in
                 encoded_distinct(spark, out, "doc_id").collect())
    assert got == list(range(30000))


def test_encoded_distinct_includes_null(spark, tmp_path):
    out = str(tmp_path / "nulls")
    df = (spark.range(0, 3000).withColumnRenamed("id", "doc_id")
          .withColumn("lang", F.when(F.col("doc_id") % 5 == 0, None)
                      .otherwise(F.when(F.col("doc_id") % 2 == 0,
                                        "aa").otherwise("bb"))))
    encode_job(spark, df, out, num_partitions=2, resume=False,
               unique_col="doc_id").collect()
    got = [r["val"] for r in encoded_distinct(spark, out, "lang").collect()]
    assert sorted(v for v in got if v is not None) == ["aa", "bb"]
    assert None in got


def test_encoded_distinct_unknown_column(spark, store):
    out, _ = store
    with pytest.raises(KeyError):
        encoded_distinct(spark, out, "nope")
