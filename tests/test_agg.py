"""Aggregation pushdown over the encoded store: GROUP BY answered from
dict codes / RLE runs, falling back to chunk-local decode — results must
equal plain DataFrame aggregation over the source."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.agg import (encoded_group_count, encoded_group_ndv,
                                 encoded_group_stats, encoded_group_strlen,
                                 encoded_group_sum, encoded_histogram)
from fsst_spark.jobs.encode import encode_job


@pytest.fixture(scope="module")
def docs_with_nulls(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "n_chars")
        .withColumn("lang", F.when(F.col("doc_id") % 97 == 0, None)
                    .otherwise(F.col("lang")))
        .withColumn("n_chars", F.when(F.col("doc_id") % 89 == 0, None)
                    .otherwise(F.col("n_chars")))
    )
    docs.persist().count()
    yield docs
    docs.unpersist()


@pytest.fixture(scope="module")
def enc_store(spark, docs_with_nulls, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("agg_store"))
    encode_job(spark, docs_with_nulls, out, num_partitions=4,
               chunk_bytes=64 << 10, resume=False,
               unique_col="doc_id").collect()
    return out


def _by_key(rows):
    return sorted(rows, key=lambda t: (t[0] is None, t[0]))


def test_group_count_dict_column(spark, docs_with_nulls, enc_store):
    got = _by_key(
        (r["value"], r["cnt"])
        for r in encoded_group_count(spark, enc_store, "lang").collect())
    want = _by_key(
        (r["lang"], r["count"])
        for r in docs_with_nulls.groupBy("lang").count().collect())
    assert got == want
    assert any(v is None for v, _ in got)  # null group present


def test_group_count_int_rle_column(spark, tmp_path):
    # sorted by bucket -> long runs -> int_rle; counts must come out exact
    df = (spark.range(0, 3000).withColumnRenamed("id", "doc_id")
          .withColumn("bucket", F.col("doc_id") % 7)
          .orderBy("bucket", "doc_id").coalesce(1))
    out = str(tmp_path / "rle_store")
    encode_job(spark, df, out, chunk_bytes=1 << 20, resume=False,
               pre_partitioned=True, unique_col="doc_id").collect()
    got = sorted((r["value"], r["cnt"])
                 for r in encoded_group_count(spark, out, "bucket").collect())
    assert got == [(b, 3000 // 7 + (1 if b < 3000 % 7 else 0))
                   for b in range(7)]


def test_group_sum_matches_dataframe_agg(spark, docs_with_nulls, enc_store):
    got = _by_key(
        (r["value"], r["cnt"], r["sum_val"])
        for r in encoded_group_sum(spark, enc_store, "lang", "n_chars").collect())
    want = _by_key(
        (r["lang"], r["c"], r["s"])
        for r in docs_with_nulls.groupBy("lang")
        .agg(F.count("*").alias("c"), F.sum("n_chars").alias("s")).collect())
    assert got == want


def test_group_sum_guards(spark, enc_store):
    with pytest.raises(KeyError):
        encoded_group_count(spark, enc_store, "nope")
    with pytest.raises(ValueError, match="int or float"):
        encoded_group_sum(spark, enc_store, "n_chars", "lang")


def test_filtered_group_count(spark, docs_with_nulls, enc_store):
    got = _by_key(
        (r["value"], r["cnt"])
        for r in encoded_group_count(
            spark, enc_store, "lang",
            filters=[("n_chars", ">=", 500)]).collect())
    want = _by_key(
        (r["lang"], r["count"])
        for r in docs_with_nulls.filter(F.col("n_chars") >= 500)
        .groupBy("lang").count().collect())
    assert got == want


def test_filtered_group_sum_multi_filter(spark, docs_with_nulls, enc_store):
    flt = [("lang", "in", ["en", "de"]), ("n_chars", "<", 1500)]
    got = _by_key(
        (r["value"], r["cnt"], r["sum_val"])
        for r in encoded_group_sum(spark, enc_store, "lang", "n_chars",
                                   filters=flt).collect())
    want = _by_key(
        (r["lang"], r["c"], r["s"])
        for r in docs_with_nulls
        .filter(F.col("lang").isin("en", "de") & (F.col("n_chars") < 1500))
        .groupBy("lang")
        .agg(F.count("*").alias("c"), F.sum("n_chars").alias("s")).collect())
    assert got == want


def test_count_filtered_metadata_only_on_clustered_store(spark, tmp_path):
    """A range count over the cluster key decodes only the two boundary
    chunks; interior chunks are answered from n_rows metadata."""
    from fsst_spark.jobs.agg import encoded_count_filtered

    df = (spark.range(0, 20000).withColumnRenamed("id", "doc_id")
          .withColumn("payload", F.concat(F.lit("row-"), F.col("doc_id"))))
    out = str(tmp_path / "clustered")
    encode_job(spark, df, out, num_partitions=4, chunk_bytes=16 << 10,
               resume=False, unique_col="doc_id", sort_key="doc_id").collect()
    r = encoded_count_filtered(
        spark, out, [("doc_id", ">=", 5500), ("doc_id", "<", 17000)]).collect()[0]
    assert r["n_rows"] == 11500
    assert r["chunks_metadata_only"] > 0, r.asDict()
    assert r["chunks_pruned"] > 0, r.asDict()
    # only the chunks the range boundaries cut through decode
    assert r["chunks_decoded"] <= 4, r.asDict()
    assert (r["chunks_pruned"] + r["chunks_metadata_only"]
            + r["chunks_decoded"]) == r["chunks_total"]


def test_count_filtered_corners(spark, docs_with_nulls, enc_store):
    from fsst_spark.jobs.agg import encoded_count_filtered

    # impossible predicate: every chunk pruned, nothing decoded
    r = encoded_count_filtered(spark, enc_store,
                               [("n_chars", ">=", 10**9)]).collect()[0]
    assert r["n_rows"] == 0 and r["chunks_decoded"] == 0
    assert r["chunks_pruned"] == r["chunks_total"]
    # string equality: never metadata-provable (prefix zones), still exact
    want = docs_with_nulls.filter(F.col("lang") == "en").count()
    r2 = encoded_count_filtered(spark, enc_store, [("lang", "==", "en")]).collect()[0]
    assert r2["n_rows"] == want and r2["chunks_metadata_only"] == 0
    # filter column with nulls: all-state blocked, count still exact
    want3 = docs_with_nulls.filter(F.col("n_chars") >= 500).count()
    r3 = encoded_count_filtered(spark, enc_store, [("n_chars", ">=", 500)]).collect()[0]
    assert r3["n_rows"] == want3


def test_arrow_mask_float_sql_semantics():
    """The chunk-local float mask must reproduce Spark/DuckDB comparison
    semantics: NaN above everything and equal to itself, -0.0 == +0.0 —
    raw IEEE comparison (NaN always false) would diverge from the
    decode-then-filter plan."""
    import numpy as np
    import pyarrow as pa

    from fsst_spark.jobs.decode import _arrow_mask

    arr = pa.array([1.5, float("nan"), -0.0, 0.0, -2.5, None], type=pa.float64())
    assert _arrow_mask(arr, ">=", 0.0, "double").tolist() == [
        True, True, True, True, False, False]
    assert _arrow_mask(arr, "==", 0.0, "double").tolist() == [
        False, False, True, True, False, False]
    assert _arrow_mask(arr, "==", float("nan"), "double").tolist() == [
        False, True, False, False, False, False]
    assert _arrow_mask(arr, "<", float("nan"), "double").tolist() == [
        True, False, True, True, True, False]


@pytest.fixture(scope="module")
def strlen_store(spark, tmp_path_factory):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "lang", "text")
        .withColumn("lang", F.when(F.col("doc_id") % 97 == 0, None)
                    .otherwise(F.col("lang")))
        .withColumn("text", F.when(F.col("doc_id") % 11 == 0, None)
                    .otherwise(F.col("text")))
    )
    docs.persist().count()
    out = str(tmp_path_factory.mktemp("strlen_store"))
    encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
               resume=False, unique_col="doc_id").collect()
    yield docs, out
    docs.unpersist()


def _strlen_expected(docs):
    return {
        r["value"]: r
        for r in docs.groupBy(F.col("lang").alias("value")).agg(
            F.count("*").alias("n_rows"),
            F.count("text").alias("n_values"),
            F.sum(F.octet_length("text")).alias("sum_bytes"),
            F.avg(F.octet_length("text")).alias("avg_bytes"),
            F.min(F.octet_length("text")).alias("min_bytes"),
            F.max(F.octet_length("text")).alias("max_bytes")).collect()}


def _strlen_assert_equal(got, exp):
    assert set(got) == set(exp)
    for k in exp:
        for c in ("n_rows", "n_values", "sum_bytes", "min_bytes", "max_bytes"):
            assert got[k][c] == exp[k][c], (k, c)
        if exp[k]["avg_bytes"] is None:
            assert got[k]["avg_bytes"] is None, k
        else:
            assert got[k]["avg_bytes"] == pytest.approx(exp[k]["avg_bytes"])


def test_group_strlen_matches_dataframe_agg(spark, strlen_store):
    docs, out = strlen_store
    got = {r["value"]: r
           for r in encoded_group_strlen(spark, out, "lang", "text").collect()}
    _strlen_assert_equal(got, _strlen_expected(docs))
    assert None in got  # null keys form their own group


def test_group_strlen_filtered(spark, strlen_store):
    docs, out = strlen_store
    got = {r["value"]: r
           for r in encoded_group_strlen(
               spark, out, "lang", "text",
               filters=[("doc_id", ">=", 100), ("doc_id", "<", 400)]).collect()}
    _strlen_assert_equal(
        got, _strlen_expected(docs.filter("doc_id >= 100 AND doc_id < 400")))


def test_group_strlen_delete_aware(spark, tmp_path):
    from fsst_spark.jobs.deletes import delete_where

    docs = (spark.range(0, 900)
            .select(F.col("id").alias("doc_id"),
                    F.element_at(F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
                                 ((F.col("id") % 3) + 1).cast("int")).alias("lang"),
                    F.concat(F.lit("päge 😀 "),
                             (F.col("id") % 53).cast("string")).alias("text")))
    out = str(tmp_path / "store")
    encode_job(spark, docs, out, num_partitions=3, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id").collect()
    delete_where(spark, out, "doc_id", "<", 300)
    got = {r["value"]: r
           for r in encoded_group_strlen(spark, out, "lang", "text").collect()}
    _strlen_assert_equal(got, _strlen_expected(docs.filter("doc_id >= 300")))


def test_group_strlen_all_null_group_and_guards(spark, tmp_path):
    docs = (spark.range(0, 200)
            .select(F.col("id").alias("doc_id"),
                    F.when(F.col("id") % 2 == 0, F.lit("evens"))
                    .otherwise(F.lit("odds")).alias("lang"),
                    # the whole "odds" group has NULL text -> sum/avg/min/max NULL
                    F.when(F.col("id") % 2 == 0, F.lit("some text"))
                    .alias("text")))
    out = str(tmp_path / "store")
    encode_job(spark, docs, out, chunk_bytes=1 << 20, resume=False,
               pre_partitioned=True, unique_col="doc_id").collect()
    got = {r["value"]: r
           for r in encoded_group_strlen(spark, out, "lang", "text").collect()}
    assert got["odds"]["n_rows"] == 100 and got["odds"]["n_values"] == 0
    for c in ("sum_bytes", "avg_bytes", "min_bytes", "max_bytes"):
        assert got["odds"][c] is None
    assert got["evens"]["sum_bytes"] == 100 * len("some text")
    with pytest.raises(ValueError, match="string/binary"):
        encoded_group_strlen(spark, out, "lang", "doc_id")
    with pytest.raises(KeyError):
        encoded_group_strlen(spark, out, "lang", "nope")


def test_group_ndv_matches_dataframe_agg(spark, strlen_store):
    docs, out = strlen_store
    got = sorted(((r["value"], r["ndv"])
                  for r in encoded_group_ndv(spark, out, "lang", "text").collect()),
                 key=lambda t: (t[0] is None, t[0]))
    want = sorted(((r["lang"], r["ndv"]) for r in docs.groupBy("lang").agg(
        F.count_distinct("text").alias("ndv")).collect()),
                  key=lambda t: (t[0] is None, t[0]))
    assert got == want
    assert any(v is None for v, _ in got)  # null keys form their own group


def test_group_ndv_filtered_int_value(spark, docs_with_nulls, enc_store):
    flt = [("doc_id", ">=", 100), ("doc_id", "<", 420)]
    got = sorted(((r["value"], r["ndv"]) for r in encoded_group_ndv(
        spark, enc_store, "lang", "n_chars", filters=flt).collect()),
        key=lambda t: (t[0] is None, t[0]))
    want = sorted(((r["lang"], r["ndv"])
                   for r in docs_with_nulls
                   .filter("doc_id >= 100 AND doc_id < 420")
                   .groupBy("lang")
                   .agg(F.count_distinct("n_chars").alias("ndv")).collect()),
                  key=lambda t: (t[0] is None, t[0]))
    assert got == want


def test_group_ndv_all_null_group_and_deletes(spark, tmp_path):
    from fsst_spark.jobs.deletes import delete_where

    docs = (spark.range(0, 600)
            .select(F.col("id").alias("doc_id"),
                    F.when(F.col("id") % 2 == 0, F.lit("evens"))
                    .otherwise(F.lit("odds")).alias("lang"),
                    # "odds" group: every value NULL -> must appear with ndv 0
                    F.when(F.col("id") % 2 == 0,
                           (F.col("id") % 7).cast("string")).alias("src")))
    out = str(tmp_path / "store")
    encode_job(spark, docs, out, chunk_bytes=4 << 10, resume=False,
               pre_partitioned=True, unique_col="doc_id").collect()
    got = {r["value"]: r["ndv"]
           for r in encoded_group_ndv(spark, out, "lang", "src").collect()}
    assert got == {"evens": 7, "odds": 0}
    delete_where(spark, out, "doc_id", ">=", 300)
    got2 = {r["value"]: r["ndv"]
            for r in encoded_group_ndv(spark, out, "lang", "src").collect()}
    want2 = {r["lang"]: r["ndv"]
             for r in docs.filter("doc_id < 300").groupBy("lang").agg(
                 F.count_distinct("src").alias("ndv")).collect()}
    assert got2 == want2


def _hist_key(t):
    return (t[0] is None, t[0])


def _hist_want(docs, col, w):
    return sorted(((r["bucket"], r["cnt"]) for r in docs.groupBy(
        F.floor(F.col(col) / w).cast("long").alias("bucket"))
        .agg(F.count("*").alias("cnt")).collect()), key=_hist_key)


@pytest.fixture(scope="module")
def hist_store(spark, tmp_path_factory):
    # clustered by n (sort_key) with negatives and nulls; tiny chunks so
    # most chunks sit inside one bucket -> the metadata arm dominates
    docs = spark.range(0, 20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 19 == 0, F.lit(None))
        .otherwise((F.col("id") - 10000).cast("long")).alias("n"))
    docs.persist().count()
    out = str(tmp_path_factory.mktemp("hist_store"))
    # range-repartition on n (global clustering): 32 pids, each a tight
    # contiguous n-range of ~625 values -> most chunks single-bucket at
    # width >= a few thousand
    encode_job(spark, docs, out, num_partitions=32, chunk_bytes=2 << 10,
               resume=False, unique_col="doc_id", sort_key="n").collect()
    yield docs, out
    docs.unpersist()


def test_histogram_matches_sql_semantics(spark, hist_store):
    docs, out = hist_store
    got = sorted(((r["bucket"], r["cnt"])
                  for r in encoded_histogram(spark, out, "n", 100).collect()),
                 key=_hist_key)
    assert got == _hist_want(docs, "n", 100)
    assert any(b is None for b, _ in got)  # null bucket present
    assert any(b is not None and b < 0 for b, _ in got)  # floor on negatives


def test_histogram_metadata_arm_dominates(spark, hist_store):
    docs, out = hist_store
    from fsst_spark.jobs.plan import store_meta

    m, _ = store_meta(out, ["n"], ("params",))
    z = list(zip(m["zmin_long"], m["zmax_long"], m["params"]))
    full = sum(1 for lo, hi, params in z
               if lo is not None and '"n_total"' not in params
               and lo // 5000 == hi // 5000)
    # the clustered layout must make most chunks provably single-bucket,
    # i.e. answered from n_rows metadata with no payload read
    assert len(z) > 10 and full / len(z) > 0.5
    # and the mostly-metadata answer is still exact
    got = sorted(((r["bucket"], r["cnt"])
                  for r in encoded_histogram(
                      spark, out, "n", 5000).collect()), key=_hist_key)
    assert got == _hist_want(docs, "n", 5000)


def test_histogram_filtered_and_delete_aware(spark, tmp_path):
    from fsst_spark.jobs.deletes import delete_where

    docs = spark.range(0, 1200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37).cast("long").alias("n"))
    out = str(tmp_path / "store")
    encode_job(spark, docs, out, chunk_bytes=2 << 10, resume=False,
               pre_partitioned=True, unique_col="doc_id").collect()
    got = sorted(((r["bucket"], r["cnt"]) for r in encoded_histogram(
        spark, out, "n", 10, filters=[("doc_id", ">=", 600)]).collect()),
        key=_hist_key)
    assert got == _hist_want(docs.filter("doc_id >= 600"), "n", 10)
    delete_where(spark, out, "doc_id", "<", 300)
    gotd = sorted(((r["bucket"], r["cnt"])
                   for r in encoded_histogram(spark, out, "n", 10).collect()),
                  key=_hist_key)
    assert gotd == _hist_want(docs.filter("doc_id >= 300"), "n", 10)


def test_histogram_guards(spark, strlen_store):
    _, out = strlen_store
    with pytest.raises(ValueError, match="int or timestamp column"):
        encoded_histogram(spark, out, "lang", 10)
    with pytest.raises(ValueError, match="positive"):
        encoded_histogram(spark, out, "doc_id", 0)
    with pytest.raises(KeyError):
        encoded_histogram(spark, out, "nope", 10)


def test_group_stats_matches_dataframe_agg(spark, docs_with_nulls, enc_store):
    got = {r["value"]: r for r in encoded_group_stats(
        spark, enc_store, "lang", "n_chars").collect()}
    exp = {r["value"]: r for r in docs_with_nulls.groupBy(
        F.col("lang").alias("value")).agg(
        F.count("*").alias("n_rows"), F.count("n_chars").alias("n_values"),
        F.sum("n_chars").alias("sum_val"), F.avg("n_chars").alias("avg_val"),
        F.min("n_chars").alias("min_val"),
        F.max("n_chars").alias("max_val")).collect()}
    assert set(got) == set(exp)
    for k in exp:
        for c in ("n_rows", "n_values", "sum_val", "min_val", "max_val"):
            assert got[k][c] == exp[k][c], (k, c)
        if exp[k]["avg_val"] is None:
            assert got[k]["avg_val"] is None
        else:
            assert got[k]["avg_val"] == pytest.approx(exp[k]["avg_val"])


def test_group_stats_filtered_and_guards(spark, docs_with_nulls, enc_store):
    flt = [("doc_id", ">=", 150), ("doc_id", "<", 450)]
    got = {r["value"]: r for r in encoded_group_stats(
        spark, enc_store, "lang", "n_chars", filters=flt).collect()}
    exp = {r["value"]: r for r in docs_with_nulls
           .filter("doc_id >= 150 AND doc_id < 450")
           .groupBy(F.col("lang").alias("value")).agg(
               F.count("*").alias("n_rows"),
               F.sum("n_chars").alias("sum_val"),
               F.min("n_chars").alias("min_val"),
               F.max("n_chars").alias("max_val")).collect()}
    assert set(got) == set(exp)
    for k in exp:
        for c in ("n_rows", "sum_val", "min_val", "max_val"):
            assert got[k][c] == exp[k][c], (k, c)
    with pytest.raises(ValueError, match="int value column"):
        encoded_group_stats(spark, enc_store, "lang", "lang")
    with pytest.raises(KeyError):
        encoded_group_stats(spark, enc_store, "lang", "nope")


def test_histogram_timestamp_hourly(spark, tmp_path):
    ev = spark.range(0, 4000).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") % 31 == 0, F.lit(None)).otherwise(
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + F.col("id") * 7_000_000)).alias("ts"))
    out = str(tmp_path / "store")
    encode_job(spark, ev, out, num_partitions=4, chunk_bytes=8 << 10,
               resume=False, unique_col="event_id", sort_key="ts").collect()
    w = 3_600_000_000  # hourly over timestamp[us] ticks
    got = sorted(((r["bucket"], r["cnt"]) for r in encoded_histogram(
        spark, out, "ts", w).collect()), key=_hist_key)
    want = sorted(((r["bucket"], r["cnt"]) for r in ev.groupBy(
        F.floor(F.unix_micros("ts") / w).cast("long").alias("bucket"))
        .agg(F.count("*").alias("cnt")).collect()), key=_hist_key)
    assert got == want
    assert any(b is None for b, _ in got)


def _topk_want(df, key, val, k):
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.desc("cnt"), F.asc(val))
    return _by_key(
        (r[key], r[val], r["cnt"], r["rank"])
        for r in df.filter(F.col(val).isNotNull())
        .groupBy(key, val).agg(F.count("*").alias("cnt"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k).collect())


def test_group_topk_matches_dataframe(spark, docs_with_nulls, enc_store):
    from fsst_spark.jobs.agg import encoded_group_topk

    got = _by_key(
        (r["value"], r["val"], r["cnt"], r["rank"])
        for r in encoded_group_topk(
            spark, enc_store, "lang", "n_chars", k=3).collect())
    want = _topk_want(docs_with_nulls, "lang", "n_chars", 3)
    assert got == want
    assert any(v is None for v, *_ in got)  # null key forms its own group


def test_group_topk_filtered_and_guards(spark, docs_with_nulls, enc_store):
    from fsst_spark.jobs.agg import encoded_group_topk

    got = _by_key(
        (r["value"], r["val"], r["cnt"], r["rank"])
        for r in encoded_group_topk(
            spark, enc_store, "lang", "n_chars", k=2,
            filters=[("n_chars", ">=", 200)]).collect())
    want = _topk_want(docs_with_nulls.filter("n_chars >= 200"),
                      "lang", "n_chars", 2)
    assert got == want
    with pytest.raises(ValueError, match="positive"):
        encoded_group_topk(spark, enc_store, "lang", "n_chars", k=0)
    with pytest.raises(KeyError):
        encoded_group_topk(spark, enc_store, "lang", "nope")


def test_group_minmax_string_values(spark, tmp_path):
    from fsst_spark.jobs.agg import encoded_group_minmax

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "lang", "source")
            .withColumn("source", F.when(F.col("doc_id") % 11 == 0, None)
                        .otherwise(F.col("source"))))
    out = str(tmp_path / "minmax_store")
    encode_job(spark, docs, out, num_partitions=4, chunk_bytes=32 << 10,
               resume=False, unique_col="doc_id").collect()
    got = _by_key(
        (r["value"], r["min_val"], r["max_val"])
        for r in encoded_group_minmax(spark, out, "lang", "source").collect())
    want = _by_key(
        (r["lang"], r["mn"], r["mx"])
        for r in docs.groupBy("lang")
        .agg(F.min("source").alias("mn"), F.max("source").alias("mx"))
        .collect())
    assert got == want


def test_group_minmax_int_and_filters(spark, docs_with_nulls, enc_store):
    from fsst_spark.jobs.agg import encoded_group_minmax

    flt = [("n_chars", ">=", 300)]
    got = _by_key(
        (r["value"], r["min_val"], r["max_val"])
        for r in encoded_group_minmax(spark, enc_store, "lang", "n_chars",
                                      filters=flt).collect())
    want = _by_key(
        (r["lang"], r["mn"], r["mx"])
        for r in docs_with_nulls.filter("n_chars >= 300").groupBy("lang")
        .agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
        .collect())
    assert got == want
