"""``contains`` (substring) predicate: selective decode, dictionary
pruning (including the concatenated-buffer boundary corner), tri-state
counts, and DataSource StringContains pushdown."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.agg import encoded_count_filtered, encoded_group_count
from fsst_spark.jobs.decode import (
    _dict_probes,
    decode_filtered,
    decode_job,
    decode_plan,
    dict_has_value,
    dict_section,
)
from fsst_spark.jobs.deletes import delete_where
from fsst_spark.jobs.encode import encode_job


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """URL-ish strings plus a dict-codable lang column. lang values are
    chosen so adjacent dictionary entries concatenate into substrings no
    single value contains ("abc"+"def" -> "cd" spans the boundary)."""
    out = str(tmp_path_factory.mktemp("contains") / "store")
    df = (spark.range(0, 20000).withColumnRenamed("id", "doc_id")
          .withColumn("url", F.concat(
              F.lit("com.site"), (F.col("doc_id") % 20).cast("string"),
              F.lit("/"),
              F.when(F.col("doc_id") % 7 == 0, F.lit("special-needle-page"))
              .otherwise(F.lit("plain-page")),
              F.lit("-"), F.col("doc_id").cast("string")))
          .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "abc")
                      .otherwise("def")))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        encode_job(spark, df, out, num_partitions=4, chunk_bytes=16 << 10,
                   resume=False, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    return out, df


def test_contains_decode_exact(spark, store):
    out, df = store
    got = decode_filtered(spark, out, "url", "contains", "needle")
    want = df.filter(F.col("url").contains("needle"))
    assert got.count() == want.count() > 0
    assert (got.select("doc_id").exceptAll(want.select("doc_id")).count()
            == 0)


def test_contains_no_match_dict_prunes_all(spark, store):
    out, df = store
    # no lang dictionary value contains "zz": every dict chunk drops
    n_kept = decode_plan(
        spark, out, ["lang"], [("lang", "contains", "zz")])["chunks_kept"]
    n_all = decode_plan(spark, out, ["lang"])["chunks_kept"]
    assert n_kept < n_all  # dict chunks (the population) all dropped
    assert decode_filtered(spark, out, "lang", "contains", "zz").count() == 0


def test_contains_boundary_spanning_substring_not_matched(spark, store):
    out, df = store
    # "cd" only exists as "abc"+"def" concatenated across dictionary
    # entries — dict pruning must NOT claim a match, and the row
    # predicate must return zero rows
    got = decode_filtered(spark, out, "lang", "contains", "cd")
    assert got.count() == 0
    # and a true within-value substring still matches
    got2 = decode_filtered(spark, out, "lang", "contains", "bc")
    assert got2.count() == df.filter(F.col("lang").contains("bc")).count() > 0


def test_dict_payload_boundary_kernel():
    """dict_has_value: substring spanning two dictionary entries
    is rejected; substring inside one entry is found."""
    import json

    import pyarrow as pa

    from fsst_spark.kernel.codecs import encode_column

    arr = pa.array(["abc", "def"] * 200)
    enc = encode_column(arr)
    assert enc["codec"] == "str_dict"
    params = (json.loads(enc["params"]) if isinstance(enc["params"], str)
              else enc["params"])
    section = dict_section(params, enc["payload"])
    by_len, pfx, sub, sfx = _dict_probes("cd", contains=True)
    assert not dict_has_value(section, by_len, pfx, sub)
    by_len, pfx, sub, sfx = _dict_probes("bc", contains=True)
    assert dict_has_value(section, by_len, pfx, sub)
    by_len, pfx, sub, sfx = _dict_probes("abc", contains=True)
    assert dict_has_value(section, by_len, pfx, sub)
    # suffix mode on the same dictionary: "bc" ends abc, "ab" ends nothing
    by_len, pfx, sub, sfx = _dict_probes("bc", suffix=True)
    assert dict_has_value(section, by_len, pfx, sub, sfx)
    by_len, pfx, sub, sfx = _dict_probes("ab", suffix=True)
    assert not dict_has_value(section, by_len, pfx, sub, sfx)


def test_contains_type_guards(spark, store):
    out, _ = store
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "doc_id", "contains", "12")
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "url", "contains", 12)


def test_count_where_contains_tristate(spark, store):
    out, df = store
    r = encoded_count_filtered(
        spark, out, [("url", "contains", "needle")]).collect()[0]
    assert r["n_rows"] == df.filter(F.col("url").contains("needle")).count()
    # substring predicates are never provable from zones
    assert r["chunks_metadata_only"] == 0, r


def test_contains_conjunction_with_zone_filter(spark, store):
    out, df = store
    got = decode_filtered(spark, out, filters=[
        ("url", "contains", "needle"), ("doc_id", "<", 5000)])
    want = df.filter(F.col("url").contains("needle") & (F.col("doc_id") < 5000))
    assert got.count() == want.count() > 0


def test_source_contains_pushdown(spark, store):
    out, df = store
    from fsst_spark.sources.fsst_source import register

    register(spark)
    back = spark.read.format("fsst").load(out)
    got = back.filter(F.col("url").contains("needle")).select("doc_id")
    want = df.filter(F.col("url").contains("needle")).select("doc_id")
    assert got.exceptAll(want).count() == 0
    assert got.count() == want.count() > 0
    # a dict-prunable miss through the source returns nothing
    assert back.filter(F.col("lang").contains("cd")).count() == 0


class TestSuffix:
    """``suffix`` (endswith) predicate — the third of the substring
    family: exact rows via Spark endswith, dictionary pruning on the
    decoded value tails, StringEndsWith DataSource pushdown."""

    def test_suffix_decode_exact(self, spark, store):
        out, df = store
        got = decode_filtered(spark, out, "url", "suffix", "-77")
        want = df.filter(F.col("url").endswith("-77"))
        assert got.count() == want.count() > 0
        assert (got.select("doc_id").exceptAll(want.select("doc_id"))
                .count() == 0)

    def test_suffix_dict_prunes(self, spark, store):
        out, df = store
        # no lang value ends with 'ab' (values: abc, def): every DICT
        # chunk drops without decoding codes (non-dict stragglers are
        # conservatively kept, same as the contains tests)
        n_kept = decode_plan(spark, out, ["lang"],
                             [("lang", "suffix", "ab")])["chunks_kept"]
        n_all = decode_plan(spark, out, ["lang"])["chunks_kept"]
        assert n_kept < n_all
        assert decode_filtered(spark, out, "lang", "suffix", "ab").count() == 0
        # a real suffix keeps chunks and returns exact rows
        got = decode_filtered(spark, out, "lang", "suffix", "bc")
        assert got.count() == 10000

    def test_suffix_probe_kernel(self):
        by_len, pfx, sub, sfx = _dict_probes("xyz", suffix=True)
        assert sfx == b"xyz" and pfx is None and sub is None

    def test_suffix_type_guard(self, spark, store):
        out, _ = store
        with pytest.raises(TypeError):
            decode_filtered(spark, out, "doc_id", "suffix", "1").count()

    def test_source_endswith_pushdown(self, spark, store):
        out, df = store
        from fsst_spark.sources.fsst_source import register

        register(spark)
        back = spark.read.format("fsst").load(out)
        got = back.filter(F.col("url").endswith("-42")).select("doc_id")
        want = df.filter(F.col("url").endswith("-42")).select("doc_id")
        assert got.exceptAll(want).count() == 0
        assert got.count() == want.count() > 0
        # dict-prunable miss through the source
        assert back.filter(F.col("lang").endswith("zz")).count() == 0

    def test_suffix_group_count(self, spark, store):
        out, df = store
        got = {r["value"]: r["cnt"] for r in encoded_group_count(
            spark, out, "lang", filters=[("url", "suffix", "-77")]).collect()}
        want = {r["lang"]: r["count"] for r in df.filter(
            F.col("url").endswith("-77")).groupBy("lang").count().collect()}
        assert got == want and sum(want.values()) > 0

    def test_suffix_count_filtered(self, spark, store):
        out, df = store
        r = encoded_count_filtered(
            spark, out, [("url", "suffix", "-77")]).collect()[0]
        assert r["n_rows"] == df.filter(F.col("url").endswith("-77")).count() > 0
        # a suffix is never provable from prefix zones
        assert r["chunks_metadata_only"] == 0, r

    def test_suffix_delete(self, spark, tmp_path):
        out = str(tmp_path / "store")
        df = (spark.range(0, 300).withColumnRenamed("id", "doc_id")
              .withColumn("url", F.concat(
                  F.lit("http://x/"), F.col("doc_id").cast("string"),
                  F.when(F.col("doc_id") % 3 == 0, F.lit(".txt"))
                  .otherwise(F.lit(".html")))))
        encode_job(spark, df, out, num_partitions=2, resume=False,
                   unique_col="doc_id").collect()
        assert delete_where(spark, out, "url", "suffix", ".txt")[
            "deleted_now"] == 100
        left = decode_job(spark, out).select("doc_id", "url").collect()
        assert sorted(r["doc_id"] for r in left) == [
            i for i in range(300) if i % 3]
