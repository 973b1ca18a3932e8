"""store_join_df: encoded store joined against a plain DataFrame.

Correctness is pinned against the same joins computed on the raw frame;
scan pruning itself is decode_filtered's IN-list path, already pinned by
the zone/dict/bloom suites — here we pin that every join type agrees
with vanilla Spark semantics and that the guards hold.
"""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.encode import encode_job
from fsst_spark.jobs.join import store_join_df
from tests import REPO_ROOT


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sjdf") / "store")
    raw = (spark.range(0, 8000).withColumnRenamed("id", "doc_id")
           .withColumn("lang", F.element_at(
               F.array(F.lit("de"), F.lit("en"), F.lit("fr")),
               (F.col("doc_id") % 3 + 1).cast("int")))
           .withColumn("txt", F.concat(F.lit("b-"), F.col("doc_id"))))
    raw.persist().count()
    encode_job(spark, raw, out, num_partitions=8, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id",
               sort_key="doc_id").collect()
    batch = (spark.range(0, 200).select(
        (F.col("id") * 40).alias("doc_id"),
        F.concat(F.lit("p-"), F.col("id")).alias("payload")))
    yield out, raw, batch
    raw.unpersist()


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_inner_join_matches_vanilla(spark, setup):
    out, raw, batch = setup
    got = store_join_df(spark, out, batch, "doc_id")
    want = raw.join(batch, "doc_id", "inner")
    assert _ids(got) == _ids(want)
    assert set(got.columns) == {"doc_id", "lang", "txt", "payload"}
    # payload came through the join
    row = got.where("doc_id = 40").collect()[0]
    assert row["payload"] == "p-1" and row["txt"] == "b-40"


def test_left_join_keeps_all_store_rows(spark, setup):
    out, raw, batch = setup
    got = store_join_df(spark, out, batch, "doc_id", how="left")
    assert got.count() == 8000
    assert got.where("payload IS NULL").count() == 8000 - 200


def test_semi_and_anti(spark, setup):
    out, raw, batch = setup
    semi = store_join_df(spark, out, batch, "doc_id", how="left_semi")
    anti = store_join_df(spark, out, batch, "doc_id", how="left_anti")
    assert semi.count() == 200 and anti.count() == 7800
    assert set(semi.columns) == {"doc_id", "lang", "txt"}
    assert set(_ids(semi)) | set(_ids(anti)) == set(range(8000))


def test_composite_key(spark, setup):
    out, raw, _ = setup
    probe = raw.where("doc_id < 90").select("doc_id", "lang") \
        .withColumn("extra", F.lit("x"))
    got = store_join_df(spark, out, probe, ["doc_id", "lang"])
    want = raw.join(probe, ["doc_id", "lang"], "inner")
    assert got.count() == want.count() == 90


def test_cap_fallback_still_correct(spark, setup):
    out, raw, batch = setup
    got = store_join_df(spark, out, batch, "doc_id",
                        max_pushdown_keys=10)  # force unpruned path
    want = raw.join(batch, "doc_id", "inner")
    assert _ids(got) == _ids(want)


def test_guards(spark, setup):
    out, raw, batch = setup
    with pytest.raises(KeyError):
        store_join_df(spark, out, batch, "nope")
    with pytest.raises(KeyError):
        store_join_df(spark, out, batch.drop("doc_id"), "doc_id")
    with pytest.raises(ValueError):
        store_join_df(spark, out, batch, "doc_id", how="full")
    clash = batch.withColumn("txt", F.lit("boom"))
    with pytest.raises(ValueError):
        store_join_df(spark, out, clash, "doc_id")


def test_cli_join_right_parquet(spark, setup, tmp_path):
    import json
    import subprocess
    import sys

    out_store, raw, batch = setup
    probe_path = str(tmp_path / "probe")
    batch.write.mode("overwrite").parquet(probe_path)
    out = str(tmp_path / "joined")
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "join",
         "--left", out_store, "--right-parquet", probe_path,
         "--on", "doc_id", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["rows"] == 200
    # exactly one right side must be given
    bad = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "join",
         "--left", out_store, "--on", "doc_id", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert bad.returncode != 0


def test_empty_probe(spark, setup):
    out, raw, batch = setup
    got = store_join_df(spark, out, batch.where("doc_id < 0"), "doc_id")
    assert got.count() == 0
