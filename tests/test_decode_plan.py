"""decode_plan: the metadata-only EXPLAIN for selective decode.

Pins the contract that the plan's numbers are the REAL scan's numbers:
``chunks_kept`` equals the pruned-chunk survivor count the decode would
read, ``rows_bound`` bounds (and with chunk-granular slack, tracks) the
exact result, and ``scan_fraction`` on a clustered store is small for a
selective predicate and 1.0 with no filters.
"""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_filtered, decode_plan
from fsst_spark.jobs.encode import encode_job
from tests import REPO_ROOT


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plan") / "store")
    df = (spark.range(0, 20000).withColumnRenamed("id", "doc_id")
          .withColumn("lang", F.element_at(
              F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("pt")),
              (F.col("doc_id") % 4 + 1).cast("int")))
          .withColumn("txt", F.concat(F.lit("body-"), F.col("doc_id"))))
    encode_job(spark, df, out, num_partitions=4, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id",
               sort_key="doc_id").collect()
    return out


def test_plan_matches_real_decode(spark, store):
    flt = [("doc_id", ">=", 1000), ("doc_id", "<", 2000)]
    plan = decode_plan(spark, store, filters=flt)
    got = decode_filtered(spark, store, filters=flt)
    rows = got.count()
    read_chunks = got.select("pid", "chunk_id").distinct().count()
    # the plan's kept set IS the real decode's scan set
    assert plan["chunks_kept"] >= read_chunks  # decode may drop empty chunks
    assert plan["chunks_kept"] < plan["chunks_total"]
    assert plan["chunks_after_zones"] == plan["chunks_kept"]  # int filter
    assert rows == 1000
    assert plan["rows_bound"] >= rows
    # clustered on doc_id: a 5% predicate reads a small fraction
    assert plan["scan_fraction"] < 0.35, plan
    assert plan["enc_bytes_to_read"] <= plan["enc_bytes_total"]
    assert plan["has_deletes"] is False


def test_plan_no_filters_is_full_scan(spark, store):
    plan = decode_plan(spark, store)
    assert plan["chunks_kept"] == plan["chunks_total"] > 0
    assert plan["rows_bound"] == plan["rows_total"] == 20000
    assert plan["scan_fraction"] == 1.0


def test_plan_dict_stage_and_or_branch(spark, store):
    # lang is dict-coded and unclustered: zones keep everything, the dict
    # stage can only help on a value absent from some chunk's dictionary —
    # a NONEXISTENT value must prune to zero via dict/bloom
    plan = decode_plan(spark, store, filters=[("lang", "==", "zz")])
    assert plan["chunks_kept"] == 0 and plan["rows_bound"] == 0
    assert plan["scan_fraction"] == 0.0
    # OR of two disjoint ranges keeps the union of the branch keep-sets
    p_or = decode_plan(spark, store, any_filters=[
        ("doc_id", "<", 500), ("doc_id", ">=", 19500)])
    assert 0 < p_or["chunks_kept"] < p_or["chunks_total"]
    assert p_or["rows_bound"] >= 1000


def test_plan_column_subset_counts_filter_column(spark, store):
    # filter col outside columns= still scans (the row predicate needs it)
    plan = decode_plan(spark, store, columns=["txt"],
                       filters=[("doc_id", "<", 100)])
    assert sorted(plan["columns"]) == ["doc_id", "txt"]
    full = decode_plan(spark, store, filters=[("doc_id", "<", 100)])
    assert plan["enc_bytes_to_read"] < full["enc_bytes_to_read"]


def test_plan_unknown_column_raises(spark, store):
    with pytest.raises(KeyError):
        decode_plan(spark, store, filters=[("nope", "==", 1)])
    with pytest.raises(KeyError):
        decode_plan(spark, store, columns=["nope"])


@pytest.fixture(scope="module")
def family(spark, tmp_path_factory):
    """Two daily shards: disjoint doc_id ranges; only shard b has `score`."""
    base = tmp_path_factory.mktemp("family")
    a, b = str(base / "a"), str(base / "b")
    da = (spark.range(0, 5000).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("a-"), F.col("doc_id"))))
    db = (spark.range(5000, 10000).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("b-"), F.col("doc_id")))
          .withColumn("score", (F.col("doc_id") % 100).cast("int")))
    for df, out in ((da, a), (db, b)):
        encode_job(spark, df, out, num_partitions=2, chunk_bytes=8 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="doc_id").collect()
    return a, b


def test_family_plan_whole_store_skip(spark, family):
    from fsst_spark.jobs.decode import decode_stores, decode_stores_plan

    a, b = family
    # conjunct on `score` (absent from shard a): shard a skips entirely
    plan = decode_stores_plan(spark, [a, b], filters=[("score", "<", 10)])
    assert plan["stores_scanned"] == 1
    assert plan["stores_skipped"] == [
        {"store": a, "reason": "conjunct on absent column"}]
    got = decode_stores(spark, [a, b], filters=[("score", "<", 10)]).count()
    assert 0 < got <= plan["rows_bound"]
    # shard a's bytes never enter the denominator question? they DO for an
    # unprojected read: denominator is family-wide
    assert plan["enc_bytes_family"] > plan["enc_bytes_to_read"]


def test_family_plan_zone_range_prunes_one_shard(spark, family):
    from fsst_spark.jobs.decode import decode_stores_plan

    a, b = family
    # doc_id < 100 lives wholly in shard a: shard b scans 0 chunks
    plan = decode_stores_plan(spark, [a, b],
                              filters=[("doc_id", "<", 100)])
    assert plan["stores_scanned"] == 2 and not plan["stores_skipped"]
    per = {p["store"]: p for p in plan["per_store"]}
    assert per[b]["chunks_kept"] == 0
    assert per[a]["chunks_kept"] > 0
    assert plan["rows_bound"] >= 100
    assert plan["scan_fraction"] < 0.5


def test_family_plan_projection_skip(spark, family):
    from fsst_spark.jobs.decode import decode_stores_plan

    a, b = family
    plan = decode_stores_plan(spark, [a, b], columns=["score"])
    assert plan["stores_scanned"] == 1
    assert plan["stores_skipped"][0]["reason"] == "no projected column"


def test_cli_family_plan_only(family):
    a, b = family
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", f"{a},{b}", "--where", "doc_id:<:100", "--plan-only"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    plan = json.loads(r.stdout.strip().splitlines()[-1])
    assert plan["stores"] == 2 and plan["chunks_kept"] > 0


def test_cli_plan_only(store):
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--where", "doc_id:<:1000", "--plan-only"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    plan = json.loads(r.stdout.strip().splitlines()[-1])
    assert plan["chunks_kept"] < plan["chunks_total"]
    assert plan["filters"] == [["doc_id", "<", 1000]]


def test_cli_decode_without_out_or_plan_fails(store):
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode != 0
    assert "--out" in (r.stderr + r.stdout)
