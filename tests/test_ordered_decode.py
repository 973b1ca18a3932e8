"""Ordered decode: global (pid, chunk_id, row) order from a range
partition of chunk METADATA — no row-level sort anywhere in the plan.

On a store clustered by sort_key the output is cluster-key order, so the
tests pin: collected rows arrive exactly sorted, content is identical to
the unordered decode, and the physical plan contains no Sort over the
decoded rows (only the chunk-metadata in-partition sort).
"""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_job
from fsst_spark.jobs.encode import encode_job
from tests import REPO_ROOT


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ord") / "store")
    df = (spark.range(0, 12000).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("b-"), F.col("doc_id"))))
    # shuffle the input so clustering is the encode's doing, not luck
    encode_job(spark, df.orderBy(F.md5(F.col("doc_id").cast("string"))),
               out, num_partitions=8, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id",
               sort_key="doc_id").collect()
    return out


def test_ordered_decode_is_globally_sorted(spark, store):
    got = decode_job(spark, store)
    ids = [r["doc_id"] for r in got.collect()]  # partition-concat order
    assert ids == sorted(ids)
    assert len(ids) == 12000
    # content identical to the unordered decode
    plain = decode_job(spark, store)
    assert sorted(r["txt"] for r in plain.select("txt").collect()) == \
        sorted(r["txt"] for r in got.select("txt").collect())


def test_ordered_decode_with_unmaterialized_added_column(spark, tmp_path):
    """Chunks written before a schema-log ADD COLUMN keep their place in
    (pid, chunk_id) order when a task's run of files spans the add: 9
    files before the add, 15 after, read by several multi-file tasks."""
    from fsst_spark.jobs.schema import add_column

    out = str(tmp_path / "store")
    df = (spark.range(0, 2400).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("b-"), F.col("doc_id"))))
    encode_job(spark, df.where("doc_id < 900"), out, num_partitions=9,
               resume=False, unique_col="doc_id", sort_key="doc_id").collect()
    add_column(out, "q", "double")
    encode_job(spark, df.where("doc_id >= 900")
               .withColumn("q", F.col("doc_id").cast("double")), out,
               num_partitions=15, pid_offset=9, resume=False,
               unique_col="doc_id", sort_key="doc_id").collect()

    got = decode_job(spark, out)
    assert 1 < got.rdd.getNumPartitions() < 24
    rows = got.collect()  # partition-concat order
    keys = list(dict.fromkeys((r["pid"], r["chunk_id"]) for r in rows))
    assert keys == sorted(keys) and len(keys) == 24
    assert [r["doc_id"] for r in rows] == list(range(2400))
    assert all((r["q"] is None) == (r["doc_id"] < 900) for r in rows)


def test_no_row_level_sort_in_plan(spark, store):
    plan = decode_job(spark, store) \
        ._jdf.queryExecution().executedPlan().toString()
    # the only Sort allowed is the chunk-METADATA in-partition sort that
    # runs BELOW the decode (over pid/chunk_id/payload rows); no sort may
    # consume the decoded output (it would be a row-scale shuffle at 100TB)
    decode_op = "MapInArrow"
    assert decode_op in plan
    above_decode = plan.split(decode_op)[0]
    assert "Sort" not in above_decode, above_decode


def test_cli_ordered_export(spark, store, tmp_path):
    out = str(tmp_path / "sorted")
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--ordered", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    # parquet part files concatenate in name order == partition order:
    # the exported dataset is globally sorted on disk
    ids = [x[0] for x in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out}/part-*.parquet', "
        "filename=false)").fetchall()]
    assert ids == sorted(ids) and len(ids) == 12000
    bad = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--ordered", "--where", "doc_id:<:10",
         "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert bad.returncode != 0
