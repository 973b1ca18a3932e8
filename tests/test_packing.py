"""Scalable global cumsum (``jobs.stats.global_cumsum``, the prefix sum
behind ``encoded_quantiles``): boundary-independent, equal to a
single-window plan."""

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from fsst_spark.jobs.stats import global_cumsum

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "n_chars"))


def test_global_cumsum_matches_single_window(spark, docs):
    """The sharded prefix sum equals the one-task global window bit-for-bit,
    at two different shard counts (boundary independence)."""
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r["doc_id"]: r["cb"]
        for r in docs.withColumn(
            "cb", F.coalesce(F.sum("n_chars").over(w), F.lit(0))).collect()
    }
    for shards in (3, 16):
        got = {
            r["doc_id"]: r["cum_before"]
            for r in global_cumsum(docs, "n_chars", "doc_id", shards).collect()
        }
        assert got == want, f"shards={shards}"
