"""Layout advisor: metadata-only zone-selectivity scores that rank the
store's clustering quality per column and flag cluster-by candidates."""

import os

import pytest

from fsst_spark.jobs.encode import encode_job
from fsst_spark.jobs.stats import advise_layout

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "n_chars")
    )


def _encode(spark, docs, out, **kw):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "32")
    try:
        encode_job(spark, docs, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id", **kw).collect()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


@pytest.fixture(scope="module")
def plain(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("adv_plain"))
    _encode(spark, docs, out)
    return out


@pytest.fixture(scope="module")
def clustered(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("adv_clus"))
    _encode(spark, docs, out, sort_key="n_chars")
    return out


def test_advisor_finds_the_cluster_key(spark, plain, clustered):
    """First row (lowest span fraction) is the column the store is
    actually clustered by; the scattered columns are flagged."""
    p = advise_layout(spark, plain).collect()
    c = advise_layout(spark, clustered).collect()
    assert p[0]["column"] == "doc_id" and p[0]["clustered"]
    assert c[0]["column"] == "n_chars" and c[0]["clustered"]
    by_col = {r["column"]: r for r in c}
    assert not by_col["doc_id"]["clustered"]
    assert by_col["doc_id"]["span_frac_x1000"] > 500
    assert by_col["n_chars"]["est_chunks_scanned_per_point"] \
        < by_col["doc_id"]["est_chunks_scanned_per_point"]


def test_advisor_point_scan_estimate_is_calibrated(spark, docs, clustered):
    """The estimate must track reality: actual chunks surviving a point
    predicate on the clustered column stays within 2x the estimate."""
    from fsst_spark.jobs.decode import decode_plan

    est = {r["column"]: r["est_chunks_scanned_per_point"]
           for r in advise_layout(spark, clustered).collect()}
    med = docs.approxQuantile("n_chars", [0.5], 0)[0]
    survivors = decode_plan(spark, clustered, ["n_chars"],
                            [("n_chars", "==", int(med))])["chunks_kept"]
    assert survivors <= 2 * est["n_chars"] + 1


def test_advisor_plan_reads_no_payload(spark, plain):
    plan = advise_layout(spark, plain)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "payload" not in plan, plan[:800]


def test_advisor_guards(spark, docs, plain, tmp_path):
    from fsst_spark.jobs.deletes import delete_where

    with pytest.raises(KeyError, match="nope"):
        advise_layout(spark, plain, columns=["nope"])
    out = str(tmp_path / "del")
    _encode(spark, docs, out)
    delete_where(spark, out, "lang", "==", "de")
    with pytest.raises(ValueError, match="tombstones"):
        advise_layout(spark, out)
