"""Spark jobs per stats, sketch and join-planning call.

Answers that need only chunk metadata and sketches fold the planner's
pyarrow metadata read on the driver, so they (and collecting the local
frames they return) start no Spark job. Answers that need payloads run
file tasks and must not start more jobs than the JVM chunk-table scans
they replaced did."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs import stats
from fsst_spark.jobs.agg import encoded_group_count
from fsst_spark.jobs.encode import encode_job
from fsst_spark.jobs.join import store_join_plan
from tests.plan_checks import run_counting_jobs


def _docs(spark, lo, hi):
    i = F.col("id")
    return spark.range(lo, hi).select(
        i.alias("doc_id"),
        F.when(i % 13 == 0, None).otherwise(i % 501 - 200).alias("n"),
        F.when(i % 11 == 0, None).otherwise(
            F.element_at(F.array(*map(F.lit, ("en", "de", "fr"))),
                         (i % 3 + 1).cast("int"))).alias("lang"),
        F.concat(F.lit("doc "), (i * 31 % 977).cast("string")).alias("text"))


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    out = []
    for lo, hi in ((0, 4000), (3000, 6000)):
        d = str(tmp_path_factory.mktemp("jobs_store"))
        encode_job(spark, _docs(spark, lo, hi), d, num_partitions=4,
                   chunk_bytes=8 << 10, resume=False, unique_col="doc_id",
                   sort_key="doc_id").collect()
        out.append(d)
    return out


# call -> its answer (collected when it is a DataFrame)
METADATA_ONLY = {
    "encoded_column_stats": lambda sp, a, b: stats.encoded_column_stats(
        sp, a, ["doc_id", "n"]).collect(),
    "stores_column_stats": lambda sp, a, b: stats.stores_column_stats(
        sp, [a, b], ["doc_id", "n"]).collect(),
    "encoded_profile": lambda sp, a, b: stats.encoded_profile(sp, a).collect(),
    "advise_layout": lambda sp, a, b: stats.advise_layout(sp, a).collect(),
    "encoded_ndv": lambda sp, a, b: stats.encoded_ndv(sp, a, ["lang", "n"]),
    "stores_ndv": lambda sp, a, b: stats.stores_ndv(sp, [a, b], ["lang"]),
    "encoded_quantiles": lambda sp, a, b: stats.encoded_quantiles(
        sp, a, "n", [0.1, 0.5, 0.9]).collect(),
    "encoded_column_sum": lambda sp, a, b: stats.encoded_column_sum(
        sp, a, "doc_id"),  # null-free: every chunk has a stored sum
    "encoded_column_minmax": lambda sp, a, b: stats.encoded_column_minmax(
        sp, a, "n"),  # int zones are exact
    "store_join_plan": lambda sp, a, b: store_join_plan(sp, a, b, "doc_id"),
    # building the frame runs the threshold scan / observer counts
    "encoded_topk(build)": lambda sp, a, b: stats.encoded_topk(
        sp, a, "n", 10, observer={}),
    "encoded_distinct(build)": lambda sp, a, b: stats.encoded_distinct(
        sp, a, "lang", observer={}),
}

# call -> (jobs the JVM chunk-table scan it replaced started, its answer)
PAYLOAD = {
    # its per-chunk partials fold on the driver: one job, not the scan's 5
    "encoded_strlen_stats": (1, lambda sp, a: stats.encoded_strlen_stats(
        sp, a, ["text", "lang"]).collect()),
    "encoded_topk": (3, lambda sp, a: stats.encoded_topk(
        sp, a, "n", 10, observer={}).collect()),
    "encoded_distinct": (3, lambda sp, a: stats.encoded_distinct(
        sp, a, "lang", observer={}).collect()),
    "encoded_group_count": (3, lambda sp, a: encoded_group_count(
        sp, a, "lang").collect()),
    "encoded_column_sum": (3, lambda sp, a: stats.encoded_column_sum(
        sp, a, "n")),  # null-bearing chunks decode
}


@pytest.mark.parametrize("call", sorted(METADATA_ONLY))
def test_metadata_only_call_starts_no_job(spark, stores, call):
    a, b = stores
    out, n_jobs = run_counting_jobs(
        spark, f"meta-{call}", lambda: METADATA_ONLY[call](spark, a, b))
    assert out is not None
    assert n_jobs == 0, (call, n_jobs)


@pytest.mark.parametrize("call", sorted(PAYLOAD))
def test_payload_call_starts_no_more_jobs(spark, stores, call):
    bound, fn = PAYLOAD[call]
    out, n_jobs = run_counting_jobs(spark, f"payload-{call}",
                                    lambda: fn(spark, stores[0]))
    assert out
    assert 1 <= n_jobs <= bound, (call, n_jobs)
