"""RLIKE (regex) predicate: exact Java-regex row semantics via Spark's
own rlike, plus DICTIONARY chunk pruning when the pattern is safe to
evaluate with Python's engine (re.ASCII alignment, divergent escapes
screened — soundness rule: pruning may never drop a chunk Java would
match)."""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import (_rlike_prunable, decode_filtered,
                                    decode_job, decode_plan)
from fsst_spark.jobs.encode import encode_job
from tests import REPO_ROOT
from tests.plan_checks import run_counting_jobs


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """lang-clustered store with many small chunks: each chunk's
    dictionary holds one language, so a regex that matches no language of
    a chunk prunes it."""
    out = str(tmp_path_factory.mktemp("rlike") / "store")
    df = (
        spark.range(0, 8000).withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("pt")),
            (F.col("doc_id") % 4 + 1).cast("int")))
        .withColumn("txt", F.concat(F.lit("w"), F.col("doc_id") % 100))
        .orderBy("lang", "doc_id").coalesce(4)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    return out


def test_rlike_rows_exact_and_dict_pruned(spark, store):
    got = decode_filtered(spark, store, "lang", "rlike", "^(de|fr)$")
    assert got.count() == 4000
    assert {r["lang"] for r in got.select("lang").distinct().collect()} \
        == {"de", "fr"}
    # the en/pt chunks' dictionaries lack any /^(de|fr)$/ match: pruned
    plan = decode_plan(spark, store, filters=[("lang", "rlike", "^(de|fr)$")])
    assert 0 < plan["chunks_kept"] < plan["chunks_total"]
    # a pattern matching NO language prunes everything
    none = decode_plan(spark, store, filters=[("lang", "rlike", "zz+")])
    assert none["chunks_kept"] == 0


def test_rlike_on_fsst_column_correct_unpruned(spark, store):
    # txt is FSST/plain-coded (high NDV): no dictionary to prune, rows
    # still exact via Spark's Java rlike
    got = decode_filtered(spark, store, "txt", "rlike", "^w1[0-9]$")
    want = decode_job(spark, store).where("txt rlike '^w1[0-9]$'").count()
    assert got.count() == want > 0


def test_unsafe_pattern_skips_pruning_but_stays_exact(spark, store):
    # \\b is alignment-safe under re.ASCII; \\v is NOT (Java vertical-ws
    # class) — the screen must disable pruning yet rows stay exact
    assert _rlike_prunable(r"de\v?") is None
    assert _rlike_prunable(r"\p{Lower}") is None
    assert _rlike_prunable("(unclosed") is None
    assert _rlike_prunable(r"^(de|fr)$") is not None
    got = decode_filtered(spark, store, "lang", "rlike", r"^de\v?$")
    assert got.count() == 2000  # \v? matches empty in Java; rows = de
    plan = decode_plan(spark, store, filters=[("lang", "rlike", r"^de\v?$")])
    assert plan["chunks_kept"] == plan["chunks_total"]  # pruning off


def test_rlike_combines_with_other_filters(spark, store):
    got = decode_filtered(
        spark, store,
        filters=[("lang", "rlike", "^(de|en)$"), ("doc_id", "<", 1000)])
    want = decode_job(spark, store).where(
        "lang rlike '^(de|en)$' AND doc_id < 1000").count()
    assert got.count() == want > 0


def test_rlike_non_string_column_raises(spark, store):
    with pytest.raises(ValueError):
        decode_filtered(spark, store, "doc_id", "rlike", "1+").count()


def test_chunk_local_jobs_reject_rlike_before_any_job(spark, store):
    """Only decode_filtered evaluates Java regex: the jobs that mask rows
    inside their tasks raise on the driver, naming it, and start no job."""
    from fsst_spark.jobs.agg import (encoded_count_filtered,
                                     encoded_group_count, encoded_histogram)
    from fsst_spark.jobs.deletes import delete_where

    f = ("lang", "rlike", "^d")
    calls = [
        lambda: encoded_group_count(spark, store, "lang", filters=[f]),
        lambda: encoded_count_filtered(spark, store, [f]),
        lambda: encoded_histogram(spark, store, "doc_id", 100, filters=[f]),
        lambda: delete_where(spark, store, *f),
    ]
    tracker = spark.sparkContext.statusTracker()
    for i, call in enumerate(calls):
        group = f"rlike-reject-{i}"
        with pytest.raises(ValueError, match="decode_filtered"):
            run_counting_jobs(spark, group, call)
        assert not tracker.getJobIdsForGroup(group)


def test_cli_rlike(spark, store, tmp_path):
    out = str(tmp_path / "dec")
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--where", "lang:rlike:^(de|fr)$", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    import duckdb
    n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{out}/*.parquet') "
                   "WHERE regexp_matches(lang, '^(de|fr)$')").fetchone()[0]
    total = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == total == 4000
