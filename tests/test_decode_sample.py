"""decode_sample: uniform deterministic two-stage store sampling.

Pins the three claims: the sample's IO is a small subset of the store's
chunks, the survivor SET is deterministic across re-runs, and the count
lands near the target with roughly uniform coverage of the key range.
"""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

import fsst_spark.jobs.decode as decode_mod
from fsst_spark.jobs.decode import decode_plan, decode_sample
from fsst_spark.jobs.encode import encode_job
from tests import REPO_ROOT
from tests.plan_checks import run_counting_jobs


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sample") / "store")
    df = (spark.range(0, 20000).withColumnRenamed("id", "doc_id")
          .withColumn("txt", F.concat(F.lit("body-"), F.col("doc_id"))))
    # 32 partitions -> 32 chunks (a test partition arrives as one Arrow
    # batch), so chunk-stage selection has real granularity to skip IO
    encode_job(spark, df, out, num_partitions=32, chunk_bytes=8 << 10,
               resume=False, unique_col="doc_id",
               sort_key="doc_id").collect()
    return out


def test_sample_count_determinism_and_io(spark, store):
    got = decode_sample(spark, store, 500, "doc_id")
    rows = got.collect()
    ids = sorted(r["doc_id"] for r in rows)
    # E[rows]=500, binomial: a generous 5-sigma band
    assert 350 < len(ids) < 650, len(ids)
    # deterministic survivor set
    again = sorted(r["doc_id"] for r in
                   decode_sample(spark, store, 500, "doc_id").collect())
    assert ids == again
    # IO: decoded chunks are a small subset of the store's 32
    n_chunks_read = got.select("pid", "chunk_id").distinct().count()
    total = decode_plan(spark, store)["chunks_total"]
    assert n_chunks_read <= total / 4, (n_chunks_read, total)
    # every sampled row is a real store row
    assert all(0 <= i < 20000 for i in ids)


def test_sample_target_above_store_is_full_decode(spark, store):
    got = decode_sample(spark, store, 10 ** 6, "doc_id")
    assert got.count() == 20000


def test_sample_column_subset_drops_key(spark, store):
    got = decode_sample(spark, store, 300, "doc_id", columns=["txt"])
    assert "doc_id" not in got.drop("pid", "chunk_id").columns
    assert got.count() > 100


def test_sample_guards(spark, store):
    with pytest.raises(KeyError):
        decode_sample(spark, store, 100, "nope")
    with pytest.raises(KeyError):
        decode_sample(spark, store, 100, "doc_id", columns=["nope"])
    with pytest.raises(ValueError):
        decode_sample(spark, store, 0, "doc_id")


def _spark_sample_keys(spark, store, target_rows, key_col, salt):
    """The chunk keys of a sample as Spark's md5 expression selects them:
    the threshold-doubling loop run as aggregates over the chunk rows."""
    meta = (spark.read.parquet(f"{store}/chunks")
            .where(F.col("column") == key_col)
            .select("pid", "chunk_id", "n_rows"))
    rows_total = meta.agg(F.sum("n_rows")).collect()[0][0]
    chunk_hash = F.substring(F.md5(F.concat_ws(
        ":", F.col("pid"), F.col("chunk_id"), F.lit(salt))), 1, 8)
    frac = min(1.0, 1.5 * target_rows / rows_total)
    while True:
        thr = format(min(int(frac * (1 << 32)), 0xffffffff), "08x")
        sel = meta.where(chunk_hash < F.lit(thr))
        got = sel.agg(F.sum("n_rows")).collect()[0][0] or 0
        if got >= target_rows:
            return sorted((r["pid"], r["chunk_id"]) for r in sel.collect())
        frac *= 2


@pytest.mark.parametrize("target,salt", [(500, "sample"), (3000, "other"),
                                         (50, "s\u00e4lt")])
def test_sample_plans_chunks_on_the_driver(spark, store, monkeypatch,
                                           target, salt):
    """Chunk selection reads the planner's metadata (no Spark job before
    the sample is acted on) and keeps exactly the chunks Spark's
    ``md5(concat_ws(":", pid, chunk_id, salt))`` threshold keeps."""
    planned = {}
    real = decode_mod.decode_job

    def recording(*args, **kwargs):
        planned["keys"] = kwargs.get("_chunk_keys")
        return real(*args, **kwargs)

    monkeypatch.setattr(decode_mod, "decode_job", recording)
    df, n_jobs = run_counting_jobs(
        spark, f"sample-{target}",
        lambda: decode_sample(spark, store, target, "doc_id", salt=salt))
    assert n_jobs == 0
    want = _spark_sample_keys(spark, store, target, "doc_id", salt)
    assert sorted(map(tuple, planned["keys"])) == want
    assert {(r["pid"], r["chunk_id"]) for r in
            df.select("pid", "chunk_id").distinct().collect()} <= set(want)


def test_cli_sample(store, tmp_path):
    out = str(tmp_path / "decoded")
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--sample", "400", "--sample-key", "doc_id",
         "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    assert json.loads(r.stdout.strip().splitlines()[-1])["decoded_to"] == out
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert 250 < n < 550, n
    bad = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "decode",
         "--data", store, "--sample", "400", "--out", out],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert bad.returncode != 0 and "--sample-key" in (bad.stderr + bad.stdout)
