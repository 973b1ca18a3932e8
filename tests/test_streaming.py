"""Structured Streaming tests: streaming encode == batch encode."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_job
from fsst_spark.jobs.encode import completed_pids, read_manifest
from fsst_spark.jobs.verify import verify_against_source
from fsst_spark.streaming import encode_stream_job
from fsst_spark.synth.webcorpus import synth_web_df

N1, N2 = 800, 400
COLS = ["url", "warc_ts", "html", "text", "lang"]


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    synth_web_df(spark, N1, seed=11, parallelism=2).write.mode("append").parquet(d)
    return d


def test_streaming_encode_then_incremental(spark, src_dir, tmp_path):
    out = str(tmp_path / "enc")
    ckpt = str(tmp_path / "ckpt")

    q = encode_stream_job(spark, src_dir, out, ckpt, chunk_bytes=1 << 20)
    q.awaitTermination(120)
    assert completed_pids(out), "stream encoded nothing"
    m = read_manifest(spark, out)
    assert m.agg(F.sum("n_rows")).collect()[0][0] == N1

    # decoded output must be bit-identical to the source
    dec = decode_job(spark, out)
    res = verify_against_source(spark.read.parquet(src_dir), dec, columns=COLS)
    assert res["match"], res

    # drop more files; a second availableNow run encodes ONLY the new data
    synth_web_df(spark, N2, seed=12, parallelism=2).write.mode("append").parquet(src_dir)
    done_before = completed_pids(out)
    q2 = encode_stream_job(spark, src_dir, out, ckpt, chunk_bytes=1 << 20)
    q2.awaitTermination(120)
    done_after = completed_pids(out)
    assert done_before < done_after, "incremental run added no partitions"
    assert read_manifest(spark, out).agg(F.sum("n_rows")).collect()[0][0] == N1 + N2

    dec2 = decode_job(spark, out)
    res2 = verify_against_source(spark.read.parquet(src_dir), dec2, columns=COLS)
    assert res2["match"], res2
    # epoch pid ranges are disjoint (exactly-once namespace)
    lin = read_manifest(spark, out).select("pid", "lineage").collect()
    import json
    epochs = {json.loads(r["lineage"]).get("stream_epoch") for r in lin}
    assert len(epochs) >= 2
