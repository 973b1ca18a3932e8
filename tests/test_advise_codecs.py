"""advise_codecs: pre-encode codec/ratio prediction from a sample.

The advisor runs the encoder's own selector on sample data, so on a
homogeneous corpus its predictions must match what a real encode then
does — codec choice per column exactly, ratio within a tolerance that
covers per-partition FSST retraining and per-chunk selection.
"""

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.encode import encode_job, read_manifest
from fsst_spark.jobs.stats import advise_codecs
from tests import REPO_ROOT


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "lang", "text", "n_chars")
    df.persist().count()
    yield df
    df.unpersist()


def test_advise_matches_real_encode(spark, corpus, tmp_path):
    advice = {a["column"]: a for a in advise_codecs(corpus)}
    assert set(advice) == {"doc_id", "lang", "text", "n_chars"}
    out = str(tmp_path / "store")
    encode_job(spark, corpus, out, num_partitions=2, resume=False,
               unique_col="doc_id").collect()
    # real per-column codec + sizes from the chunk table
    rows = (spark.read.parquet(f"{out}/chunks")
            .groupBy("column")
            .agg(F.first("codec").alias("codec"),
                 F.sum("raw_bytes").alias("raw"),
                 F.sum("enc_bytes").alias("enc"))
            .collect())
    real = {r["column"]: r for r in rows}
    for c in advice:
        assert advice[c]["codec"] == real[c]["codec"], c
        want = real[c]["raw"] / max(real[c]["enc"], 1)
        got = advice[c]["predicted_ratio"]
        if got < 100:
            assert abs(got - want) / want < 0.2, (c, got, want)
        else:
            # order-sensitive near-free columns (sequential doc_id under
            # int_delta): the hash repartition scrambles the order the
            # sample saw; the honest claim is "still highly compressible"
            assert want > 5, (c, got, want)


def test_advise_content_keyed_sampling_is_deterministic(corpus):
    a = advise_codecs(corpus, sample_rows=100, key_col="doc_id")
    b = advise_codecs(corpus, sample_rows=100, key_col="doc_id")
    assert a == b
    assert all(x["sample_rows"] <= 200 for x in a)


def test_advise_guards(spark, corpus):
    with pytest.raises(KeyError):
        advise_codecs(corpus, columns=["nope"])
    with pytest.raises(KeyError):
        advise_codecs(corpus, key_col="nope")
    with pytest.raises(ValueError):
        advise_codecs(corpus, sample_rows=0)
    empty = advise_codecs(corpus.limit(0), columns=["text"])
    assert empty[0]["codec"] is None and empty[0]["predicted_ratio"] is None


def test_cli_advise_codecs():
    r = subprocess.run(
        [sys.executable, "-m", "fsst_spark.jobs.cli", "advise-codecs",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--columns", "text,lang", "--sample-rows", "300"],
        capture_output=True, text=True, timeout=600, cwd=REPO_ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    advice = json.loads(r.stdout.strip().splitlines()[-1])
    by = {a["column"]: a for a in advice}
    assert by["text"]["codec"] == "str_fsst"
    assert by["text"]["predicted_ratio"] > 2
    assert by["lang"]["codec"] == "str_dict"
