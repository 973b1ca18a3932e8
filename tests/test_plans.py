"""Physical-plan assertions: the operators must produce the plans we'd
want at 100 TB — filters pushed into scans or planned from metadata,
columns pruned, small sides broadcast, no accidental shuffles."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.compact import compact_store
from fsst_spark.jobs.decode import decode_job, decode_plan
from fsst_spark.jobs.encode import encode_job, salted_repartition
from fsst_spark.synth.webcorpus import synth_web_df
from tests.plan_checks import (assert_file_granular_plan,
                               assert_no_chunk_row_shuffle,
                               payload_read_filters, run_counting_jobs)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("plans_enc"))
    corpus = synth_web_df(spark, 800, parallelism=2)
    encode_job(spark, corpus, out, num_partitions=3, chunk_bytes=1 << 20).collect()
    return out


def test_filtered_decode_plans_payload_free(spark, encoded, parquet_reads):
    # PRUNED decodes are planned on the driver from chunk metadata and run
    # as file tasks: no JVM chunk scan, no Exchange. The only payload cells
    # planning may read are the filter column's dict-coded rows.
    dec = decode_job(spark, encoded, columns=["lang"],
                     zone_filter=("lang", "==", "en"))
    assert_file_granular_plan(dec)
    assert all(f == [("column", "==", "lang"), ("codec", "==", "str_dict")]
               for f in payload_read_filters(parquet_reads)), parquet_reads
    # the column restriction reaches the plan: it counts lang's bytes only
    lang_bytes = sum(
        b for f in glob.glob(f"{encoded}/chunks/*.parquet")
        for c, b in zip(*pq.read_table(f, columns=["column", "enc_bytes"])
                        .to_pydict().values()) if c == "lang")
    plan = decode_plan(spark, encoded, columns=["lang"],
                       filters=[("lang", "==", "en")])
    assert plan["enc_bytes_total"] == lang_bytes


def test_decode_scan_prunes_payload_metadata(spark, encoded):
    # an UNFILTERED decode takes the file-granular path: no JVM chunk
    # scan, no Exchange of payload rows at all — tasks read their own
    # chunk file with pyarrow (column projection applied pyarrow-side)
    for dec in (decode_job(spark, encoded),
                decode_job(spark, encoded, columns=["lang"])):
        plan = _plan(dec)
        assert "read_files" in plan, plan
        assert "Exchange" not in plan, plan
        assert "payload" not in plan, plan


def test_salted_repartition_broadcasts_bucket_map(spark):
    corpus = synth_web_df(spark, 600, parallelism=2)
    part = salted_repartition(corpus, 4, group_cols=["lang"], unique_col="url",
                              target_bytes_per_partition=1 << 20, size_col="text")
    plan = _plan(part)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_roundtrip_query_prunes_columns(spark):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    flags = roundtrip_flags(df, "text", keep_cols=["lang"])
    plan = _plan(flags)
    first_line = plan[plan.index("FileScan"):].split("\n")[0]
    read_schema = first_line.split("ReadSchema")[-1]
    assert "text" in read_schema and "lang" in read_schema
    assert "doc_id" not in read_schema and "source" not in read_schema, read_schema


def test_minhash_shuffles_only_narrow_keys(spark):
    """The LSH band join must never hash-partition (shuffle) by text —
    only (band, bucket, id) rows move."""
    from fsst_spark.pipeline.dedup import minhash_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_candidates(docs, "text", "doc_id", n_hashes=32, bands=8)
    plan = _plan(pairs)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line
    assert "Exchange hashpartitioning" in plan  # the band join does shuffle


def test_pre_partitioned_encode_has_no_shuffle(spark, tmp_path):
    corpus = synth_web_df(spark, 400, parallelism=2)
    out = str(tmp_path / "npenc")
    metrics = encode_job(spark, corpus, out, chunk_bytes=1 << 20, pre_partitioned=True)
    plan = _plan(metrics)
    assert "Exchange" not in plan, plan


def test_minhash_estimate_signature_udf_runs_once(spark):
    """estimate=True references the signature frame 3x (bands + both join
    sides); the operator must persist it so the expensive pandas-UDF pass
    runs once — visible as InMemoryTableScan reuse in the plan."""
    from fsst_spark.pipeline.dedup import minhash_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_candidates(docs, "text", "doc_id", n_hashes=32, bands=8,
                                   estimate=True)
    plan = _plan(pairs)
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_connected_components_shuffles_only_narrow_keys(spark):
    """Label propagation moves only (long, long) rows — never text."""
    from fsst_spark.pipeline.dedup import connected_components, neardup_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
    pairs = (fp.alias("a").join(fp.alias("b"),
             (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")))
    surv = neardup_dedup(docs, pairs=pairs)
    plan = _plan(surv)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_gopher_flags_stay_jvm_side(spark):
    """The Gopher quality rules must compile to pure JVM expressions —
    no Python/Arrow UDF stage anywhere in the plan."""
    from fsst_spark.pipeline.textstats import gopher_quality_flags

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(gopher_quality_flags(df))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # only doc_id + text should reach the scan
    first_line = plan[plan.index("FileScan"):].split("\n")[0]
    read_schema = first_line.split("ReadSchema")[-1]
    assert "text" in read_schema and "source" not in read_schema, read_schema


def test_group_count_scan_pushes_column_filter(spark, encoded):
    """encoded_group_count reads ONLY the target column's chunks: file
    tasks through the one chunk reader, no JVM scan of the chunk table and
    no chunk-row shuffle (the NDV-scale groupBy Exchange is fine)."""
    from fsst_spark.jobs.agg import encoded_group_count

    df = encoded_group_count(spark, encoded, "lang")
    assert_no_chunk_row_shuffle(df)
    plan = _plan(df)
    assert not any("chunks" in line for line in plan.split("\n")
                   if "FileScan" in line), plan


def test_compact_store_copies_files_in_one_job(spark, encoded, tmp_path):
    # file tasks read whole chunk files with pyarrow: no JVM scan of
    # chunks/, no shuffle, and one Spark job
    out = str(tmp_path / "compacted")
    job = compact_store(spark, encoded, out, target_files=2)
    plan = _plan(job)
    assert "MapInArrow" in plan, plan
    assert "Exchange" not in plan and "FileScan" not in plan, plan
    rows, jobs = run_counting_jobs(spark, "compact_store", job.collect)
    assert len(rows) == 2 and jobs == 1
