"""Store compaction: many small chunk files -> few, payloads copied
verbatim (no decode), checksums/zones preserved, decode/verify unchanged."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.compact import compact_store
from fsst_spark.jobs.decode import decode_job
from fsst_spark.jobs.encode import encode_job
from fsst_spark.jobs.verify import roundtrip_summary


@pytest.fixture(scope="module")
def small_file_store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("frag_store"))
    df = (
        spark.range(0, 4000, 1, 16)  # 16 contiguous sorted partitions
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat(F.lit("body number "),
                                     F.col("doc_id").cast("string")))
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    return out


def test_compact_preserves_rows_checksums_and_zones(spark, small_file_store,
                                                    tmp_path):
    n_in = len(glob.glob(os.path.join(small_file_store, "chunks", "*.parquet")))
    assert n_in == 16
    out = str(tmp_path / "compacted")
    metrics = compact_store(spark, small_file_store, out,
                            target_files=3).collect()
    assert len(metrics) == 3
    assert sum(m["n_rows"] for m in metrics) == 4000
    assert len(glob.glob(os.path.join(out, "chunks", "*.parquet"))) == 3

    # bit-identical content through the untouched decode path
    fp = F.sum(F.pmod(F.xxhash64("doc_id", "text"), F.lit(1 << 31)))
    assert decode_job(spark, out).agg(fp).first()[0] == \
        decode_job(spark, small_file_store).agg(fp).first()[0]

    # per-column-chunk checksums were copied verbatim: verify is a true gate
    ver = roundtrip_summary(spark, out).collect()
    assert ver and all(r["all_ok"] for r in ver)

    # zone maps survive: the sorted layout still prunes selectively
    full = decode_job(spark, out).select("pid", "chunk_id").distinct().count()
    sel = decode_job(spark, out, zone_filter=("doc_id", ">=", 3900)) \
        .select("pid", "chunk_id").distinct().count()
    assert full >= 10
    assert sel < full / 2, (sel, full)


def test_compact_guards(spark, small_file_store, tmp_path):
    with pytest.raises(ValueError, match="must differ"):
        compact_store(spark, small_file_store, small_file_store)
    with pytest.raises(FileNotFoundError):
        compact_store(spark, str(tmp_path / "nope"), str(tmp_path / "x"))


def _chunk_rows(store):
    """Every chunk row of ``store`` in (pid, chunk_id, column) order."""
    t = pa.concat_tables(
        [pq.read_table(f) for f in
         sorted(glob.glob(os.path.join(store, "chunks", "*.parquet")))],
        promote_options="default")
    return t.sort_by([("pid", "ascending"), ("chunk_id", "ascending"),
                      ("column", "ascending")])


def test_compact_copies_chunk_rows_in_key_order(spark, small_file_store,
                                                tmp_path):
    out = str(tmp_path / "compacted")
    compact_store(spark, small_file_store, out, target_files=5).collect()
    before, after = _chunk_rows(small_file_store), _chunk_rows(out)
    assert after.column_names == before.column_names
    for name in before.column_names:
        if name not in ("pid", "chunk_id"):
            assert after.column(name).equals(before.column(name)), name
    # each output file holds chunk ids 0..n-1, stored in id order (so an
    # ordered decode stays in (old pid, old chunk_id) order)
    for f in glob.glob(os.path.join(out, "chunks", "*.parquet")):
        cids = pq.read_table(f, columns=["chunk_id"]).column(0).to_pylist()
        assert cids == sorted(cids) and set(cids) == set(range(max(cids) + 1))


def test_compact_mixes_files_without_sketch_columns(spark, small_file_store,
                                                    tmp_path):
    """Chunk files written before the bloom/hll columns existed compact
    together with newer ones: the missing cells read as nulls."""
    import shutil

    src = str(tmp_path / "mixed")
    shutil.copytree(small_file_store, src)
    for f in sorted(glob.glob(os.path.join(src, "chunks", "*.parquet")))[::2]:
        pq.write_table(pq.read_table(f).drop_columns(["bloom", "hll"]), f)
    out = str(tmp_path / "compacted")
    metrics = compact_store(spark, src, out, target_files=3).collect()
    assert sum(m["n_rows"] for m in metrics) == 4000
    assert {"bloom", "hll"} <= set(_chunk_rows(out).column_names)
    fp = F.sum(F.pmod(F.xxhash64("doc_id", "text"), F.lit(1 << 31)))
    assert decode_job(spark, out).agg(fp).first()[0] == \
        decode_job(spark, small_file_store).agg(fp).first()[0]
    ver = roundtrip_summary(spark, out).collect()
    assert ver and all(r["all_ok"] for r in ver)
