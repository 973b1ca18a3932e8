"""Row-level deletes (position tombstones, merge-on-read): delete_where
scans only candidate chunks, decode paths apply tombstones, metadata
fast paths refuse until materialize_deletes folds them in."""

import os

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_filtered, decode_job
from fsst_spark.jobs.deletes import (
    delete_where,
    deleted_count,
    has_deletes,
    materialize_deletes,
)
from fsst_spark.jobs.encode import encode_job

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars")
    )


@pytest.fixture()
def store(spark, docs, tmp_path):
    out = str(tmp_path / "store")
    encode_job(spark, docs, out, chunk_bytes=4 << 10, resume=False,
               pre_partitioned=False, num_partitions=4,
               unique_col="doc_id").collect()
    return out


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_delete_then_decode_excludes_rows(spark, docs, store):
    n_de = docs.where("lang = 'de'").count()
    res = delete_where(spark, store, "lang", "==", "de")
    assert res["deleted_now"] == n_de
    assert res["deleted_total"] == n_de
    assert has_deletes(store)
    dec = decode_job(spark, store)
    assert _ids(dec) == _ids(docs.where("lang <> 'de'"))
    # values of survivors stay bit-identical
    a = (dec.drop("pid", "chunk_id").select(*sorted(docs.columns))
         .orderBy("doc_id").collect())
    b = (docs.where("lang <> 'de'").select(*sorted(docs.columns))
         .orderBy("doc_id").collect())
    assert a == b


def test_delete_composes_with_selective_decode(spark, docs, store):
    delete_where(spark, store, "lang", "==", "de")
    got = decode_filtered(spark, store, "n_chars", ">=", 500)
    want = docs.where("lang <> 'de' AND n_chars >= 500")
    assert _ids(got) == _ids(want)


def test_delete_is_idempotent_and_accumulates(spark, docs, store):
    first = delete_where(spark, store, "lang", "==", "de")
    again = delete_where(spark, store, "lang", "==", "de")
    assert again["deleted_now"] == 0
    assert again["deleted_total"] == first["deleted_total"]
    more = delete_where(spark, store, "lang", "==", "fr")
    assert more["deleted_now"] == docs.where("lang = 'fr'").count()
    assert more["deleted_total"] == deleted_count(store)
    dec = decode_job(spark, store)
    assert _ids(dec) == _ids(docs.where("lang NOT IN ('de', 'fr')"))


def test_delete_disjunction(spark, docs, store):
    delete_where(spark, store,
                 any_filters=[("lang", "==", "de"), ("n_chars", "<", 200)])
    want = docs.where("NOT (lang = 'de' OR n_chars < 200)")
    assert _ids(decode_job(spark, store)) == _ids(want)


def test_delete_everything(spark, docs, store):
    res = delete_where(spark, store, "doc_id", ">=", 0)
    assert res["deleted_now"] == docs.count()
    assert decode_job(spark, store).count() == 0


def test_fsst_source_read_applies_tombstones(spark, docs, store):
    from fsst_spark.sources.fsst_source import register

    register(spark)
    delete_where(spark, store, "lang", "==", "de")
    back = spark.read.format("fsst").load(store)
    assert back.count() == docs.where("lang <> 'de'").count()
    assert (back.agg(F.sum("doc_id")).collect()
            == docs.where("lang <> 'de'").agg(F.sum("doc_id")).collect())


def test_metadata_fast_paths_refuse(spark, docs, store):
    from fsst_spark.jobs.compact import compact_store
    from fsst_spark.jobs.stats import encoded_column_stats, encoded_topk

    delete_where(spark, store, "lang", "==", "de")
    for call in [
        lambda: encoded_column_stats(spark, store, ["doc_id"]),
        lambda: encoded_topk(spark, store, "n_chars", 3),
        lambda: compact_store(spark, store, store + "_c"),
    ]:
        with pytest.raises(ValueError, match="tombstones"):
            call()


def test_group_by_pushdowns_are_delete_aware(spark, docs, store):
    """GROUP BY count/sum stay exact under tombstones: tombstone-free
    chunks keep the codec-structural fast path, tombstoned chunks drop
    the deleted positions chunk-locally (all three paths: unfiltered
    count, unfiltered sum, filtered)."""
    from fsst_spark.jobs.agg import encoded_group_count, encoded_group_sum

    delete_where(spark, store, "lang", "==", "de")
    live = docs.where("lang <> 'de'")

    got = {r["value"]: r["cnt"]
           for r in encoded_group_count(spark, store, "lang").collect()}
    exp = {r["lang"]: r["cnt"]
           for r in live.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert got == exp

    got = {r["value"]: (r["cnt"], r["sum_val"])
           for r in encoded_group_sum(spark, store, "source", "n_chars").collect()}
    exp = {r["source"]: (r["cnt"], r["s"])
           for r in live.groupBy("source")
           .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("s"))
           .collect()}
    assert got == exp

    flt = [("n_chars", ">=", 400)]
    got = {r["value"]: (r["cnt"], r["sum_val"])
           for r in encoded_group_sum(spark, store, "lang", "doc_id",
                                      filters=flt).collect()}
    exp = {r["lang"]: (r["cnt"], r["s"])
           for r in live.where("n_chars >= 400").groupBy("lang")
           .agg(F.count("*").alias("cnt"), F.sum("doc_id").alias("s"))
           .collect()}
    assert got == exp


def test_count_filtered_is_delete_aware(spark, docs, store):
    """encoded_count_filtered stays EXACT under tombstones: full-match
    chunks subtract per-chunk tombstone counts metadata-side, boundary
    chunks subtract tombstoned-and-matching rows in-task."""
    from fsst_spark.jobs.agg import encoded_count_filtered

    delete_where(spark, store, "lang", "==", "de")
    for flt, cond in [
        ([("doc_id", ">=", 0)], "doc_id >= 0"),          # all full-match
        ([("doc_id", ">=", 250)], "doc_id >= 250"),      # boundary mix
        ([("lang", "==", "fr")], "lang = 'fr'"),         # string equality
        ([("n_chars", ">=", 500), ("doc_id", "<", 400)],
         "n_chars >= 500 AND doc_id < 400"),             # conjunction
    ]:
        got = encoded_count_filtered(spark, store, filters=flt).collect()[0]
        want = docs.where(f"lang <> 'de' AND ({cond})").count()
        assert got["n_rows"] == want, (flt, got["n_rows"], want)


def test_materialize_restores_fast_paths(spark, docs, store, tmp_path):
    from fsst_spark.jobs.agg import encoded_group_count

    delete_where(spark, store, "lang", "==", "de")
    out = str(tmp_path / "folded")
    materialize_deletes(spark, store, out, chunk_bytes=4 << 10).collect()
    assert not has_deletes(out)
    want = docs.where("lang <> 'de'")
    assert _ids(decode_job(spark, out)) == _ids(want)
    got = {r["value"]: r["cnt"]
           for r in encoded_group_count(spark, out, "lang").collect()}
    exp = {r["lang"]: r["cnt"]
           for r in want.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert got == exp


def test_verify_stays_physical(spark, docs, store):
    """verify checks the PHYSICAL store; tombstones never touch payloads,
    so per-chunk checksums still pass after a delete."""
    from fsst_spark.jobs.verify import verify_chunks

    delete_where(spark, store, "lang", "==", "de")
    bad = verify_chunks(spark, store).where("ok = false")
    assert bad.count() == 0


def test_compact_deletes_preserves_the_mask(spark, docs, store):
    """Three delete calls leave many tombstone files; compaction merges
    them into one sorted file with the SAME deleted set — decode,
    deleted_count, and later deletes are unaffected."""
    import glob as _glob
    import os as _os

    from fsst_spark.jobs.deletes import (_deletes_dir, compact_deletes,
                                         delete_where, deleted_count)

    delete_where(spark, store, "lang", "==", "de")
    delete_where(spark, store, "lang", "==", "fr")
    delete_where(spark, store, "n_chars", ">=", 900)
    files_before = len(_glob.glob(_os.path.join(_deletes_dir(store),
                                                "*.parquet")))
    assert files_before > 1
    count_before = deleted_count(store)
    dec_before = sorted(r["doc_id"] for r in
                        decode_job(spark, store).select("doc_id").collect())

    res = compact_deletes(spark, store)
    assert not res["skipped"] and res["files_after"] == 1
    files_after = _glob.glob(_os.path.join(_deletes_dir(store), "*.parquet"))
    assert len(files_after) == 1
    # dedup can only shrink or keep the physical rows; the MASK is equal
    assert deleted_count(store) <= count_before
    dec_after = sorted(r["doc_id"] for r in
                       decode_job(spark, store).select("doc_id").collect())
    assert dec_after == dec_before
    # the compacted file is sorted for row-group pruning
    import pyarrow.parquet as _pq

    t = _pq.read_table(files_after[0], columns=["pid", "chunk_id", "pos"])
    keys = list(zip(t.column("pid").to_pylist(),
                    t.column("chunk_id").to_pylist(),
                    t.column("pos").to_pylist()))
    assert keys == sorted(keys)
    # the store keeps mutating normally afterwards
    delete_where(spark, store, "lang", "==", "en")
    exp = docs.where("lang NOT IN ('de','fr','en') AND n_chars < 900").count()
    assert decode_job(spark, store).count() == exp
    # single-file store: a second compact is a no-op... unless the new
    # delete added files — run it and re-check equivalence either way
    compact_deletes(spark, store)
    assert decode_job(spark, store).count() == exp


def test_compact_deletes_splits_by_pid_in_one_job(spark, docs, store):
    """A small ``rows_per_file`` splits the tombstones into several
    files over disjoint pid ranges, each sorted and deduplicated, in one
    Spark job; the deleted set is unchanged."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from fsst_spark.jobs.deletes import _deletes_dir, compact_deletes
    from tests.plan_checks import run_counting_jobs

    delete_where(spark, store, "lang", "==", "de")
    delete_where(spark, store, "lang", "==", "fr")
    want = _ids(decode_job(spark, store))
    rows = deleted_count(store)
    res, jobs = run_counting_jobs(
        spark, "compact_deletes",
        lambda: compact_deletes(spark, store, rows_per_file=rows // 3))
    assert jobs == 1
    assert res["rows_before"] == rows and res["files_after"] > 1
    files = sorted(_glob.glob(os.path.join(_deletes_dir(store), "*.parquet")))
    assert len(files) == res["files_after"]
    keys = [list(zip(*_pq.read_table(f).select(["pid", "chunk_id", "pos"])
                     .to_pydict().values())) for f in files]
    assert all(k == sorted(set(k)) for k in keys)
    spans = sorted((k[0][0], k[-1][0]) for k in keys)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:])), spans
    assert _ids(decode_job(spark, store)) == want
    assert deleted_count(store) == docs.where("lang IN ('de', 'fr')").count()
