"""Disjunctive (OR) selective decode: chunk pruning keeps the UNION of the
branches' keep-sets, rows match SQL OR semantics exactly."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_filtered, decode_job, decode_plan
from fsst_spark.jobs.encode import encode_job


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("orf") / "store")
    df = (
        spark.range(0, 8000, 1, 4)  # ordered contiguous partitions
        .withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.element_at(
            F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("pt")),
            (F.col("doc_id") % 4 + 1).cast("int")))
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "400")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    return out


def _n_chunks(frame):
    return frame.select("pid", "chunk_id").distinct().count()


def test_or_of_disjoint_ranges_exact(spark, store):
    got = sorted(r["doc_id"] for r in decode_filtered(
        spark, store,
        any_filters=[("doc_id", "<", 100), ("doc_id", ">=", 7900)],
    ).collect())
    assert got == list(range(0, 100)) + list(range(7900, 8000))


def test_or_prunes_to_union_of_branches(spark, store):
    full = _n_chunks(decode_job(spark, store))
    kept = decode_plan(
        spark, store,
        any_filters=[("doc_id", "<", 100), ("doc_id", ">=", 7900)],
    )["chunks_kept"]
    assert full >= 16 and kept <= max(2, full // 4), (kept, full)


def test_or_across_columns(spark, store):
    got = {r["doc_id"] for r in decode_filtered(
        spark, store,
        any_filters=[("doc_id", "<", 8), ("lang", "==", "fr")],
    ).collect()}
    want = {i for i in range(8000) if i < 8 or i % 4 == 2}
    assert got == want


def test_and_combined_with_or(spark, store):
    got = sorted(r["doc_id"] for r in decode_filtered(
        spark, store, "doc_id", "<", 1000,
        any_filters=[("lang", "==", "de"), ("lang", "==", "pt")],
    ).collect())
    want = [i for i in range(1000) if i % 4 in (0, 3)]
    assert got == want


def test_or_with_no_matching_branch(spark, store):
    assert decode_filtered(
        spark, store,
        any_filters=[("lang", "==", "zz"), ("doc_id", ">", 10**9)],
    ).count() == 0


def test_requires_some_predicate(spark, store):
    with pytest.raises(ValueError):
        decode_filtered(spark, store)


def test_columns_projection_with_any_filters(spark, store):
    out = decode_filtered(spark, store, columns=["doc_id"],
                          any_filters=[("lang", "==", "fr")])
    assert "lang" not in out.columns
    assert out.count() == 2000


class TestCountPushdownOr:
    """encoded_count_filtered with one OR clause: tri-state stays sound
    (metadata-only via a full-matching branch, boundary via mixtures) and
    the count equals SQL CNF semantics exactly."""

    def test_or_of_disjoint_ranges(self, spark, store):
        from fsst_spark.jobs.agg import encoded_count_filtered

        r = encoded_count_filtered(
            spark, store, [],
            any_filters=[("doc_id", "<", 500),
                         ("doc_id", ">=", 7500)]).collect()[0].asDict()
        assert r["n_rows"] == 1000
        assert r["chunks_pruned"] > 0          # mid-range chunks never decode
        assert r["chunks_metadata_only"] > 0   # fully-inside chunks count free

    def test_and_combined_with_or(self, spark, store):
        from fsst_spark.jobs.agg import encoded_count_filtered

        r = encoded_count_filtered(
            spark, store, [("doc_id", "<", 4000)],
            any_filters=[("lang", "==", "de"),
                         ("lang", "==", "fr")]).collect()[0].asDict()
        # langs cycle mod 4: half of the first 4000 rows match the OR
        assert r["n_rows"] == 2000
        assert r["chunks_pruned"] > 0          # doc_id >= 4000 chunks

    def test_no_branch_matches(self, spark, store):
        from fsst_spark.jobs.agg import encoded_count_filtered

        r = encoded_count_filtered(
            spark, store, [],
            any_filters=[("lang", "==", "zz")]).collect()[0].asDict()
        assert r["n_rows"] == 0

    def test_guards(self, spark, store):
        import pytest as _pt

        from fsst_spark.jobs.agg import encoded_count_filtered

        with _pt.raises(ValueError):
            encoded_count_filtered(spark, store, [])
        with _pt.raises(KeyError):
            encoded_count_filtered(spark, store, [],
                                   any_filters=[("nope", "==", 1)])


def test_histogram_with_or_clause(spark, store):
    from fsst_spark.jobs.agg import encoded_histogram
    from fsst_spark.jobs.decode import decode_job

    got = {r["bucket"]: r["cnt"] for r in encoded_histogram(
        spark, store, "doc_id", 1000,
        filters=[("doc_id", "<", 6000)],
        any_filters=[("lang", "==", "de"), ("lang", "==", "fr")]).collect()}
    src = decode_job(spark, store).where(
        "doc_id < 6000 AND lang IN ('de','fr')")
    want = {r["b"]: r["n"] for r in src.selectExpr(
        "doc_id div 1000 as b").groupBy("b").count()
        .withColumnRenamed("count", "n").collect()}
    assert got == want and sum(got.values()) == 3000
