"""Zone-map chunk pruning: selective decode must be exact AND provably
skip chunks whose min/max excludes the predicate."""

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.decode import decode_filtered, decode_job
from fsst_spark.jobs.encode import encode_job
from tests.plan_checks import assert_file_granular_plan, payload_read_filters


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("zm_enc"))
    df = (
        spark.range(0, 4000, 1, 4)  # 4 ordered contiguous partitions
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat(F.lit("document body number "),
                                     F.col("doc_id").cast("string")))
    )
    # chunk flushes happen at Arrow-batch boundaries; shrink the batches so
    # each partition yields several chunks with disjoint doc_id ranges
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    return out


def test_zone_filtered_decode_is_exact(spark, encoded):
    got = {
        (r["doc_id"], r["text"])
        for r in decode_filtered(spark, encoded, "doc_id", ">=", 3900).collect()
    }
    expect = {(i, f"document body number {i}") for i in range(3900, 4000)}
    assert got == expect


@pytest.mark.parametrize("op,val,lo,hi", [
    ("<", 150, 0, 149), ("<=", 150, 0, 150),
    (">", 3849, 3850, 3999), ("==", 2000, 2000, 2000),
])
def test_zone_ops_exact(spark, encoded, op, val, lo, hi):
    ids = sorted(r["doc_id"] for r in
                 decode_filtered(spark, encoded, "doc_id", op, val,
                                 columns=["doc_id"]).collect())
    assert ids == list(range(lo, hi + 1))


def test_zone_pruning_skips_chunks(spark, encoded):
    full = decode_job(spark, encoded)
    pruned = decode_job(spark, encoded, zone_filter=("doc_id", ">=", 3900))
    n_full = full.select("pid", "chunk_id").distinct().count()
    n_pruned = pruned.select("pid", "chunk_id").distinct().count()
    assert n_full >= 8, f"corpus produced too few chunks ({n_full}) to test pruning"
    assert n_pruned < n_full / 2, (n_pruned, n_full)


def test_zone_filter_planned_from_metadata_only(spark, encoded, parquet_reads):
    dec = decode_job(spark, encoded, zone_filter=("doc_id", ">=", 3900))
    # the zone predicate prunes at planning time: only the file holding
    # doc_ids >= 3900 (the last of the 4 ordered partitions) becomes a task
    assert dec.rdd.getNumPartitions() == 1
    assert_file_granular_plan(dec)
    # and planning read chunk metadata only: an int range filter needs no
    # dictionary, so no planner read touched a payload byte
    assert parquet_reads
    assert payload_read_filters(parquet_reads) == []


def test_zone_filter_unknown_column_raises(spark, encoded):
    with pytest.raises(KeyError):
        decode_job(spark, encoded, zone_filter=("nope", ">=", 1)).collect()


def test_zone_pack8_is_order_preserving():
    from fsst_spark.jobs.encode import zone_pack8

    vals = ["", "a", "ab", "ab\x00", "abc", "abcdefgh", "abcdefghZZZ",
            "b", "zz", "\x7f", "éclair", "￿" * 3]
    import functools
    svals = sorted(vals, key=functools.cmp_to_key(
        lambda x, y: (x.encode() > y.encode()) - (x.encode() < y.encode())))
    packed = [zone_pack8(v) for v in svals]
    assert packed == sorted(packed)  # non-strict monotone in byte order


def test_zone_string_prefix_pruning_exact_and_effective(spark, tmp_path):
    out = str(tmp_path / "zs")
    # scheme-stripped keys: full URLs would share the constant 'https://'
    # 8-byte prefix and collapse every zone (correct but never prunes)
    rows = [(i, f"site{i // 1000}.example/page/{i:06d}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, url string").repartition(4, "doc_id")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        # url prefixes correlate with encode order only per-partition; sort
        # within partitions so chunks get tight url zones
        src = df.sortWithinPartitions("url")
        encode_job(spark, src, out, chunk_bytes=2 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)

    got = sorted(r["doc_id"] for r in decode_filtered(
        spark, out, "url", ">=", "site3.example/").collect())
    assert got == list(range(3000, 4000))

    pruned = decode_job(spark, out, zone_filter=("url", ">=", "site3.example/"))
    full = decode_job(spark, out)
    n_pruned = pruned.select("pid", "chunk_id").distinct().count()
    n_full = full.select("pid", "chunk_id").distinct().count()
    assert n_pruned < n_full, (n_pruned, n_full)

    # equality with a shared-prefix boundary value must stay exact
    probe = "site2.example/page/002500"
    got_eq = [r["doc_id"] for r in decode_filtered(spark, out, "url", "==", probe).collect()]
    assert got_eq == [2500]


def test_zone_pack8_property_order_preserving():
    """Property: zone_pack8 is non-strict monotone under bytewise order
    for arbitrary byte strings (the exact invariant pruning relies on)."""
    from hypothesis import given, settings, strategies as st

    from fsst_spark.jobs.encode import zone_pack8

    @settings(max_examples=500, deadline=None)
    @given(st.binary(max_size=24), st.binary(max_size=24))
    def check(a, b):
        pa_, pb = zone_pack8(a), zone_pack8(b)
        if a <= b:
            assert pa_ <= pb
        else:
            assert pa_ >= pb

    check()


def test_zone_packf_property_order_preserving():
    """Property: zone_packf is monotone w.r.t. float order, collapses
    -0.0/+0.0 (SQL-equal), and puts NaN above everything (Spark/DuckDB
    sort order) — the invariants float pruning relies on."""
    import math

    from hypothesis import given, settings, strategies as st

    from fsst_spark.jobs.encode import zone_packf

    @settings(max_examples=500, deadline=None)
    @given(st.floats(allow_nan=False), st.floats(allow_nan=False))
    def check(a, b):
        ka, kb = zone_packf(a), zone_packf(b)
        if a < b:
            assert ka < kb or (a == 0.0 and b == 0.0)  # only ±0 collapses
        elif a == b:
            assert ka == kb
        else:
            assert ka > kb

    check()
    assert zone_packf(-0.0) == zone_packf(0.0)
    assert zone_packf(float("nan")) > zone_packf(float("inf"))
    assert math.isfinite(1.5) and zone_packf(1.5) > zone_packf(-1.5)


def test_zone_timestamp_filter(spark, tmp_path):
    """Timestamp columns carry exact int64 zones in their storage unit, and
    decode_filtered itself takes the threshold as int ticks (micros), a
    datetime, or an ISO string — the row predicate is built in the storage
    unit, not as a raw TIMESTAMP-vs-BIGINT comparison."""
    out = str(tmp_path / "zt")
    base = 1_700_000_000_000_000  # us
    df = (
        spark.range(0, 2000, 1, 2)
        .withColumnRenamed("id", "doc_id")
        .withColumn("ts", F.timestamp_micros(F.lit(base) + F.col("doc_id") * 1_000_000))
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    cutoff = base + 1900 * 1_000_000
    got = decode_job(spark, out, zone_filter=("ts", ">=", cutoff))
    full = decode_job(spark, out)
    assert got.select("pid", "chunk_id").distinct().count() \
        < full.select("pid", "chunk_id").distinct().count()
    # decode_filtered end-to-end: int micros AND ISO string thresholds
    ids = sorted(r["doc_id"] for r in
                 decode_filtered(spark, out, "ts", ">=", cutoff).collect())
    assert ids == list(range(1900, 2000))
    import datetime as dt

    iso = dt.datetime.fromtimestamp(cutoff / 1e6, dt.timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S+00:00")
    ids_iso = sorted(r["doc_id"] for r in
                     decode_filtered(spark, out, "ts", ">=", iso).collect())
    assert ids_iso == ids


def test_zone_float_filter(spark, tmp_path):
    """float64 columns carry total-order zone keys; selective decode prunes
    chunks and returns exactly the matching rows (ALP-coded prices)."""
    out = str(tmp_path / "zf")
    df = (
        spark.range(0, 4000, 1, 4)
        .withColumnRenamed("id", "doc_id")
        # decimal-looking prices, ordered with doc_id -> tight float zones
        .withColumn("price", (F.col("doc_id") * 25).cast("double") / 100.0)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    got = sorted(r["doc_id"] for r in
                 decode_filtered(spark, out, "price", ">=", 975.0).collect())
    assert got == list(range(3900, 4000))
    pruned = decode_job(spark, out, zone_filter=("price", ">=", 975.0))
    full = decode_job(spark, out)
    assert pruned.select("pid", "chunk_id").distinct().count() \
        < full.select("pid", "chunk_id").distinct().count() / 2
    # negative range + equality stay exact
    ids_eq = [r["doc_id"] for r in decode_filtered(spark, out, "price", "==", 500.25).collect()]
    assert ids_eq == [2001]


def test_zone_conjunction(spark, encoded):
    """decode_filtered with filters=[...] ANDs predicates; the chunk
    keep-set intersects every zone filter."""
    got = sorted(r["doc_id"] for r in decode_filtered(
        spark, encoded,
        filters=[("doc_id", ">=", 1000), ("doc_id", "<", 1100)]).collect())
    assert got == list(range(1000, 1100))
    pruned = decode_job(spark, encoded,
                        zone_filters=[("doc_id", ">=", 1000), ("doc_id", "<", 1100)])
    one_sided = decode_job(spark, encoded, zone_filter=("doc_id", ">=", 1000))
    assert pruned.select("pid", "chunk_id").distinct().count() \
        < one_sided.select("pid", "chunk_id").distinct().count()


def test_zone_type_mismatch_raises(spark, tmp_path):
    """An int value against a STRING column must raise, not silently prune
    everything (ints sit below every ASCII pack8 key)."""
    out = str(tmp_path / "zm_str")
    rows = [(i, f"{i:04d}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, sid string").coalesce(1)
    encode_job(spark, df, out, resume=False, pre_partitioned=True,
               unique_col="doc_id").collect()
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "sid", ">=", 150).collect()
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "doc_id", ">=", "0150").collect()
    # the correctly-typed string filter works on numeric-looking text
    got = sorted(r["doc_id"] for r in
                 decode_filtered(spark, out, "sid", ">=", "0150").collect())
    assert got == list(range(150, 200))


def test_dict_membership_prune_skips_chunks(spark, tmp_path, parquet_reads):
    """String ``==`` on a dict-coded column must skip chunks whose
    DICTIONARY lacks the value even when the prefix zones span it: a chunk
    of {'aa','zz'} has zone [aa..zz] ∋ 'de' but provably no 'de' row."""
    out = str(tmp_path / "dp")
    # partition 0: langs {'aa','zz'} only; partition 1: {'de','zz'} — built
    # as a union of two single-partition frames so every chunk is a full
    # 500-row batch (a tiny range-split tail chunk would have ndv_ratio
    # > 0.1 and fall off the dict codec)
    p0 = spark.createDataFrame([(i, ["aa", "zz"][i % 2]) for i in range(2000)],
                               "doc_id long, lang string").coalesce(1)
    p1 = spark.createDataFrame([(10000 + i, ["de", "zz"][i % 2]) for i in range(2000)],
                               "doc_id long, lang string").coalesce(1)
    df = p0.union(p1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    # sanity: the low-NDV column dict-encoded
    import pyarrow.parquet as pq
    import glob
    codecs = {r["codec"] for f in glob.glob(f"{out}/chunks/*.parquet")
              for r in pq.read_table(f, columns=["column", "codec"]).to_pylist()
              if r["column"] == "lang"}
    assert codecs == {"str_dict"}, codecs

    parquet_reads.clear()
    with_prune = decode_job(spark, out, zone_filters=[("lang", "==", "de")])
    cold_reads = list(parquet_reads)
    without = decode_job(spark, out, zone_filters=[("lang", "==", "de")],
                         dict_prune=False)
    n_with = with_prune.select("pid", "chunk_id").distinct().count()
    n_without = without.select("pid", "chunk_id").distinct().count()
    # prefix zones alone cannot separate the partitions ('aa'<'de'<'zz'
    # in both); the dictionary can
    assert n_with <= n_without / 2, (n_with, n_without)
    got = sorted(r["doc_id"] for r in
                 decode_filtered(spark, out, "lang", "==", "de").collect())
    assert got == [10000 + i for i in range(2000) if i % 2 == 0]

    # the dictionary probe must read payload cells of the filter column's
    # dict-coded rows ONLY (pyarrow row filter on both predicates), so
    # non-dict payloads and other columns' payloads are never fetched; the
    # decode itself is file tasks with no JVM payload scan
    assert_file_granular_plan(with_prune)
    flt = payload_read_filters(cold_reads)
    assert flt, cold_reads
    assert all(f == [("column", "==", "lang"), ("codec", "==", "str_dict")]
               for f in flt), flt
    # the unchanged files' metadata, blooms and dictionaries are cached:
    # a warm re-plan reads no parquet at all
    parquet_reads.clear()
    decode_job(spark, out, zone_filters=[("lang", "==", "de")])
    assert parquet_reads == [], parquet_reads


def test_in_filter_with_dict_prune(spark, tmp_path):
    """``col IN (...)`` prunes via zones AND dictionary membership (a dict
    chunk is dropped only when it lacks EVERY probed value), and returns
    exactly the matching rows. Also exercises int IN."""
    out = str(tmp_path / "inp")
    p0 = spark.createDataFrame([(i, ["aa", "zz"][i % 2]) for i in range(2000)],
                               "doc_id long, lang string").coalesce(1)
    p1 = spark.createDataFrame([(10000 + i, ["de", "fr"][i % 2]) for i in range(2000)],
                               "doc_id long, lang string").coalesce(1)
    df = p0.union(p1)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "500")
    try:
        encode_job(spark, df, out, chunk_bytes=1 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
    finally:
        spark.conf.set(key, old)
    got = sorted(r["doc_id"] for r in
                 decode_filtered(spark, out, "lang", "in", ["de", "fr"]).collect())
    assert got == list(range(10000, 12000))
    # dict prune: the {'aa','zz'} partition's chunks never decode
    pruned = decode_job(spark, out, zone_filters=[("lang", "in", ["de", "fr"])])
    full = decode_job(spark, out)
    assert pruned.select("pid", "chunk_id").distinct().count() \
        <= full.select("pid", "chunk_id").distinct().count() / 2
    # int IN via zones
    ids = sorted(r["doc_id"] for r in
                 decode_filtered(spark, out, "doc_id", "in", [5, 10007, 11999]).collect())
    assert ids == [5, 10007, 11999]
    with pytest.raises(TypeError):
        decode_filtered(spark, out, "lang", "in", ["de", 7]).collect()


def test_cli_where_coercion():
    from fsst_spark.jobs.cli import _coerce_where

    assert _coerce_where("string", "0150") == "0150"  # stays text
    assert _coerce_where("int64", "150") == 150
    assert _coerce_where("double", "1.5") == 1.5
    assert _coerce_where("timestamp[us, tz=UTC]", "1700000000000000") == 1700000000000000
    assert _coerce_where("timestamp[us, tz=UTC]", "2023-11-14T22:13:20+00:00") \
        == "2023-11-14T22:13:20+00:00"


def test_encoded_column_stats_metadata_only(spark, encoded):
    """min/max/count recovered from chunk metadata must equal true
    aggregates, the answer must never read payload bytes, and non-exact
    column types must raise."""
    from fsst_spark.jobs.stats import encoded_column_stats

    rows = {r["column"]: r for r in
            encoded_column_stats(spark, encoded, ["doc_id"]).collect()}
    assert rows["doc_id"]["n_rows"] == 4000
    assert rows["doc_id"]["min_long"] == 0
    assert rows["doc_id"]["max_long"] == 3999

    # answered on the driver from the planner's metadata read: the frame
    # is a local table, so no scan (and no payload read) is left to plan
    plan = encoded_column_stats(spark, encoded, ["doc_id"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "payload" not in plan, plan

    with pytest.raises(ValueError):
        encoded_column_stats(spark, encoded, ["text"])  # string: prefix zones
    with pytest.raises(KeyError):
        encoded_column_stats(spark, encoded, ["nope"])


def _url_key_corpus(spark, n=4000):
    """Corpus whose host-reversed keys discriminate within zone_pack8's
    8-byte prefix (50 domains across one TLD: 'net.d07/...'), stored with
    the layout key as a column — the documented practice for URL columns."""
    from fsst_spark.jobs.layout import url_sort_key

    df = spark.range(n).select(
        F.concat(F.lit("https://d"),
                 F.lpad((F.col("id") % 50).cast("string"), 2, "0"),
                 F.lit(".net/p/"), F.col("id").cast("string")).alias("url"),
        F.md5(F.col("id").cast("string")).alias("text"),
    )
    return df.withColumn("url_key", url_sort_key(F.col("url")))


def test_encode_sort_key_clusters_layout_for_url_pruning(spark, tmp_path):
    """sort_key= wires layout clustering into the encode job: a clustered
    encode must (a) round-trip bit-identically, (b) return the same rows
    for a selective URL-key decode, and (c) read FAR fewer chunks than the
    unclustered encode of the same data."""
    src = _url_key_corpus(spark)
    out_c, out_u = str(tmp_path / "clustered"), str(tmp_path / "plain")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "200")  # chunk flushes happen at batch boundaries
    try:
        encode_job(spark, src, out_c, num_partitions=4, chunk_bytes=4 << 10,
                   resume=False, unique_col="url", sort_key="url_key").collect()
        encode_job(spark, src, out_u, num_partitions=4, chunk_bytes=4 << 10,
                   resume=False, unique_col="url").collect()
    finally:
        spark.conf.set(key, old)

    fp = F.sum(F.pmod(F.xxhash64("url", "url_key", "text"), F.lit(1 << 31)))
    want = src.agg(fp).first()[0]
    full_c = decode_job(spark, out_c)
    full_u = decode_job(spark, out_u)
    assert full_c.agg(fp).first()[0] == want  # clustering is a permutation
    assert full_u.agg(fp).first()[0] == want

    pred = ("url_key", ">=", "net.d45")
    got_c = decode_job(spark, out_c, zone_filter=pred).where(F.col("url_key") >= "net.d45")
    got_u = decode_job(spark, out_u, zone_filter=pred).where(F.col("url_key") >= "net.d45")
    assert got_c.agg(fp).first()[0] == got_u.agg(fp).first()[0]
    assert got_c.count() == 400  # ids with id%50 in 45..49

    n_chunks = lambda d: decode_job(spark, d, zone_filter=pred) \
        .select("pid", "chunk_id").distinct().count()
    n_full = decode_job(spark, out_c).select("pid", "chunk_id").distinct().count()
    n_c, n_u = n_chunks(out_c), n_chunks(out_u)
    assert n_full >= 10, n_full
    # unclustered: every chunk spans the whole key space -> nothing prunes;
    # clustered: the 10% key-range tail lives in ~10% of chunks
    assert n_c <= max(2, n_full // 3), (n_c, n_full)
    assert n_c < n_u, (n_c, n_u)


def test_encode_files_job_sort_key_per_file_clustering(spark, tmp_path):
    """The file-granular path sorts each file pyarrow-side: zones inside a
    file become tight ranges, so a selective decode prunes most chunks
    while the round-trip stays exact."""
    from fsst_spark.jobs.encode import encode_files_job

    src = _url_key_corpus(spark, n=3000)
    src_dir = str(tmp_path / "src")
    src.coalesce(2).write.parquet(src_dir)
    out = str(tmp_path / "enc")
    encode_files_job(spark, src_dir, out, chunk_bytes=4 << 10,
                     batch_rows=200, sort_key="url_key").collect()
    fp = F.sum(F.pmod(F.xxhash64("url", "url_key", "text"), F.lit(1 << 31)))
    assert decode_job(spark, out).agg(fp).first()[0] == src.agg(fp).first()[0]
    pred = ("url_key", ">=", "net.d45")
    n_full = decode_job(spark, out).select("pid", "chunk_id").distinct().count()
    n_sel = decode_job(spark, out, zone_filter=pred) \
        .select("pid", "chunk_id").distinct().count()
    assert n_full >= 10, n_full
    assert n_sel <= max(2, n_full // 3), (n_sel, n_full)


def test_cli_cluster_by_parses_names_and_exprs():
    from fsst_spark.jobs.cli import _parse_cluster_by

    assert _parse_cluster_by(None) == ([], [])
    assert _parse_cluster_by("url_key,lang") == (["url_key", "lang"], [])
    names, exprs = _parse_cluster_by("url_sort_key(url)")
    assert names == [] and len(exprs) == 1
    names, exprs = _parse_cluster_by("url_sort_key( url ), lang")
    assert len(exprs) == 2  # mixed entries all become expressions
    import pytest

    with pytest.raises(ValueError):
        _parse_cluster_by("weird_fn(url)")
