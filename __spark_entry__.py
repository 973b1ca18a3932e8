"""Query set of the ``fsst_spark`` engine: ``queries()``, their DuckDB
oracles ``oracle_sql()`` and the flagship ``entry()``.

Engine: ``fsst_spark`` — per-column lightweight compression (FSST, dict,
RLE, FOR, delta, front coding, bit-pack with stats-driven selection per
chunk) and the jobs over its encoded stores (selective decode, metadata
answers, aggregations, deletes, updates, schema evolution, joins), plus
the training-data operators still kept in ``fsst_spark.pipeline`` (dedup,
text stats, text prep and extraction, sampling, temporal and multimodal
features), run on the provided parquet tables.

Every query's result is verifiable. Codec queries return per-group row
counts and ``n_match`` (rows that survived encode->decode
bit-identically), so the DuckDB oracle — which simply reports
``count(*)`` for n_match — only agrees when the round-trip is perfect.
Store queries encode a table, answer through the engine, and are pinned
by an exact SQL oracle over the source table; pipeline operators use
exact SQL oracles where expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

import fsst_spark  # noqa: F401 (malloc tuning)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# codec round-trip queries (bit-identical gates)
# ---------------------------------------------------------------------------
def q_fsst_roundtrip_text(spark, sf_dir):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    flags = roundtrip_flags(_docs(spark, sf_dir), "text", keep_cols=["lang"])
    return (
        flags.groupBy("lang")
        .agg(F.count("*").alias("n_rows"), F.sum("ok").alias("n_match"))
        .orderBy("lang")
    )


def q_dict_roundtrip_lang(spark, sf_dir):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    df = _docs(spark, sf_dir)
    flags = roundtrip_flags(df, "lang", keep_cols=["lang"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.countDistinct("lang").alias("ndv"),
    )


def q_int_roundtrip_docid(spark, sf_dir):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    flags = roundtrip_flags(_docs(spark, sf_dir), "doc_id", keep_cols=["doc_id"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


def q_rle_roundtrip_orderkey(spark, sf_dir):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    li = _t(spark, sf_dir, "lineitem")
    flags = roundtrip_flags(li, "l_orderkey", keep_cols=["l_orderkey"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.sum("l_orderkey").alias("sum_orderkey"),
    )


def q_bitpack_roundtrip_linenumber(spark, sf_dir):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    li = _t(spark, sf_dir, "lineitem")
    flags = roundtrip_flags(li, "l_linenumber", keep_cols=["l_linenumber"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.sum("l_linenumber").alias("sum_linenumber"),
    )


def q_double_roundtrip_price(spark, sf_dir):
    """float_alp (decimal-scaled doubles) bit-identical gate on real prices."""
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    li = _t(spark, sf_dir, "lineitem")
    flags = roundtrip_flags(li, "l_extendedprice", keep_cols=["l_extendedprice"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


def q_ts_roundtrip_events(spark, sf_dir):
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    ev = _t(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    flags = roundtrip_flags(ev, "ts", keep_cols=["ts_us"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.min("ts_us").alias("min_ts_us"),
        F.max("ts_us").alias("max_ts_us"),
    )


def q_embedding_roundtrip(spark, sf_dir):
    """list codec (array<float> embeddings) bit-identical gate.

    The reference kernel compresses flat byte streams only (src/lib.rs);
    nested columns are the engine's extension: per-row lengths through the
    int codec selector, the flattened child through the standard column
    selector (kernel/codecs.encode_list) — so a 10^12-row embedding
    column rides the same chunk/manifest machinery as text."""
    from fsst_spark.jobs.roundtrip import roundtrip_flags

    emb = _t(spark, sf_dir, "embeddings")
    flags = roundtrip_flags(emb, "embedding", keep_cols=["vec_id", "embedding"])
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.sum("ok").alias("n_match"),
        F.sum(F.size("embedding")).cast("long").alias("total_elems"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


def q_embedding_store_decode(spark, sf_dir):
    """Full store round-trip of an array<float> table: encode_job writes
    list-codec chunks (+ per-chunk checksums over lengths + flattened
    child), decode_job reconstructs the arrays. Pins the decoded shape
    (rows, total element count) and the flat columns exactly; per-value
    float bit-identity is pinned by ``embedding_roundtrip``'s ok flags
    and by tests/test_list_codec.py's checksum verify."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_emb_store_q_")
    try:
        emb = _t(spark, sf_dir, "embeddings")
        encode_job(spark, emb, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="vec_id").collect()
        r = decode_job(spark, out).agg(
            F.count("*").alias("n_rows"),
            F.sum(F.size("embedding")).cast("long").alias("total_elems"),
            F.sum("vec_id").alias("sum_vec_id"),
            F.sum("label").cast("long").alias("sum_label"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["total_elems"], r["sum_vec_id"], r["sum_label"])],
        "n_rows bigint, total_elems bigint, sum_vec_id bigint, sum_label bigint",
    )


_CODEC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_codec_selection_detail(spark, sf_dir):
    """Which codec the auto-selector picks per documents column.

    The corpus and the selector are both deterministic, so the
    (column -> codec) mapping is pinned in a DuckDB VALUES oracle;
    encoded sizes stay engine-defined (they live in ``entry``'s full
    summary and the bench output, not in this gate)."""
    from fsst_spark.jobs.roundtrip import codec_summary

    return (
        codec_summary(_docs(spark, sf_dir), _CODEC_COLS)
        .select("column", "codec", "n_rows", "n_match")
        .orderBy("column", "codec")
    )


def q_codec_selection_summary(spark, sf_dir):
    """Per-column totals of the auto-selected round-trip: n_match == n_rows
    is the bit-identical gate, and both are oracle-checkable counts."""
    from fsst_spark.jobs.roundtrip import codec_summary

    s = codec_summary(_docs(spark, sf_dir), _CODEC_COLS)
    return (
        s.groupBy("column")
        .agg(F.sum("n_rows").alias("n_rows"), F.sum("n_match").alias("n_match"))
        .orderBy("column")
    )


def _augmented_docs(spark, sf_dir):
    """documents + a deterministic exact-duplicate of every 10th doc.

    The corpus itself has no duplicates, so dedup recall gates would be
    vacuous; this augmentation is expressible identically in the SQL
    oracle, making 'every exact duplicate is found' a hard check."""
    base = _docs(spark, sf_dir).select("doc_id", "text")
    dups = base.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    # single-file input scans as 1-2 partitions; spread the (expensive)
    # signature stage across the cluster
    return base.unionByName(dups).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries
# ---------------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    from fsst_spark.pipeline.dedup import exact_dedup_stats

    return exact_dedup_stats(_docs(spark, sf_dir), "text")


def q_token_quality_stats(spark, sf_dir):
    from fsst_spark.pipeline.textstats import quality_stats

    return quality_stats(_docs(spark, sf_dir), "text", "lang")


def q_lang_id(spark, sf_dir):
    from fsst_spark.pipeline.textstats import lang_id

    df = _docs(spark, sf_dir).withColumn("pred", lang_id(F.col("text")))
    return (
        df.groupBy("pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("pred")
    )


def q_split_docs(spark, sf_dir):
    """Training-window document splitting: every 97th doc cut into 40-word
    pieces — exact piece ids, text, and word counts vs the SQL window
    arithmetic (list slicing over the same whitespace split)."""
    from fsst_spark.pipeline.textprep import split_docs

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 97 == 0)
    return (split_docs(docs, "text", max_words=40)
            .select("doc_id", "piece_id", "piece_text",
                    F.col("piece_words").cast("bigint").alias("piece_words"))
            .orderBy("doc_id", "piece_id"))


def q_bpe_pairs(spark, sf_dir):
    """First-iteration BPE statistic: top-20 adjacent character pairs
    weighted by word frequency (the pair a BPE trainer merges first is
    row 1). Deterministic (freq desc, left, right) order."""
    from fsst_spark.pipeline.textprep import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), "text", k=20)


def q_bpe_train(spark, sf_dir):
    """Distributed BPE training (rows-only gate: the merge loop is
    iterative, not SQL-expressible — pytest pins it against a pure-Python
    reference implementation): 12 merges over the corpus vocabulary."""
    from fsst_spark.pipeline.textprep import bpe_train

    return bpe_train(_docs(spark, sf_dir), "text", n_merges=12,
                     vocab_cap=65536)


def q_zonemap_decode(spark, sf_dir):
    """Selective decode through zone maps: encode (doc_id, n_chars), then
    decode only chunks whose zone can satisfy n_chars >= 300 and apply the
    exact row filter — result must equal the plain SQL filter. The id-sum
    pins the exact row set (chunk pruning must never drop matching rows)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_zonemap_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        r = decode_filtered(spark, out, "n_chars", ">=", 300).agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("sum_ids"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_chars"], r["sum_ids"])],
        "n_rows bigint, sum_chars bigint, sum_ids bigint",
    )


def q_zonemap_decode_multi(spark, sf_dir):
    """Conjunctive + typed selective decode: three zone filters AND-ed at
    the chunk level — an int range pair (n_chars) and a float threshold on
    an ALP-coded price column — then exact row predicates. Result must
    equal the plain SQL filter; sum(doc_id) pins the exact row set."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_zonemap_multi_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars").withColumn(
            "price", F.col("n_chars").cast("double") / 100.0)
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        r = decode_filtered(
            spark, out,
            filters=[("n_chars", ">=", 300), ("price", "<=", 9.0),
                     ("doc_id", ">", 100)],
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("sum_ids"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_chars"], r["sum_ids"])],
        "n_rows bigint, sum_chars bigint, sum_ids bigint",
    )


def q_dict_prune_decode(spark, sf_dir):
    """Dictionary-membership selective decode: ``lang == 'de'`` skips
    dict-coded chunks whose dictionary lacks 'de' (and zone-prunes the
    rest); the decoded row set must equal the plain SQL filter, pinned by
    sum(doc_id)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_dictprune_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang")
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        r = decode_filtered(spark, out, "lang", "==", "de").agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"])], "n_rows bigint, sum_ids bigint")


def q_contains_decode(spark, sf_dir):
    """Substring (``contains``) selective decode: zones carry no substring
    information, so chunk pruning comes only from dict-coded chunks whose
    dictionary provably lacks the substring (``source contains 'rc1'``
    probes dictionaries; ``text contains 'data'`` decodes FSST chunks and
    applies the exact row predicate). The decoded row set must equal the
    plain SQL conjunction, pinned by sum(doc_id)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_contains_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        r = decode_filtered(spark, out, filters=[
            ("text", "contains", "data"), ("source", "contains", "rc1"),
        ]).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"])], "n_rows bigint, sum_ids bigint")


def q_bloom_point_decode(spark, sf_dir):
    """Bloom-filter point-predicate decode: documents get a high-NDV URL
    whose 8-byte zone prefix collapses ('https://...' shared by every
    row), the store is encoded UNCLUSTERED, and a 3-value IN probe must
    return exactly the SQL-filtered rows — only per-chunk Bloom filters
    can prune here (pruning magnitude pinned by tests/test_bloom.py;
    this gate pins exactness against DuckDB)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_bloom_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id").withColumn(
            "url", F.concat(F.lit("https://d"),
                            (F.col("doc_id") % 97).cast("string"),
                            F.lit(".example.net/"),
                            F.col("doc_id").cast("string")))
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        probes = [f"https://d{i % 97}.example.net/{i}" for i in (77, 123, 411)]
        r = decode_filtered(spark, out, "url", "in", probes).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["min_url"], r["max_url"])],
        "n_rows bigint, sum_ids bigint, min_url string, max_url string")


def q_fsst_source_scan(spark, sf_dir):
    """First-class ``fsst`` Spark DataSource: write the store with
    ``df.write.format('fsst')``, read it back with ``spark.read.format
    ('fsst')`` under a pushed WHERE (lang = 'de' AND n_chars >= 300) —
    ``pushFilters`` prunes chunks executor-side via zones/dicts/blooms and
    Spark re-applies the exact predicates, so the result must equal the
    plain SQL filter on the raw table (fsst_spark/sources/fsst_source.py)."""
    import shutil
    import tempfile

    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = tempfile.mkdtemp(prefix="fsst_source_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        (docs.write.format("fsst").mode("overwrite")
             .option("chunk_bytes", 256 << 10).save(out))
        r = (
            spark.read.format("fsst").load(out)
            .where((F.col("lang") == "de") & (F.col("n_chars") >= 300))
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"])],
        "n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_fsst_source_append(spark, sf_dir):
    """Incremental store load through ``mode('append')``: two disjoint
    halves written as separate appends (the second takes pids past the
    first) must read back as the full table — count/sum over the union
    equals the plain SQL aggregate."""
    import shutil
    import tempfile

    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = tempfile.mkdtemp(prefix="fsst_source_append_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        (docs.where("doc_id % 2 = 0").write.format("fsst")
             .mode("append").option("chunk_bytes", 256 << 10).save(out))
        (docs.where("doc_id % 2 = 1").write.format("fsst")
             .mode("append").option("chunk_bytes", 256 << 10).save(out))
        r = (
            spark.read.format("fsst").load(out)
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.count_distinct("lang").alias("n_langs"))
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["n_langs"])],
        "n_rows bigint, sum_ids bigint, n_langs bigint")


def q_fsst_source_stream(spark, sf_dir):
    """Streaming follow of a growing encoded store: two appends land as
    two commit-log entries; ``readStream.format('fsst')`` with an
    availableNow pass drains exactly the committed writes into a parquet
    sink — sink content must equal the full table (exactly-once)."""
    import os
    import shutil
    import tempfile

    from fsst_spark.sources.fsst_source import register

    register(spark)
    root = tempfile.mkdtemp(prefix="fsst_source_stream_q_")
    store, ckpt, sink = (os.path.join(root, d) for d in ("store", "ckpt", "sink"))
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        for half in ("doc_id % 2 = 0", "doc_id % 2 = 1"):
            (docs.where(half).write.format("fsst")
                 .mode("append").option("chunk_bytes", 256 << 10).save(store))
        q = (
            spark.readStream.format("fsst").load(store)
            .writeStream.format("parquet").option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
        r = (
            spark.read.parquet(sink)
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
        ).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"])],
        "n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_fsst_stream_write(spark, sf_dir):
    """Streaming sink: encoded store → readStream → writeStream.format
    ('fsst') → second encoded store. Epoch-scoped pids + batchId-tagged
    commit entries give exactly-once; the sink store must decode to the
    full table."""
    import os
    import shutil
    import tempfile

    from fsst_spark.sources.fsst_source import register

    register(spark)
    root = tempfile.mkdtemp(prefix="fsst_stream_write_q_")
    src, dst, ckpt = (os.path.join(root, d) for d in ("src", "dst", "ckpt"))
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        (docs.write.format("fsst").mode("append")
             .option("chunk_bytes", 256 << 10).save(src))
        q = (
            spark.readStream.format("fsst").load(src)
            .writeStream.format("fsst")
            .option("chunk_bytes", 256 << 10)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start(dst)
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()
        r = (
            spark.read.format("fsst").load(dst)
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
        ).collect()[0]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"])],
        "n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_encoded_quantiles(spark, sf_dir):
    """Metadata-only percentiles from per-chunk quantile sketches: encode
    with ≤128-row chunks (below the k=256 sample size, so every sketch is
    its chunk's complete sorted values) — the merged weighted-rank answer
    must then be EXACT: the ceil(q·N)-th smallest value, pinned against
    DuckDB. No payload byte is read."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_files_job
    from fsst_spark.jobs.stats import encoded_quantiles

    out = tempfile.mkdtemp(prefix="qsketch_q_")
    try:
        encode_files_job(spark, "", out,
                         files=[f"{sf_dir}/documents.parquet"],
                         columns=["n_chars"], chunk_bytes=1,
                         batch_rows=128, resume=False).collect()
        rows = encoded_quantiles(spark, out, "n_chars",
                                 [0.25, 0.5, 0.75]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["q"], r["val"]) for r in rows], "q double, val bigint")


def q_asof_join(spark, sf_dir):
    """As-of join, JOIN-FREE: every click attaches its user's most recent
    view at-or-before it (union + one hash shuffle + last(ignorenulls)
    running window — no range join, no pair blow-up; the plan test pins
    zero Join nodes). Tie rule (right rows first at equal ts, largest
    event_id among tied right rows) is mirrored exactly in the oracle's
    window SQL."""
    from fsst_spark.pipeline.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click") \
             .select("user_id", "ts", "event_id")
    right = ev.where(F.col("event_type") == "view") \
              .select("user_id", "ts", "event_id", "value")
    out = asof_join(left, right, on="user_id", ts_col="ts",
                    right_cols=["event_id", "value"],
                    tiebreak_col="event_id")
    return out.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_r").alias("view_id"),
        F.round(F.col("value_r"), 6).alias("view_value"),
    )


def q_session_stats(spark, sf_dir):
    """Gaps-and-islands sessionization (6 h inactivity gap) + per-session
    rollup: one shuffle on user_id, exact integer microsecond gaps
    (unix_micros, never float seconds), deterministic event_id tiebreak."""
    from fsst_spark.pipeline.temporal import session_stats

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return session_stats(ev, key_col="user_id", ts_col="ts",
                         gap_us=6 * 3600 * 1_000_000,
                         tiebreak_col="event_id") \
        .select("user_id", "session_seq", "n_events", "dur_us")


def q_temperature_sample(spark, sf_dir):
    """Alpha-tempered domain balancing (the multilingual-sampling recipe
    over web sources): keep probability q_g ∝ n_g^alpha / n_g, selection
    content-keyed on md5 so the survivor SET is engine-reproducible —
    the oracle recomputes thresholds AND the per-row hash test in SQL.
    Returns per-source survivor counts + id-sums (set-pinning)."""
    from fsst_spark.pipeline.sampling import temperature_sample

    docs = _docs(spark, sf_dir)
    kept = temperature_sample(docs, "source", alpha=0.5, target_rows=120)
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n_kept"),
             F.sum("doc_id").alias("sum_ids"))
        .orderBy("source")
    )


def q_fsst_source_columns(spark, sf_dir):
    """Column-pruned read: ``.option('columns', 'doc_id,lang')`` narrows
    the declared schema so unselected payloads are never decoded; the
    projected aggregate must equal plain SQL over the same projection."""
    import shutil
    import tempfile

    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = tempfile.mkdtemp(prefix="fsst_source_cols_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars", "text")
        (docs.write.format("fsst").mode("overwrite")
             .option("chunk_bytes", 256 << 10).save(out))
        r = (
            spark.read.format("fsst").option("columns", "doc_id,lang").load(out)
            .groupBy("lang")
            .agg(F.count("*").alias("n_rows"), F.sum("doc_id").alias("sum_ids"))
            .orderBy("lang")
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(x["lang"], x["n_rows"], x["sum_ids"]) for x in r],
        "lang string, n_rows bigint, sum_ids bigint")


def q_or_filter_decode(spark, sf_dir):
    """Disjunctive selective decode (CNF with one OR clause): rows where
    n_chars >= 300 AND (doc_id < 50 OR lang = 'fr') — chunk pruning keeps
    the union of the OR branches' keep-sets; the row set must equal the
    plain SQL filter."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_orf_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=16 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        r = decode_filtered(
            spark, out, "n_chars", ">=", 300,
            any_filters=[("doc_id", "<", 50), ("lang", "==", "fr")],
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"])],
        "n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_recluster_decode(spark, sf_dir):
    """Store re-layout (decode -> range-sort on a new key -> re-encode):
    after reclustering on n_chars, a selective decode on that key must
    return exactly the SQL-filtered rows (zones selectivity is pinned by
    tests/test_recluster.py; this gate pins content fidelity through the
    full decode/re-encode round)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.compact import recluster_store
    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    src = tempfile.mkdtemp(prefix="fsst_recl_src_")
    dst = tempfile.mkdtemp(prefix="fsst_recl_dst_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
        encode_job(spark, docs, src, chunk_bytes=16 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        recluster_store(spark, src, dst, "n_chars",
                        num_partitions=4, chunk_bytes=16 << 10).collect()
        r = decode_filtered(spark, dst, "n_chars", ">=", 400).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        ).collect()[0]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"])], "n_rows bigint, sum_ids bigint")


def q_encoded_profile(spark, sf_dir):
    """Metadata-only column profiling: rows, exact null counts (from each
    chunk's params), and the codec mix must match SQL counts + the
    VALUES-pinned expected codecs, without reading any payload (payload-
    freeness is plan-asserted in tests/test_profile.py)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_profile

    out = tempfile.mkdtemp(prefix="fsst_profile_q_")
    try:
        docs = _docs(spark, sf_dir).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, None)
            .otherwise(F.col("lang")).alias("lang"))
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        rows = (encoded_profile(spark, out)
                .select("column", "n_rows", "n_nulls", "codecs")
                .orderBy("column").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["column"], r["n_rows"], r["n_nulls"], r["codecs"]) for r in rows],
        "column string, n_rows bigint, n_nulls bigint, codecs string")


def q_front_roundtrip_url(spark, sf_dir):
    """Front-coding round-trip gate: a sorted reversed-host URL column must
    select the str_front codec (prefix share ≥ 25%) and decode
    bit-identically; the codec name is VALUES-pinned like
    codec_selection_detail."""
    from fsst_spark.jobs.roundtrip import codec_summary

    url = F.concat(F.lit("net.example."), F.col("source"),
                   F.lit("/docs/"), F.col("doc_id").cast("string"))
    df = (_docs(spark, sf_dir).select(url.alias("url"))
          .coalesce(1).sortWithinPartitions("url"))
    s = codec_summary(df, ["url"])
    return s.agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_match").alias("n_match"),
        F.concat_ws(",", F.array_sort(F.collect_list("codec"))).alias("codec"),
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher/MassiveText repetition signals (dup-line / top-bigram /
    dup-5-gram character fractions): every 10th document gets a repeated
    boilerplate line injected twice (the corpus itself is repetition-free),
    and the per-document integer percentages + keep decisions must match
    the same computation spelled out in SQL."""
    from fsst_spark.pipeline.textstats import repetition_stats

    boiler = "repeat me repeat me repeat me repeat me"
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit("\n" + boiler + "\n" + boiler)))
        .otherwise(F.col("text")).alias("text"))
    r = repetition_stats(docs)
    return r.agg(
        F.count("*").alias("n_docs"),
        F.sum("dup_line_char_pct").alias("sum_dup_line_pct"),
        F.sum("top_bigram_char_pct").alias("sum_top_bigram_pct"),
        F.sum("dup_5gram_char_pct").alias("sum_dup_5gram_pct"),
        F.sum(F.when(F.col("rep_keep"), 1).otherwise(0)).alias("n_keep"),
    )


def q_decode_semijoin(spark, sf_dir):
    """Runtime-filter semi join against an encoded store: the build side
    (urls of 'de' documents) prunes the probe scan via zone/dict/bloom
    chunk pruning, then a broadcast semi join keeps exactly the matching
    rows — equal to the plain SQL IN-subquery."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_semijoin
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_semijoin_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang").withColumn(
            "url", F.concat(F.lit("https://d"),
                            (F.col("doc_id") % 97).cast("string"),
                            F.lit(".example.net/"),
                            F.col("doc_id").cast("string")))
        encode_job(spark, docs.drop("lang"), out, chunk_bytes=64 << 10,
                   resume=False, pre_partitioned=True,
                   unique_col="doc_id").collect()
        keys = docs.where(F.col("lang") == "de").select("url")
        r = decode_semijoin(spark, out, "url", keys).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"])], "n_rows bigint, sum_ids bigint")


def q_store_join(spark, sf_dir):
    """Store-to-store equi-join with two-sided zone-interval pruning: two
    encoded stores clustered on doc_id join without decoding chunks whose
    key intervals are provably disjoint from the other side (the pruning
    MAGNITUDE is pinned by tests/test_store_join.py); this gate pins the
    join's exactness against the plain SQL join, including the left-outer
    NULL fill."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.join import store_join

    from concurrent.futures import ThreadPoolExecutor

    l_out = tempfile.mkdtemp(prefix="fsst_join_l_q_")
    r_out = tempfile.mkdtemp(prefix="fsst_join_r_q_")
    try:
        docs = _docs(spark, sf_dir)
        left = docs.select("doc_id", "lang", "n_chars")
        right = docs.where(F.col("doc_id") < 500).select(
            "doc_id", (F.col("n_chars") * 2).cast("long").alias("score"))

        def run_inner():
            return store_join(spark, l_out, r_out, "doc_id").agg(
                F.count("*").alias("n_rows"),
                F.sum("doc_id").alias("sum_ids"),
                F.sum("n_chars").alias("sum_n_chars"),
                F.sum("score").alias("sum_score"),
            ).collect()[0]

        def run_outer():
            return store_join(spark, l_out, r_out, "doc_id",
                              how="left").agg(
                F.count("*").alias("n_left"),
                F.sum(F.col("score").isNull().cast("long"))
                .alias("n_unmatched"),
            ).collect()[0]

        # the two encodes are independent, as are the two join
        # aggregates: overlap them so the tail of one job back-fills the
        # cluster the other left idle (optimization-guide §2.6)
        with ThreadPoolExecutor(max_workers=2) as pool:
            fe_l = pool.submit(
                lambda: encode_job(spark, left, l_out,
                                   chunk_bytes=64 << 10, resume=False,
                                   num_partitions=4, sort_key="doc_id",
                                   unique_col="doc_id").collect())
            fe_r = pool.submit(
                lambda: encode_job(spark, right, r_out,
                                   chunk_bytes=64 << 10, resume=False,
                                   num_partitions=2, sort_key="doc_id",
                                   unique_col="doc_id").collect())
            fe_l.result()
            fe_r.result()
            f_inner = pool.submit(run_inner)
            f_outer = pool.submit(run_outer)
            inner = f_inner.result()
            outer = f_outer.result()
    finally:
        shutil.rmtree(l_out, ignore_errors=True)
        shutil.rmtree(r_out, ignore_errors=True)
    return spark.createDataFrame(
        [(inner["n_rows"], inner["sum_ids"], inner["sum_n_chars"],
          inner["sum_score"], outer["n_left"], outer["n_unmatched"])],
        "n_rows bigint, sum_ids bigint, sum_n_chars bigint, "
        "sum_score bigint, n_left bigint, n_unmatched bigint")


def q_store_join_df(spark, sf_dir):
    """Encoded-store x plain-DataFrame join (store_join_df): a probe
    batch's observed keys prune the store's scan via the IN-list
    zone/dict/bloom stack, then the exact equi-join runs — pinned here
    against the plain SQL join for inner, left (NULL fill), and anti
    row sets."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.join import store_join_df

    out = tempfile.mkdtemp(prefix="fsst_sjdf_q_")
    try:
        docs = _docs(spark, sf_dir)
        encode_job(spark, docs.select("doc_id", "lang", "n_chars"), out,
                   chunk_bytes=64 << 10, resume=False, num_partitions=4,
                   sort_key="doc_id", unique_col="doc_id").collect()
        probe = docs.where((F.col("doc_id") % 7) == 0).select(
            "doc_id", (F.col("doc_id") * 3).alias("tag"))
        inner = store_join_df(spark, out, probe, "doc_id").agg(
            F.count("*").alias("n_inner"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("tag").alias("sum_tags"),
        ).collect()[0]
        left = store_join_df(spark, out, probe, "doc_id", how="left").agg(
            F.count("*").alias("n_left"),
            F.sum(F.col("tag").isNull().cast("long")).alias("n_nullfill"),
        ).collect()[0]
        anti = store_join_df(spark, out, probe, "doc_id",
                             how="left_anti").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(inner["n_inner"], inner["sum_ids"], inner["sum_tags"],
          left["n_left"], left["n_nullfill"], anti)],
        "n_inner bigint, sum_ids bigint, sum_tags bigint, "
        "n_left bigint, n_nullfill bigint, n_anti bigint")


def q_multi_store_decode(spark, sf_dir):
    """A family of daily-shard stores read as ONE DataFrame via
    decode_stores: documents split by doc_id parity into two encoded
    stores, reunited with per-store zone-filter pushdown (the n_chars
    conjunct prunes inside EACH shard before the union); aggregates must
    equal the plain SQL over the unsharded table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_stores
    from fsst_spark.jobs.encode import encode_job

    outs = [tempfile.mkdtemp(prefix=f"fsst_shard{i}_q_") for i in (0, 1)]
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        for i, out in enumerate(outs):
            encode_job(spark, docs.where(F.col("doc_id") % 2 == i), out,
                       chunk_bytes=64 << 10, resume=False,
                       num_partitions=2, sort_key="n_chars",
                       unique_col="doc_id").collect()
        got = (
            decode_stores(spark, outs, columns=["doc_id", "lang", "n_chars"],
                          filters=[("n_chars", ">=", 500)])
            .groupBy("lang")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
            .collect()
        )
    finally:
        for out in outs:
            shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["lang"], r["n_rows"], r["sum_ids"], r["sum_chars"]) for r in got],
        "lang string, n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_family_stats(spark, sf_dir):
    """Shard-family metadata queries: documents split into two stores,
    then count/min/max answered from per-shard zone metadata
    (stores_column_stats, payload-free), exact string min/max from each
    shard's boundary chunks (stores_column_minmax), and family NDV from
    merged HLL registers (stores_ndv; exact at lang's tiny cardinality
    via linear counting) — all verified against the unsharded SQL."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import (stores_column_minmax,
                                       stores_column_stats, stores_ndv)

    outs = [tempfile.mkdtemp(prefix=f"fsst_fam{i}_q_") for i in (0, 1)]
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        for i, out in enumerate(outs):
            encode_job(spark, docs.where(F.col("doc_id") % 2 == i), out,
                       chunk_bytes=64 << 10, resume=False,
                       num_partitions=2, sort_key="doc_id",
                       unique_col="doc_id").collect()
        st = {r["column"]: r
              for r in stores_column_stats(spark, outs,
                                           ["doc_id", "n_chars"]).collect()}
        mm = stores_column_minmax(spark, outs, "lang")
        ndv = stores_ndv(spark, outs, ["lang"])["lang"]
    finally:
        for out in outs:
            shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(st["doc_id"]["n_rows"], st["doc_id"]["min_long"],
          st["doc_id"]["max_long"], st["n_chars"]["max_long"],
          mm["min"], mm["max"], ndv)],
        "n_rows bigint, min_id bigint, max_id bigint, max_chars bigint, "
        "min_lang string, max_lang string, ndv_lang bigint")


def q_advise_codecs(spark, sf_dir):
    """Pre-encode codec advisor: the encoder's own selector run on a
    content-keyed sample predicts each column's codec. The choices are
    content properties of the corpus (sequential ids -> delta, low-NDV
    strings -> dict, text -> FSST), identical at every sf, so the oracle
    pins them as VALUES — regression-pinning the selector's behavior on
    real data the same way codec_selection_detail does."""
    from fsst_spark.jobs.stats import advise_codecs

    adv = advise_codecs(_docs(spark, sf_dir), key_col="doc_id",
                        sample_rows=300)
    return spark.createDataFrame(
        [(a["column"], a["codec"]) for a in adv],
        "column string, codec string").orderBy("column")


def q_mix_sources(spark, sf_dir):
    """Deterministic dataset mixing to an explicit recipe (the LLM
    "data mixture" step): three sources weighted 3:1:1, everything else
    dropped; the survivor SET is content-keyed (md5 hex thresholds) so
    DuckDB re-derives the exact same rows — pinned by per-source id
    sums, not just counts."""
    from fsst_spark.pipeline.sampling import mix_sources

    docs = _docs(spark, sf_dir)
    kept = mix_sources(docs, {"src1": 3.0, "src2": 1.0, "src3": 1.0},
                       group_col="source", target_rows=60,
                       key_col="doc_id", salt="mix")
    return (
        kept.groupBy("source")
        .agg(F.count("*").alias("n_kept"),
             F.sum("doc_id").alias("sum_ids"))
        .orderBy("source")
    )


def q_encoded_ndv(spark, sf_dir):
    """Metadata-only NDV from mergeable per-chunk HLL sketches: the
    estimates must sit within 6% of the exact distinct counts (the exact
    counts themselves come from the SQL oracle, pinning both sides)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_ndv

    out = tempfile.mkdtemp(prefix="fsst_ndv_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, chunk_bytes=16 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        est = encoded_ndv(spark, out, ["doc_id", "lang", "source"])
        exact = docs.agg(
            F.countDistinct("doc_id").alias("doc_id"),
            F.countDistinct("lang").alias("lang"),
            F.countDistinct("source").alias("source")).collect()[0]
        rows = [(c, int(exact[c]),
                 bool(abs(est[c] - exact[c]) <= max(2, 0.06 * exact[c])))
                for c in ("doc_id", "lang", "source")]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "column string, exact_ndv bigint, est_within_6pct boolean")


def q_url_sort_key(spark, sf_dir):
    """Host-reversed URL layout keys: Spark builds full https:// URLs and
    applies url_sort_key (scheme strip + host reversal); the oracle builds
    the SAME urls WITHOUT the scheme and reverses with DuckDB list ops —
    they agree only if the scheme strip and reversal are both exact."""
    from fsst_spark.jobs.layout import url_sort_key

    docs = _docs(spark, sf_dir)
    url = F.concat(F.lit("https://www."), F.col("source"),
                   F.lit(".example.com/docs/"), F.col("doc_id").cast("string"))
    keys = docs.select(url_sort_key(url).alias("key"))
    return keys.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("key").alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.sum(F.length("key")).alias("sum_len"),
    )


def q_extract_roundtrip(spark, sf_dir):
    """input_hint per-row invariant (byte-identical extracted text per
    url): escape each document's text, embed it in full page boilerplate
    (title + style + a decoy <script> carrying fake tags + footer),
    extract main text engine-side (pipeline/textextract.py, pure JVM
    regexp cascade), count byte-identical matches. The oracle pins
    n_match == count(*) — any extraction defect is a hash mismatch."""
    from fsst_spark.pipeline.textextract import escape_html_text, html_to_text

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><head><title>d</title><style>p{color:red}</style>'
              '</head><body><script>var x = "<p>decoy</p>";</script>'
              '<main><article><p>'),
        escape_html_text(F.col("text")),
        F.lit('</p></article></main><footer>&copy; 2024 example'
              '</footer></body></html>'),
    )
    ok = (html_to_text(html) == F.col("text")).cast("long")
    return docs.select(ok.alias("ok")).agg(
        F.count("*").alias("n_rows"), F.sum("ok").alias("n_match"))


def q_crawl_frontier(spark, sf_dir):
    """Crawl-frontier building (pipeline/frontier.py): extracted hrefs ->
    normalization (fragment strip, protocol/root-relative resolution,
    non-fetchable scheme drop) -> dedup -> known-URL anti-join -> per-host
    politeness cap. Spark and DuckDB run the SAME regexes over identically
    constructed pages (absolute, root-relative, protocol-relative+#frag,
    mailto links per page); the full frontier row set must agree."""
    from fsst_spark.pipeline.frontier import crawl_frontier

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    nid = (F.col("doc_id") + 1).cast("string")
    cid = (F.col("doc_id") % 7).cast("string")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/d"), did).alias("url"),
        F.concat(
            F.lit('<p><a href="https://'), F.col("source"),
            F.lit(".example.org/n"), nid,
            F.lit('">n</a><a href=\'/rel/'), did,
            F.lit("'>r</a>"),
            F.lit('<a href="//cdn.example.net/x'), cid,
            F.lit('#frag">c</a><a href="mailto:a@b.c">m</a></p>'),
        ).alias("html"))
    known = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.org/n"), nid).alias("url"))
    return crawl_frontier(pages, known, per_host_cap=5)


def q_extract_links(spark, sf_dir):
    """<a href> extraction (crawl-frontier building): Spark and DuckDB
    each run the SAME RE2-compatible patterns over identically
    constructed pages with one double-quoted and one single-quoted link;
    counts, distinct first targets, and lexicographic extremes must
    agree exactly."""
    from fsst_spark.pipeline.textextract import extract_links

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<body><p>see <a href="https://'), F.col("source"),
        F.lit('.example.org/d'), did,
        F.lit('">doc</a> and <a href=\'/rel/'), did,
        F.lit("'>rel</a></p></body>"),
    )
    links = docs.select(extract_links(html).alias("links"))
    return links.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.size("links")).alias("n_links"),
        F.countDistinct(F.element_at("links", 1)).alias("n_first"),
        F.min(F.element_at("links", 1)).alias("min_link"),
        F.max(F.element_at("links", 2)).alias("max_link"),
    )


def q_clustered_decode(spark, sf_dir):
    """Layout clustering wired into the encode job (sort_key=): documents
    get a host-reversed URL layout key (textstats.url_sort_key), the
    encode range-partitions + sorts on it, and a selective decode on the
    key must return exactly the SQL-filtered rows. The pruning MAGNITUDE
    (clustered reads ~10% of chunks, unclustered reads all) is pinned by
    tests/test_zonemap.py; this gate pins exactness at the driver scale."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.layout import url_sort_key

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    df = docs.withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"), F.lit(".net/d/"),
                        F.col("doc_id").cast("string")))
    df = df.withColumn("url_key", url_sort_key(F.col("url"))).drop("url")
    out = tempfile.mkdtemp(prefix="fsst_cluster_q_")
    try:
        encode_job(spark, df, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="url_key").collect()
        rows = (
            decode_job(spark, out, zone_filter=("url_key", ">=", "net.src5"))
            .where(F.col("url_key") >= "net.src5")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum("doc_id").alias("sum_ids"),
                F.min("url_key").alias("min_key"),
                F.max("url_key").alias("max_key"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["min_key"], r["max_key"]) for r in rows],
        "n_rows bigint, sum_ids bigint, min_key string, max_key string",
    )


def q_encoded_stats(spark, sf_dir):
    """Stats-only query answering: count/min/max recovered from the
    encoded store's chunk METADATA (zone maps + row counts) without
    reading or decoding any payload — must equal SQL aggregates over the
    source table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_column_stats

    out = tempfile.mkdtemp(prefix="fsst_encstats_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        rows = encoded_column_stats(spark, out, ["doc_id", "n_chars"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["column"], r["n_rows"], r["min_long"], r["max_long"]) for r in rows],
        "column string, n_rows bigint, min_long bigint, max_long bigint",
    )


def q_encoded_minmax(spark, sf_dir):
    """Exact min/max for STRING and FLOAT columns from the encoded store:
    zone bounds locate the candidate extreme chunks, only those decode
    (int columns answer from zones alone). Must equal SQL min/max over the
    source — including the float column derived with exact binary
    arithmetic (0.25 and 100.0 are exact doubles) so Spark and DuckDB
    compute identical IEEE values."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_column_minmax

    out = tempfile.mkdtemp(prefix="fsst_minmax_q_")
    try:
        docs = _docs(spark, sf_dir).select(
            "doc_id", "source",
            (F.col("doc_id") * F.lit(0.25) + F.lit(100.0)).alias("price"))
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        s = encoded_column_minmax(spark, out, "source")
        p = encoded_column_minmax(spark, out, "price")
        d = encoded_column_minmax(spark, out, "doc_id")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(s["min"], s["max"], float(p["min"]), float(p["max"]),
          d["min"], d["max"])],
        "min_source string, max_source string, min_price double, "
        "max_price double, min_id bigint, max_id bigint",
    )


def q_strlen_stats(spark, sf_dir):
    """Decode-free octet_length aggregates over an encoded store: every
    string codec stores (or implies) decoded lengths more cheaply than
    values, so count/sum/avg/min/max of byte lengths is answered by
    parsing only the length structure (codecs.decoded_strlens) — no byte
    scatter, no Arrow string build. Must equal SQL aggregates of
    octet_length over the source table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_strlen_stats

    out = tempfile.mkdtemp(prefix="fsst_strlen_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
        encode_job(spark, docs, out, chunk_bytes=256 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        rows = encoded_strlen_stats(spark, out, ["text", "lang"]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["column"], r["n_values"], r["sum_bytes"], r["avg_bytes"],
          r["min_bytes"], r["max_bytes"]) for r in rows],
        "column string, n_values bigint, sum_bytes bigint, "
        "avg_bytes double, min_bytes bigint, max_bytes bigint",
    )


def q_compacted_decode(spark, sf_dir):
    """Small-file compaction: encode into MANY small chunk files, compact
    them into 3 WITHOUT decoding any payload (chunk rows copied verbatim,
    checksums/zones preserved), then decode through the untouched decode
    path — aggregates must equal SQL over the source table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.compact import compact_store
    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job

    frag = tempfile.mkdtemp(prefix="fsst_frag_q_")
    comp = tempfile.mkdtemp(prefix="fsst_comp_q_") + "/store"
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "text")
        encode_job(spark, docs, frag, num_partitions=12,
                   chunk_bytes=128 << 10, resume=False,
                   unique_col="doc_id").collect()
        compact_store(spark, frag, comp, target_files=3).collect()
        rows = (
            decode_job(spark, comp)
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum(F.octet_length("text")).alias("sum_bytes"))
            .collect()
        )
    finally:
        shutil.rmtree(frag, ignore_errors=True)
        shutil.rmtree(comp, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_bytes"]) for r in rows],
        "n_rows bigint, sum_ids bigint, sum_bytes bigint",
    )


def q_encoded_group_count(spark, sf_dir):
    """GROUP BY pushdown on the encoded store: per-language counts
    answered from dict CODES + the dictionary section — the expanded
    language strings are never materialized; the shuffle is NDV-scale."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_count
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gc_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = encoded_group_count(spark, out, "lang").orderBy("value").collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["cnt"]) for r in rows], "value string, cnt bigint")


def q_encoded_group_sum(spark, sf_dir):
    """GROUP BY key, count(*), sum(val) over the encoded store: chunk-
    local partial aggregation over dict codes + int payloads (exact int64
    accumulation), one NDV-scale shuffle."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_sum
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gs_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_sum(spark, out, "lang", "n_chars")
                .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["cnt"], r["sum_val"]) for r in rows],
        "value string, cnt bigint, sum_val bigint")


def q_strlen_group(spark, sf_dir):
    """GROUP BY key over byte lengths of a string column, the string
    column never decoded: per-key count/sum/avg/min/max octet_length from
    codec length structure (agg.encoded_group_strlen) — per-language text
    byte accounting, the first crawl/token-budget question. Must equal
    SQL aggregates of octet_length over the source table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_strlen
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gsl_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_strlen(spark, out, "lang", "text")
                .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["n_rows"], r["n_values"], r["sum_bytes"],
          r["avg_bytes"], r["min_bytes"], r["max_bytes"]) for r in rows],
        "value string, n_rows bigint, n_values bigint, sum_bytes bigint, "
        "avg_bytes double, min_bytes bigint, max_bytes bigint")


def q_group_ndv(spark, sf_dir):
    """Exact count(DISTINCT val) per key over the encoded store: each
    chunk reduces to its distinct (key, value) pairs before the shuffle
    (dict-code fast path on both columns — agg.encoded_group_ndv), so the
    shuffle is pair-NDV-scale, not row-scale. Must equal SQL
    count(DISTINCT source) GROUP BY lang."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_ndv
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gndv_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_ndv(spark, out, "lang", "source")
                .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["ndv"]) for r in rows],
        "value string, ndv bigint")


def q_histogram(spark, sf_dir):
    """Exact equi-width histogram over the encoded store, answered
    tri-state from zone metadata: on a store clustered by the column,
    null-free single-bucket chunks count from n_rows with no payload
    read; only bucket-straddling chunks decode (agg.encoded_histogram).
    Must equal SQL floor(n_chars/200) GROUP BY."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_histogram
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_hist_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=16 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="n_chars").collect()
        rows = (encoded_histogram(spark, out, "n_chars", 200)
                .orderBy(F.col("bucket").asc_nulls_last()).collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["bucket"], r["cnt"]) for r in rows], "bucket bigint, cnt bigint")


def q_encoded_sum(spark, sf_dir):
    """Exact sum/count/avg of an int column answered from per-chunk stored
    sums (stats.encoded_column_sum): payload-free metadata aggregation for
    null-free chunks, individual decode only for null-bearing ones. Must
    equal SQL sum/count/avg over the source."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_column_sum

    out = tempfile.mkdtemp(prefix="fsst_sum_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=32 << 10,
                   resume=False, unique_col="doc_id").collect()
        r = encoded_column_sum(spark, out, "n_chars")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["sum"], r["n_values"], r["avg"])],
        "sum_val bigint, n_values bigint, avg_val double")


def q_group_stats(spark, sf_dir):
    """The complete per-key aggregate set over an encoded store in one
    chunk-local pass: count(*)/count(val)/sum/avg/min/max per key
    (agg.encoded_group_stats), NDV-scale shuffle, exact int64 sums. Must
    equal the SQL aggregates over the source table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_stats
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gst_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_stats(spark, out, "lang", "n_chars")
                .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["n_rows"], r["n_values"], r["sum_val"],
          r["avg_val"], r["min_val"], r["max_val"]) for r in rows],
        "value string, n_rows bigint, n_values bigint, sum_val bigint, "
        "avg_val double, min_val bigint, max_val bigint")


def q_group_minmax(spark, sf_dir):
    """Per-key exact min/max for a STRING value column from the encoded
    form (agg.encoded_group_minmax): min/max over per-chunk distinct
    (key, value) pairs — the string sibling of group_stats' int min/max."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_minmax
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gmm_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_minmax(spark, out, "lang", "source")
                .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["min_val"], r["max_val"]) for r in rows],
        "value string, min_val string, max_val string")


def q_group_topk(spark, sf_dir):
    """Per-group heavy hitters from the encoded form: top-2 source sites
    per language (agg.encoded_group_topk) — chunk-local (key,val) pair
    counts shuffle at dictionary scale, the window runs over pair totals.
    Deterministic tie rule (cnt DESC, val ASC) so the oracle matches."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_topk
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_gtk_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_topk(spark, out, "lang", "source", k=2)
                .orderBy("value", "rank").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["val"], r["cnt"], r["rank"]) for r in rows],
        "value string, val string, cnt bigint, rank int")


def q_histogram_hourly(spark, sf_dir):
    """Time-bucketed event counts from the encoded store: the histogram
    pushdown over a timestamp column buckets its storage-unit ticks
    (timestamp[us], width 3.6e9 = hourly), zones answering single-hour
    chunks from metadata. Must equal SQL floor(epoch_us/3.6e9) counts."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_histogram
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_histh_q_")
    try:
        ev = _t(spark, sf_dir, "events").select("event_id", "ts")
        encode_job(spark, ev, out, num_partitions=4, chunk_bytes=32 << 10,
                   resume=False, unique_col="event_id",
                   sort_key="ts").collect()
        rows = (encoded_histogram(spark, out, "ts", 3_600_000_000)
                .orderBy(F.col("bucket").asc_nulls_last()).collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["bucket"], r["cnt"]) for r in rows], "bucket bigint, cnt bigint")


def q_filtered_group_sum(spark, sf_dir):
    """WHERE + GROUP BY pushdown over the encoded store: zone maps and
    dict dictionaries prune non-matching chunks before any payload read,
    the exact row mask applies chunk-locally, and the shuffle stays
    NDV-scale — the full OLAP scan shape without materializing the
    table."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_sum
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_fgs_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = (encoded_group_sum(
            spark, out, "lang", "n_chars",
            filters=[("lang", "in", ["en", "de"]), ("n_chars", "<", 1500)])
            .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["cnt"], r["sum_val"]) for r in rows],
        "value string, cnt bigint, sum_val bigint")


def q_count_where(spark, sf_dir):
    """Tri-state metadata count: a doc_id range count over a store
    CLUSTERED on doc_id — interior chunks answer from n_rows metadata,
    only the two boundary chunks decode (and only the filter column)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_count_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_cw_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=32 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="doc_id").collect()
        rows = encoded_count_filtered(
            spark, out,
            [("doc_id", ">=", 100), ("doc_id", "<", 400)]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"],) for r in rows], "n_rows bigint")


def q_rlike_decode(spark, sf_dir):
    """Regex (RLIKE) selective decode: rows are decided by Spark's own
    Java regex engine; dict-coded chunks whose dictionary matches nothing
    prune first (pattern screened for Java/Python alignment —
    decode._rlike_prunable). Oracle: DuckDB regexp_matches on the same
    anchored-alternation pattern, where RE2/Java/Python all agree."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_rlike_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, chunk_bytes=16 << 10, resume=False,
                   num_partitions=4, unique_col="doc_id").collect()
        got = decode_filtered(spark, out, "lang", "rlike", "^(de|fr|pt)$")
        res = (got.groupBy("lang")
               .agg(F.count("*").alias("n_rows"),
                    F.sum("doc_id").alias("sum_ids"))
               .orderBy("lang").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["lang"], r["n_rows"], r["sum_ids"]) for r in res],
        "lang string, n_rows bigint, sum_ids bigint")


def q_suffix_decode(spark, sf_dir):
    """Suffix (endswith) selective decode — the third of the substring
    family (prefix/contains/suffix): rows via Spark endswith, dict-coded
    chunks pruned by probing decoded dictionary value TAILS; oracle is
    plain SQL LIKE '%1'."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_sfx_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, chunk_bytes=16 << 10, resume=False,
                   num_partitions=4, unique_col="doc_id").collect()
        got = decode_filtered(spark, out, "source", "suffix", "1")
        res = got.agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.count_distinct("source").alias("n_sources")).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(res["n_rows"], res["sum_ids"], res["n_sources"])],
        "n_rows bigint, sum_ids bigint, n_sources bigint")


def q_count_where_any(spark, sf_dir):
    """Tri-state metadata count with one OR clause (CNF like
    decode_filtered): disjoint doc_id ranges over a doc_id-clustered
    store — interior chunks of each branch answer from metadata, the
    middle of the store prunes entirely, and the combined AND+OR form
    stays exact."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_count_filtered
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_cwa_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=32 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="doc_id").collect()
        a = encoded_count_filtered(
            spark, out, [],
            any_filters=[("doc_id", "<", 120),
                         ("doc_id", ">=", 380)]).collect()[0]
        b = encoded_count_filtered(
            spark, out, [("n_chars", ">=", 500)],
            any_filters=[("lang", "==", "de"),
                         ("lang", "==", "fr")]).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(a["n_rows"], b["n_rows"])],
        "n_or bigint, n_and_or bigint")


def q_zorder_count(spark, sf_dir):
    """Z-order layout: encode clustered on the interleaved (n_chars,
    doc_id) Morton key, then a conjunctive two-dimension range count —
    zone maps prune on BOTH dimensions (a single-column sort would give
    all pruning power to one)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_count_filtered
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.layout import zorder_key

    out = tempfile.mkdtemp(prefix="fsst_zo_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=16 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key=zorder_key(docs, ["n_chars", "doc_id"])).collect()
        rows = encoded_count_filtered(
            spark, out,
            [("n_chars", ">=", 200), ("n_chars", "<", 900),
             ("doc_id", ">=", 50), ("doc_id", "<", 450)]).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"],) for r in rows], "n_rows bigint")


def q_encoded_topk(spark, sf_dir):
    """ORDER BY ... LIMIT k pushdown: top-50 n_chars values answered from
    an encoded store clustered on n_chars — zone maps locate the k extreme
    chunks via a guarantee threshold and only those decode."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_topk

    out = tempfile.mkdtemp(prefix="fsst_topk_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "n_chars", "source")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=16 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="n_chars").collect()
        rows = encoded_topk(spark, out, "n_chars", 50).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame([(r["val"],) for r in rows], "val bigint")


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / phones, ordered so one pattern's
    digits never double-count as another): testdata text carries no PII,
    so both sides inject a deterministic doc_id-derived email + phone +
    IP, scrub, and compare per-language counts, total scrubbed length,
    and one full scrubbed document (lexicographic min)."""
    from fsst_spark.pipeline.textstats import pii_scrub

    docs = _docs(spark, sf_dir)
    inj = docs.select(
        "doc_id", "lang",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or +1-202-555-0"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
            F.lit(" from 192.168."), (F.col("doc_id") % 256).cast("string"),
            F.lit("."), ((F.col("doc_id") * 3) % 256).cast("string"),
        ).alias("text"))
    return (
        pii_scrub(inj).groupBy("lang")
        .agg(F.sum("n_pii_email").alias("n_email"),
             F.sum("n_pii_phone").alias("n_phone"),
             F.sum("n_pii_ipv4").alias("n_ipv4"),
             F.sum(F.length("text")).alias("scrub_len"),
             F.min("text").alias("min_text"))
        .orderBy("lang")
    )


def q_para_dedup(spark, sf_dir):
    """Paragraph-level exact dedup (C4-style): 15-word deterministic
    segmentation, first-occurrence survivor corpus-wide, documents
    reassembled from surviving paragraphs; compared per-language on doc
    count, paragraph/survivor counts, total reassembled length, and one
    full reassembled document (lexicographic min)."""
    from fsst_spark.pipeline.dedup import dedup_paragraphs

    docs = _docs(spark, sf_dir)
    out = dedup_paragraphs(docs).join(
        docs.select("doc_id", "lang"), "doc_id")
    return (
        out.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_paras").alias("n_paras"),
             F.sum("n_kept").alias("n_kept"),
             F.sum(F.length("text_dedup")).alias("dedup_len"),
             F.min("text_dedup").alias("min_text"))
        .orderBy("lang")
    )


def q_prefix_decode(spark, sf_dir):
    """Prefix-predicate selective decode (``key LIKE 'p%'``): documents
    clustered on a host-reversed URL key, then decoded through the zone +
    dictionary prefix pruning path; agreement with SQL ``starts_with``
    proves exactness (pruning magnitude is pinned by unit tests)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.layout import url_sort_key

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    df = docs.withColumn(
        "url", F.concat(F.lit("https://"), F.col("source"), F.lit(".net/d/"),
                        F.col("doc_id").cast("string")))
    df = df.withColumn("url_key", url_sort_key(F.col("url"))).drop("url")
    out = tempfile.mkdtemp(prefix="fsst_prefix_q_")
    try:
        encode_job(spark, df, out, num_partitions=4, chunk_bytes=64 << 10,
                   resume=False, unique_col="doc_id",
                   sort_key="url_key").collect()
        rows = (
            decode_filtered(spark, out, "url_key", "prefix", "net.src5")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.min("url_key").alias("min_key"),
                 F.max("url_key").alias("max_key"))
            .collect()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["min_key"], r["max_key"]) for r in rows],
        "n_rows bigint, sum_ids bigint, min_key string, max_key string",
    )


def q_encoded_distinct(spark, sf_dir):
    """SELECT DISTINCT over an encoded store: dict-coded chunks answer from
    their dictionary sections alone (codes unread); the shuffle moves
    per-chunk distinct sets, never rows."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import encoded_distinct

    out = tempfile.mkdtemp(prefix="fsst_distinct_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source")
        encode_job(spark, docs, out, num_partitions=4, chunk_bytes=32 << 10,
                   resume=False, unique_col="doc_id").collect()
        rows = encoded_distinct(spark, out, "lang").collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame([(r["val"],) for r in rows], "val string")


def q_token_topk(spark, sf_dir):
    """Per-language heavy-hitter tokens (top-5 by count, token breaks
    ties): exact window oracle over the unnested token stream."""
    from fsst_spark.pipeline.textstats import token_topk

    return token_topk(_docs(spark, sf_dir), k=5).select(
        F.col("lang"), F.col("tok"), F.col("cnt"), F.col("rank"))


def q_deterministic_sample(spark, sf_dir):
    """Content-keyed reproducible sampling: the survivor set is a pure
    function of (doc_id, salt), so DuckDB reproduces it exactly —
    sum(doc_id) pins the selection, not just its size."""
    from fsst_spark.jobs.decode import deterministic_sample

    docs = _docs(spark, sf_dir)
    samp = deterministic_sample(docs, 0.3, "doc_id", salt="sample")
    return docs.agg(F.count("*").alias("n_total")).crossJoin(
        samp.agg(F.count("*").alias("n_sampled"),
                 F.sum("doc_id").alias("sum_sampled_ids"))
    )


def q_cap_per_group(spark, sf_dir):
    """Domain balancing: at most 7 docs per source (ranked by doc_id);
    sum(doc_id) pins the exact survivor set."""
    from fsst_spark.pipeline.sampling import cap_per_group

    capped = cap_per_group(_docs(spark, sf_dir), "source", 7, "doc_id")
    return capped.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("doc_id").alias("sum_ids"),
    )


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule quality filter (Rae et al. 2021 A1.1): per-rule pass
    counts + overall keep count over the documents table; every rule is
    integer-exact so DuckDB reproduces the flags bit-for-bit."""
    from fsst_spark.pipeline.textstats import gopher_quality_flags

    flags = gopher_quality_flags(_docs(spark, sf_dir))
    aggs = [F.count("*").alias("n_docs")]
    for c in ["word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
              "bullet_ratio_ok", "dup_line_ok", "stopword_ok", "keep"]:
        aggs.append(F.sum(F.col(c).cast("bigint")).alias(f"n_{c}"))
    return flags.agg(*aggs)


def q_minhash_neardup(spark, sf_dir):
    """MinHash-LSH recall gate: every exact-duplicate pair (known from the
    deterministic augmentation) must surface as a verified near-dup pair."""
    from fsst_spark.pipeline.dedup import minhash_lsh_candidates, ngram_jaccard_verify

    aug = _augmented_docs(spark, sf_dir)
    pairs = minhash_lsh_candidates(aug, "text", "doc_id", n_hashes=64, bands=16,
                                   estimate=True)
    # signature-estimate pre-filter (JVM): exact Jaccard only for pairs
    # plausibly above the 0.7 threshold (0.5 leaves >3 sigma of margin at
    # 64 hashes, so true >=0.7 pairs are not lost)
    cand = pairs.filter(F.col("est_jaccard") >= 0.5).select("id_a", "id_b")
    verified = ngram_jaccard_verify(aug, cand, "text", "doc_id", threshold=0.7)
    return _exact_pair_recall(aug, verified.select("id_a", "id_b"))


def q_ngram_jaccard(spark, sf_dir):
    """Exact prefix-filtered n-gram Jaccard self-join (PPJoin family):
    deterministic recall — every exact-duplicate pair MUST be found (no
    LSH probability involved), pinned against the known augmentation."""
    from fsst_spark.pipeline.dedup import ngram_jaccard_pairs

    aug = _augmented_docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.8)
    return _exact_pair_recall(aug, pairs.select("id_a", "id_b"))


def _exact_pair_recall(aug, found_pairs):
    """(n_exact_dup_pairs, n_exact_found, all_exact_found): every known
    exact-duplicate pair must appear in the operator's found pairs."""
    fp = aug.select(F.col("doc_id"), F.md5(F.col("text").cast("binary")).alias("fp"))
    exact = (
        fp.alias("a")
        .join(fp.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    n_exact = exact.agg(F.count("*").alias("n_exact_dup_pairs"))
    n_found = (
        exact.join(found_pairs, ["id_a", "id_b"], "left_semi")
        .agg(F.count("*").alias("n_exact_found"))
    )
    return n_exact.crossJoin(n_found).withColumn(
        "all_exact_found", F.col("n_exact_found") == F.col("n_exact_dup_pairs")
    )


def q_simhash_neardup(spark, sf_dir):
    """Banded SimHash near-dup (hamming <= 3 via 4x16-bit pigeonhole bands):
    exact duplicates have hamming 0, so the same recall gate applies."""
    from fsst_spark.pipeline.dedup import simhash_neardup_pairs

    aug = _augmented_docs(spark, sf_dir)
    pairs = simhash_neardup_pairs(aug, "text", "doc_id", max_hamming=3)
    return _exact_pair_recall(aug, pairs.select("id_a", "id_b"))


def q_winnow_neardup(spark, sf_dir):
    """Winnowing (rolling-hash fingerprint) near-dup recall gate: exact
    duplicates share their entire selected-hash fingerprint, so every
    injected exact-dup pair must surface from the hash self-join."""
    from fsst_spark.pipeline.dedup import winnow_neardup_pairs

    aug = _augmented_docs(spark, sf_dir)
    pairs = winnow_neardup_pairs(aug, "text", "doc_id", min_shared=2)
    return _exact_pair_recall(aug, pairs.select("id_a", "id_b"))


def q_simhash_stats(spark, sf_dir):
    """SimHash invariants: identical texts hash identically, and distinct
    fingerprints never exceed distinct texts."""
    from fsst_spark.pipeline.dedup import simhash_udf

    aug = _augmented_docs(spark, sf_dir)
    df = aug.withColumn("sh", simhash_udf()(F.col("text"))).withColumn(
        "fp", F.md5(F.col("text").cast("binary"))
    )
    per_text = df.groupBy("fp").agg(F.countDistinct("sh").alias("k"))
    totals = df.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("sh").alias("n_sh"),
        F.countDistinct("fp").alias("n_fp"),
    )
    mk = per_text.agg(F.max("k").alias("max_k"))
    return totals.crossJoin(mk).select(
        F.col("n_docs"),
        (F.col("n_sh") <= F.col("n_fp")).alias("simhash_distinct_le_texts"),
        (F.col("max_k") == 1).alias("exact_dups_same_simhash"),
    )


def q_neardup_dedup(spark, sf_dir):
    """Near-dup RESOLUTION gate (pairs -> connected components -> min-id
    survivor -> anti-join): driven by the exact-duplicate pair relation so
    the surviving set — not just its size — is exactly expressible in SQL
    (count + sum of survivor ids pins WHICH docs survive)."""
    from fsst_spark.pipeline.dedup import neardup_dedup

    aug = _augmented_docs(spark, sf_dir)
    fp = aug.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
    pairs = (
        fp.alias("a")
        .join(fp.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    surv = neardup_dedup(aug, pairs=pairs)
    return surv.agg(
        F.count("*").alias("n_survivors"),
        F.sum("doc_id").alias("sum_survivor_ids"),
        F.sum((F.col("doc_id") >= 1000000).cast("long")).alias("n_injected_surviving"),
    )


def q_neardup_dedup_minhash(spark, sf_dir):
    """End-to-end near-dup dedup (MinHash LSH -> est prefilter -> exact
    Jaccard -> components -> survivors). The corpus has genuine near-dups
    among originals (not SQL-expressible), so the oracle checks hard
    invariants: every injected exact duplicate is dropped, no two survivors
    share identical text, and the doc count is exact."""
    from fsst_spark.pipeline.dedup import neardup_dedup

    aug = _augmented_docs(spark, sf_dir)
    surv = neardup_dedup(aug, method="minhash", threshold=0.7)
    fp = surv.select(F.md5(F.col("text").cast("binary")).alias("fp"))
    n_docs = aug.agg(F.count("*").alias("n_docs"))
    checks = surv.agg(
        F.sum((F.col("doc_id") >= 1000000).cast("long")).alias("_inj"),
        F.count("*").alias("_n_surv"),
    )
    distinct_fp = fp.agg(F.countDistinct("fp").alias("_n_fp"))
    return (
        n_docs.crossJoin(checks).crossJoin(distinct_fp)
        .select(
            "n_docs",
            (F.col("_inj") == 0).alias("all_injected_dropped"),
            (F.col("_n_fp") == F.col("_n_surv")).alias("survivors_text_distinct"),
        )
    )


def q_img_neardup(spark, sf_dir):
    """Perceptual-hash (aHash) image near-dup over binary payloads: every
    10th doc's payload is duplicated, and byte-identical payloads must
    collide at hamming 0 through decode -> aHash -> banded hamming join.
    The oracle counts exactly the identical-payload pairs (the fake
    decoder is payload-deterministic, and unrelated payloads land ~32 bits
    apart, far beyond the max_hamming=6 gate)."""
    from fsst_spark.pipeline.multimodal import (FakeMediaDecoder,
                                                image_neardup_pairs)

    aug = _augmented_docs(spark, sf_dir).withColumn(
        "payload", F.col("text").cast("binary"))
    pairs = image_neardup_pairs(aug, "payload", "doc_id",
                                decoder=FakeMediaDecoder())
    return pairs.agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("sum_ids"),
        F.max("hamming").cast("int").alias("max_hamming"),
    )


def q_media_pipeline(spark, sf_dir):
    """Resize + video frame-sample plumbing: every doc's payload resizes
    to a fixed 4x6 RGB buffer (72 bytes) and 'decodes' to 24 fake frames
    sampled every 8th (indices 0/8/16). Counts, byte volumes and index
    sums are exact SQL; the pixel/feature VALUES are pinned by unit tests
    (payload-deterministic)."""
    from fsst_spark.pipeline.multimodal import (FakeMediaDecoder,
                                                FakeVideoDecoder,
                                                image_resize,
                                                video_frame_sample)

    docs = _docs(spark, sf_dir).withColumn(
        "payload", F.col("text").cast("binary"))
    imgs = image_resize(docs, 4, 6, "payload", "doc_id",
                        decoder=FakeMediaDecoder())
    vids = video_frame_sample(docs, every_k=8, payload_col="payload",
                              decoder=FakeVideoDecoder(n_frames=24))
    a = imgs.agg(F.count("*").alias("n_imgs"),
                 F.sum(F.octet_length("rgb")).alias("rgb_bytes")).collect()[0]
    b = vids.agg(F.count("*").alias("n_frames"),
                 F.sum("frame_idx").alias("sum_frame_idx")).collect()[0]
    return spark.createDataFrame(
        [(a["n_imgs"], a["rgb_bytes"], b["n_frames"], b["sum_frame_idx"])],
        "n_imgs bigint, rgb_bytes bigint, n_frames bigint, sum_frame_idx bigint")


def q_multimodal_features(spark, sf_dir):
    from fsst_spark.pipeline.multimodal import FakeMediaDecoder, extract_features

    ev = _docs(spark, sf_dir).withColumn("payload", F.col("text").cast("binary"))
    # payloads are text bytes, not real images: pin the deterministic fake
    # decoder (the default would pick PIL when installed and reject them)
    feats = extract_features(ev, "payload", "doc_id", feat_dim=8,
                             decoder=FakeMediaDecoder())
    return feats.agg(
        F.count("*").alias("n_docs"),
        F.sum("payload_bytes").alias("sum_payload_bytes"),
        F.min(F.size("feat")).cast("long").alias("min_feat_len"),
        F.countDistinct("feat_dim").alias("n_dims"),
    )


def q_fsst_source_asof(spark, sf_dir):
    """Time travel on the commit log: two appends land as commit entries
    0 and 1; reading ``.option('as_of', 0)`` must see exactly the first
    write's rows even though the store has since grown — the Iceberg
    snapshot-read semantics on the store's own append-only log
    (fsst_spark/sources/fsst_source.py FsstReader.partitions)."""
    import shutil
    import tempfile

    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = tempfile.mkdtemp(prefix="fsst_source_asof_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        for half in ("doc_id % 2 = 0", "doc_id % 2 = 1"):
            (docs.where(half).write.format("fsst")
                 .mode("append").option("chunk_bytes", 256 << 10).save(out))
        r = (
            spark.read.format("fsst").option("as_of", 0).load(out)
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_id").alias("sum_ids"),
                 F.sum("n_chars").alias("sum_chars"))
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"])],
        "n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_incremental_decode(spark, sf_dir):
    """Incremental (CDC-style) batch read on the commit log: three appends
    land as commit entries 0..2; ``decode_changes(since=0, until=1)`` must
    return exactly the rows appended by entry 1, with a zone/row filter
    composing inside the range, and ``since=0`` (open-ended) exactly the
    rows of entries 1..2 — the batch sibling of the streaming source
    (fsst_spark/jobs/decode.py decode_changes over
    fsst_spark/sources/fsst_source.py commit_range_pids)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_changes
    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = tempfile.mkdtemp(prefix="fsst_incremental_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        for r3 in range(3):
            (docs.where(f"doc_id % 3 = {r3}").write.format("fsst")
                 .mode("append").option("chunk_bytes", 256 << 10).save(out))
        mid = decode_changes(spark, out, since=0, until=1,
                             filters=[("n_chars", ">=", 300)]).agg(
            F.count("*").alias("mid_rows"),
            F.sum("doc_id").alias("mid_ids")).collect()[0]
        tail = decode_changes(spark, out, since=0).agg(
            F.count("*").alias("tail_rows"),
            F.sum("doc_id").alias("tail_ids")).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(mid["mid_rows"], mid["mid_ids"],
          tail["tail_rows"], tail["tail_ids"])],
        "mid_rows bigint, mid_ids bigint, tail_rows bigint, tail_ids bigint")


def q_advise_layout(spark, sf_dir):
    """Layout advisor: the same table encoded in doc_id order vs
    clustered by n_chars; the advisor's most-zone-selective column
    (lowest mean-span fraction, metadata-only) must be the actual
    clustering key of each store, and the clustered key's estimated
    point-lookup chunk count must beat the scattered one
    (fsst_spark/jobs/stats.py advise_layout)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.stats import advise_layout

    a = tempfile.mkdtemp(prefix="fsst_advise_a_")
    b = tempfile.mkdtemp(prefix="fsst_advise_b_")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, a, chunk_bytes=4 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        encode_job(spark, docs, b, chunk_bytes=4 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id",
                   sort_key="n_chars").collect()
        pa_ = advise_layout(spark, a).collect()
        pb = advise_layout(spark, b).collect()
        best_plain, best_clus = pa_[0]["column"], pb[0]["column"]
        by = {r["column"]: r for r in pb}
        beats = int(by["n_chars"]["est_chunks_scanned_per_point"]
                    < by["doc_id"]["est_chunks_scanned_per_point"])
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        shutil.rmtree(a, ignore_errors=True)
        shutil.rmtree(b, ignore_errors=True)
    return spark.createDataFrame(
        [(best_plain, best_clus, beats)],
        "plain_best string, clustered_best string, clustered_beats bigint")


def q_limit_decode(spark, sf_dir):
    """LIMIT pushdown: ``decode_head`` returns exactly n rows (capped at
    the match count under a filter) while decoding only the chunk prefix
    the limit needs — SELECT * LIMIT n against 100 TB reads one chunk
    file, not the store (fsst_spark/jobs/decode.py decode_head). The
    values oracle pins the row counts and the filter's exactness; the
    chunks-read bound is pinned structurally in tests/test_head.py."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_head
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="fsst_head_q_")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=4 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        plain = decode_head(spark, out, 137).count()
        de = decode_head(spark, out, 10**9, filters=[("lang", "==", "de")])
        n_de = de.count()
        only_de = de.where(F.col("lang") == "de").count()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(plain, n_de, only_de)],
        "n_head bigint, n_de bigint, n_de_exact bigint")


def q_rollback_decode(spark, sf_dir):
    """Snapshot rollback + vacuum: three appends land as commit entries
    0..2; ``rollback_store(to_commit=1)`` retires entry 2's files (trash,
    not unlink), an injected torn-write orphan is then vacuumed, and the
    full decode must equal exactly the first two appends' rows
    (fsst_spark/jobs/admin.py rollback_store/vacuum_store)."""
    import os
    import shutil
    import tempfile

    from fsst_spark.jobs.admin import rollback_store, vacuum_store
    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.sources.fsst_source import register

    register(spark)
    out = tempfile.mkdtemp(prefix="fsst_rollback_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        for r3 in range(3):
            (docs.where(f"doc_id % 3 = {r3}").write.format("fsst")
                 .mode("append").option("chunk_bytes", 256 << 10).save(out))
        rollback_store(out, to_commit=1)
        with open(os.path.join(out, "chunks", "part-99999.parquet"), "wb") as fh:
            fh.write(b"torn write leftover")
        vacuum_store(out, hard=True)
        r = decode_job(spark, out).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars")).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"])],
        "n_rows bigint, sum_ids bigint, sum_chars bigint")


def q_deleted_decode(spark, sf_dir):
    """Merge-on-read row deletes: tombstone lang='de' (position deletes,
    no chunk rewrite), then a full decode must return exactly the
    surviving rows (fsst_spark/jobs/deletes.py delete_where +
    decode-side apply)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="deleted_decode_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        res = delete_where(spark, out, "lang", "==", "de")
        r = decode_job(spark, out).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
            F.count_distinct("lang").alias("n_langs"),
        ).collect()[0]
        deleted = res["deleted_total"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"], r["n_langs"], deleted)],
        "n_rows bigint, sum_ids bigint, sum_chars bigint, n_langs bigint, "
        "n_deleted bigint")


def q_deleted_filtered_decode(spark, sf_dir):
    """Deletes compose with selective decode: after tombstoning lang='de',
    a zone-pruned ``decode_filtered(n_chars >= 500)`` returns rows
    matching BOTH the predicate and the tombstone mask."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_filtered
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="deleted_filtered_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id",
                   sort_key="n_chars").collect()
        delete_where(spark, out, "lang", "==", "de")
        r = decode_filtered(spark, out, "n_chars", ">=", 500).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.min("n_chars").alias("min_chars"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["min_chars"])],
        "n_rows bigint, sum_ids bigint, min_chars bigint")


def q_deleted_count_where(spark, sf_dir):
    """The tri-state metadata count stays EXACT under row tombstones:
    after deleting lang='de', ``count(*) WHERE doc_id >= 250`` answers
    full-match chunks from (n_rows - per-chunk tombstone count) metadata
    and boundary chunks by masking tombstoned positions in-task — no
    materialization needed (fsst_spark/jobs/agg.py)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_count_filtered
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="deleted_count_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id",
                   sort_key="doc_id").collect()
        delete_where(spark, out, "lang", "==", "de")
        r = encoded_count_filtered(
            spark, out, filters=[("doc_id", ">=", 250)]).collect()[0]
        n = r["n_rows"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame([(n,)], "n_rows bigint")


def q_deleted_group_sum(spark, sf_dir):
    """GROUP BY pushdown stays exact under row tombstones: after
    deleting lang='de', ``SELECT lang, count(*), sum(n_chars) GROUP BY
    lang`` answers from codec structure minus the tombstoned positions —
    no materialization, no full decode (fsst_spark/jobs/agg.py)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_sum
    from fsst_spark.jobs.deletes import delete_where
    from fsst_spark.jobs.encode import encode_job

    out = tempfile.mkdtemp(prefix="deleted_group_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        delete_where(spark, out, "lang", "==", "de")
        rows = (encoded_group_sum(spark, out, "lang", "n_chars")
                .orderBy("value").collect())
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["cnt"], r["sum_val"]) for r in rows],
        "value string, cnt bigint, sum_val bigint")


def q_added_column_decode(spark, sf_dir):
    """Metadata-only ADD COLUMN (jobs/schema.add_column): decode readers
    see the new column immediately as NULL for every pre-add chunk (one
    schema-log entry, payloads untouched, O(1) at any store size);
    existing columns stay bit-identical."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.schema import add_column

    out = tempfile.mkdtemp(prefix="added_col_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        add_column(out, "quality", "double")
        dec = decode_job(spark, out).drop("pid", "chunk_id")
        r = dec.agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.count("quality").alias("n_quality"),
            F.lit(len(dec.columns)).cast("long").alias("n_cols"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["n_quality"], r["n_cols"])],
        "n_rows bigint, sum_ids bigint, n_quality bigint, n_cols bigint")


def q_dropped_column_decode(spark, sf_dir):
    """Metadata-only schema evolution: drop_column('source') hides the
    column from every reader in O(1) (payloads untouched); a full decode
    returns the remaining columns bit-identical, and the visible column
    count shrinks (fsst_spark/jobs/schema.py)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.schema import drop_column

    out = tempfile.mkdtemp(prefix="dropped_col_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        drop_column(out, "source")
        dec = decode_job(spark, out).drop("pid", "chunk_id")
        n_cols = len(dec.columns)
        r = dec.agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.count_distinct("lang").alias("n_langs"),
        ).collect()[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["n_langs"], n_cols)],
        "n_rows bigint, sum_ids bigint, n_langs bigint, n_cols bigint")


def q_updated_decode(spark, sf_dir):
    """Merge-on-read UPDATE: new row versions appended as fresh
    partitions, originals tombstoned pid-restricted (so new versions
    that still match the predicate survive) — cardinality is preserved
    and the decoded store equals SQL's CASE WHEN update
    (fsst_spark/jobs/updates.py)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.updates import update_where

    out = tempfile.mkdtemp(prefix="updated_decode_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        res = update_where(spark, out, {"n_chars": "n_chars + 1000"},
                           "lang", "==", "de", chunk_bytes=64 << 10)
        r = decode_job(spark, out).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        ).collect()[0]
        upd = res["updated"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"], upd)],
        "n_rows bigint, sum_ids bigint, sum_chars bigint, n_updated bigint")


def q_merged_decode(spark, sf_dir):
    """MERGE INTO (upsert): rows whose doc_id appears in the source are
    replaced, new keys insert — decoded store equals the SQL anti-join +
    union (fsst_spark/jobs/updates.py merge_upsert)."""
    import shutil
    import tempfile

    from fsst_spark.jobs.decode import decode_job
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.jobs.updates import merge_upsert

    out = tempfile.mkdtemp(prefix="merged_decode_q_")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        source = (docs.where("doc_id % 10 = 0")
                  .withColumn("n_chars", F.col("n_chars") + 7))
        res = merge_upsert(spark, out, source, "doc_id",
                           chunk_bytes=64 << 10)
        r = decode_job(spark, out).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum("n_chars").alias("sum_chars"),
        ).collect()[0]
        tomb = res["tombstoned"]
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        [(r["n_rows"], r["sum_ids"], r["sum_chars"], tomb)],
        "n_rows bigint, sum_ids bigint, sum_chars bigint, n_replaced bigint")


def q_materialized_deletes(spark, sf_dir):
    """Delete lifecycle end-to-end: tombstone lang='de', fold the
    tombstones into a new store (materialize_deletes — the Iceberg
    rewrite_data_files analog), then answer a GROUP BY from the NEW
    store's metadata fast path (which refuses on the old one)."""
    import os
    import shutil
    import tempfile

    from fsst_spark.jobs.agg import encoded_group_count
    from fsst_spark.jobs.deletes import delete_where, materialize_deletes
    from fsst_spark.jobs.encode import encode_job

    root = tempfile.mkdtemp(prefix="materialized_deletes_q_")
    store, folded = os.path.join(root, "store"), os.path.join(root, "folded")
    try:
        docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
        encode_job(spark, docs, store, chunk_bytes=64 << 10, resume=False,
                   pre_partitioned=True, unique_col="doc_id").collect()
        delete_where(spark, store, "lang", "==", "de")
        materialize_deletes(spark, store, folded,
                            chunk_bytes=64 << 10).collect()
        out = (encoded_group_count(spark, folded, "lang")
               .orderBy("value").collect())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        [(r["value"], r["cnt"]) for r in out], "value string, cnt bigint")


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: auto-selected codec round-trip summary on sf0.001 docs
    (full detail incl. raw/encoded bytes + compression ratio)."""
    from fsst_spark.jobs.roundtrip import codec_summary

    return codec_summary(_docs(spark, "/root/testdata/sf0.001"), _CODEC_COLS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "fsst_roundtrip_text": q_fsst_roundtrip_text,
        "dict_roundtrip_lang": q_dict_roundtrip_lang,
        "int_roundtrip_docid": q_int_roundtrip_docid,
        "rle_roundtrip_orderkey": q_rle_roundtrip_orderkey,
        "bitpack_roundtrip_linenumber": q_bitpack_roundtrip_linenumber,
        "double_roundtrip_price": q_double_roundtrip_price,
        "embedding_roundtrip": q_embedding_roundtrip,
        "embedding_store_decode": q_embedding_store_decode,
        "ts_roundtrip_events": q_ts_roundtrip_events,
        "codec_selection_summary": q_codec_selection_summary,
        "codec_selection_detail": q_codec_selection_detail,
        "dedup_exact": q_dedup_exact,
        "token_quality_stats": q_token_quality_stats,
        "lang_id": q_lang_id,
        "split_docs": q_split_docs,
        "bpe_pairs": q_bpe_pairs,
        "bpe_train": q_bpe_train,
        "zonemap_decode": q_zonemap_decode,
        "zonemap_decode_multi": q_zonemap_decode_multi,
        "dict_prune_decode": q_dict_prune_decode,
        "contains_decode": q_contains_decode,
        "bloom_point_decode": q_bloom_point_decode,
        "fsst_source_scan": q_fsst_source_scan,
        "fsst_source_append": q_fsst_source_append,
        "fsst_source_stream": q_fsst_source_stream,
        "fsst_stream_write": q_fsst_stream_write,
        "fsst_source_columns": q_fsst_source_columns,
        "fsst_source_asof": q_fsst_source_asof,
        "incremental_decode": q_incremental_decode,
        "rollback_decode": q_rollback_decode,
        "limit_decode": q_limit_decode,
        "advise_layout": q_advise_layout,
        "deleted_decode": q_deleted_decode,
        "deleted_filtered_decode": q_deleted_filtered_decode,
        "deleted_count_where": q_deleted_count_where,
        "deleted_group_sum": q_deleted_group_sum,
        "dropped_column_decode": q_dropped_column_decode,
        "added_column_decode": q_added_column_decode,
        "updated_decode": q_updated_decode,
        "merged_decode": q_merged_decode,
        "materialized_deletes": q_materialized_deletes,
        "asof_join": q_asof_join,
        "session_stats": q_session_stats,
        "temperature_sample": q_temperature_sample,
        "encoded_quantiles": q_encoded_quantiles,
        "front_roundtrip_url": q_front_roundtrip_url,
        "encoded_profile": q_encoded_profile,
        "recluster_decode": q_recluster_decode,
        "or_filter_decode": q_or_filter_decode,
        "repetition_stats": q_repetition_stats,
        "decode_semijoin": q_decode_semijoin,
        "store_join": q_store_join,
        "store_join_df": q_store_join_df,
        "multi_store_decode": q_multi_store_decode,
        "family_stats": q_family_stats,
        "advise_codecs": q_advise_codecs,
        "mix_sources": q_mix_sources,
        "encoded_ndv": q_encoded_ndv,
        "url_sort_key": q_url_sort_key,
        "extract_roundtrip": q_extract_roundtrip,
        "extract_links": q_extract_links,
        "crawl_frontier": q_crawl_frontier,
        "clustered_decode": q_clustered_decode,
        "encoded_stats": q_encoded_stats,
        "encoded_minmax": q_encoded_minmax,
        "strlen_stats": q_strlen_stats,
        "compacted_decode": q_compacted_decode,
        "encoded_group_count": q_encoded_group_count,
        "encoded_group_sum": q_encoded_group_sum,
        "strlen_group": q_strlen_group,
        "group_ndv": q_group_ndv,
        "histogram": q_histogram,
        "histogram_hourly": q_histogram_hourly,
        "encoded_sum": q_encoded_sum,
        "group_stats": q_group_stats,
        "group_topk": q_group_topk,
        "group_minmax": q_group_minmax,
        "filtered_group_sum": q_filtered_group_sum,
        "count_where": q_count_where,
        "count_where_any": q_count_where_any,
        "rlike_decode": q_rlike_decode,
        "suffix_decode": q_suffix_decode,
        "zorder_count": q_zorder_count,
        "encoded_topk": q_encoded_topk,
        "pii_scrub": q_pii_scrub,
        "para_dedup": q_para_dedup,
        "prefix_decode": q_prefix_decode,
        "encoded_distinct": q_encoded_distinct,
        "token_topk": q_token_topk,
        "deterministic_sample": q_deterministic_sample,
        "cap_per_group": q_cap_per_group,
        "gopher_quality": q_gopher_quality,
        "minhash_neardup": q_minhash_neardup,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_neardup": q_simhash_neardup,
        "simhash_stats": q_simhash_stats,
        "winnow_neardup": q_winnow_neardup,
        "neardup_dedup": q_neardup_dedup,
        "neardup_dedup_minhash": q_neardup_dedup_minhash,
        "img_neardup": q_img_neardup,
        "media_pipeline": q_media_pipeline,
        "multimodal_features": q_multimodal_features,
    }


_NORM_FP = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"

# Same deterministic duplicate augmentation as _augmented_docs (Spark side).
_AUG_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0"
)


# Per-document Gopher rule metrics (shared by the gopher_quality and
# curation_pipeline oracles); keeps doc_id/source so downstream stages
# can chain off the keep predicate.
_GOPHER_F_SQL = (
    "SELECT doc_id, source, text, "
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words, "
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'), "
    "w -> len(w))) END AS sum_wl, "
    "len(trim(text)) - len(replace(trim(text), '#', '')) AS n_hash, "
    "len(regexp_extract_all(trim(text), '\\.\\.\\.')) AS n_ell, "
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(regexp_split_to_array(trim(text), '\\n')) END AS n_lines, "
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(list_filter(regexp_split_to_array(trim(text), '\\n'), "
    "ln -> regexp_matches(trim(ln), '^[-*•]'))) END AS n_bullet, "
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(regexp_split_to_array(trim(text), '\\n')) - "
    "len(list_distinct(regexp_split_to_array(trim(text), '\\n'))) END AS n_dup, "
    "CASE WHEN trim(text) = '' THEN 0 ELSE "
    "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
    "x -> x IN ('the','and','of','to','is','in','a','that','it','for'))) "
    "END AS n_stop FROM documents"
)

_GOPHER_KEEP_SQL = (
    "n_words BETWEEN 50 AND 100000 "
    "AND 3 * n_words <= sum_wl AND sum_wl <= 10 * n_words "
    "AND 10 * (n_hash + n_ell) <= n_words "
    "AND 10 * n_bullet < 9 * n_lines "
    "AND 10 * n_dup <= 3 * n_lines AND n_stop >= 2"
)


def oracle_sql() -> dict[str, str]:
    return {
        "fsst_roundtrip_text": (
            "SELECT lang, count(*) AS n_rows, count(*) AS n_match "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "dict_roundtrip_lang": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "count(DISTINCT lang) AS ndv FROM documents"
        ),
        "int_roundtrip_docid": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_doc_id FROM documents"
        ),
        "rle_roundtrip_orderkey": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey FROM lineitem"
        ),
        "bitpack_roundtrip_linenumber": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber FROM lineitem"
        ),
        "double_roundtrip_price": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price "
            "FROM lineitem"
        ),
        "ts_roundtrip_events": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "min(epoch_us(ts)) AS min_ts_us, max(epoch_us(ts)) AS max_ts_us FROM events"
        ),
        "embedding_roundtrip": (
            "SELECT count(*) AS n_rows, count(*) AS n_match, "
            "CAST(sum(len(embedding)) AS BIGINT) AS total_elems, "
            "min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id FROM embeddings"
        ),
        "embedding_store_decode": (
            "SELECT count(*) AS n_rows, "
            "CAST(sum(len(embedding)) AS BIGINT) AS total_elems, "
            "CAST(sum(vec_id) AS BIGINT) AS sum_vec_id, "
            "CAST(sum(label) AS BIGINT) AS sum_label FROM embeddings"
        ),
        "dedup_exact": (
            f"WITH g AS (SELECT {_NORM_FP} AS fp, count(*) AS cnt "
            "FROM documents GROUP BY 1) "
            "SELECT CAST(sum(cnt) AS BIGINT) AS n_docs, count(*) AS n_distinct, "
            "CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_docs FROM g"
        ),
        "token_quality_stats": (
            "SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS sum_chars, "
            "CAST(sum(CASE WHEN trim(text) = '' THEN 0 "
            "    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS sum_tokens, "
            "CAST(sum(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]+'))) AS BIGINT) AS sum_bpe_tokens, "
            "CAST(sum(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g'))) AS BIGINT) AS sum_punct, "
            "CAST(sum(CASE WHEN trim(text) = '' THEN 0 ELSE "
            "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
            "x -> x IN ('the','and','of','to','is','in','a','that','it','for'))) "
            "END) AS BIGINT) AS sum_stopwords, "
            "CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "split_docs": (
            "WITH w AS (SELECT doc_id, list_filter("
            "regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words "
            "FROM documents WHERE doc_id % 97 = 0), "
            "nz AS (SELECT doc_id, words, len(words) AS nw FROM w "
            "WHERE len(words) > 0), "
            "e AS (SELECT doc_id, words, nw, unnest(range(0, "
            "CAST(floor((nw - 1) / 40) AS BIGINT) + 1)) AS piece FROM nz) "
            "SELECT doc_id, piece AS piece_id, "
            "array_to_string(words[piece * 40 + 1 : piece * 40 + 40], ' ') "
            "AS piece_text, "
            "CAST(least(40, nw - piece * 40) AS BIGINT) AS piece_words "
            "FROM e ORDER BY doc_id, piece_id"
        ),
        "bpe_pairs": (
            "WITH words AS (SELECT unnest(list_filter("
            "regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word "
            "FROM documents), "
            "wf AS (SELECT word, count(*) AS f FROM words GROUP BY word "
            "HAVING length(word) >= 2), "
            "p AS (SELECT word[i + 1 : i + 1] AS \"left\", "
            "word[i + 2 : i + 2] AS \"right\", f "
            "FROM wf, unnest(range(0, length(word) - 1)) AS t(i)) "
            "SELECT \"left\", \"right\", CAST(sum(f) AS BIGINT) AS freq "
            "FROM p GROUP BY \"left\", \"right\" "
            "ORDER BY freq DESC, \"left\", \"right\" LIMIT 20"
        ),
        "lang_id": (
            "SELECT CASE "
            "WHEN regexp_matches(text, '[一-鿿]') THEN 'zh' "
            "WHEN regexp_matches(text, '[぀-ヿ]') THEN 'ja' "
            "WHEN regexp_matches(text, '[가-힯]') THEN 'ko' "
            "WHEN regexp_matches(text, '[Ѐ-ӿ]') THEN 'ru' "
            "WHEN regexp_matches(text, '[؀-ۿ]') THEN 'ar' "
            "WHEN regexp_matches(text, '(?i)\\b(der|die|und|nicht|ist)\\b') THEN 'de' "
            "WHEN regexp_matches(text, '(?i)\\b(le|la|les|est|dans)\\b') THEN 'fr' "
            "WHEN regexp_matches(text, '(?i)\\b(el|los|las|es|para)\\b') THEN 'es' "
            "WHEN regexp_matches(text, '(?i)\\b(the|and|of|to|is)\\b') THEN 'en' "
            "ELSE 'und' END AS pred, count(*) AS n_docs "
            "FROM documents GROUP BY 1 ORDER BY 1"
        ),
        "codec_selection_summary": (
            "WITH c(col) AS (VALUES ('doc_id'), ('lang'), ('n_chars'), ('source'), ('text')) "
            'SELECT col AS "column", (SELECT count(*) FROM documents) AS n_rows, '
            "(SELECT count(*) FROM documents) AS n_match FROM c ORDER BY col"
        ),
        "deterministic_sample": (
            "WITH s AS (SELECT doc_id FROM documents "
            "WHERE substr(md5(doc_id::VARCHAR || ':sample'), 1, 8) < '"
            + format(int(0.3 * (1 << 32)), "08x") + "') "
            "SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_total, "
            "CAST(count(*) AS BIGINT) AS n_sampled, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_sampled_ids FROM s"
        ),
        "cap_per_group": (
            "WITH c AS (SELECT doc_id, source FROM documents "
            "QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) <= 7) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM c"
        ),
        "gopher_quality": (
            f"WITH f AS ({_GOPHER_F_SQL}), "
            "g AS (SELECT (n_words BETWEEN 50 AND 100000) AS wc, "
            "(3 * n_words <= sum_wl AND sum_wl <= 10 * n_words) AS mwl, "
            "(10 * (n_hash + n_ell) <= n_words) AS sym, "
            "(10 * n_bullet < 9 * n_lines) AS bul, "
            "(10 * n_dup <= 3 * n_lines) AS dup, "
            "(n_stop >= 2) AS stw FROM f) "
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(CASE WHEN wc THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count_ok, "
            "CAST(sum(CASE WHEN mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_word_len_ok, "
            "CAST(sum(CASE WHEN sym THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol_ratio_ok, "
            "CAST(sum(CASE WHEN bul THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet_ratio_ok, "
            "CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_line_ok, "
            "CAST(sum(CASE WHEN stw THEN 1 ELSE 0 END) AS BIGINT) AS n_stopword_ok, "
            "CAST(sum(CASE WHEN wc AND mwl AND sym AND bul AND dup AND stw "
            "THEN 1 ELSE 0 END) AS BIGINT) AS n_keep FROM g"
        ),
        "zonemap_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM documents WHERE n_chars >= 300"
        ),
        "zonemap_decode_multi": (
            # price = n_chars/100.0: IEEE division is correctly rounded in
            # both engines, so the float predicate is deterministic
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM documents WHERE n_chars >= 300 "
            "AND CAST(n_chars AS DOUBLE) / 100.0 <= 9.0 AND doc_id > 100"
        ),
        "dict_prune_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM documents WHERE lang = 'de'"
        ),
        "contains_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM documents WHERE position('data' IN text) > 0 "
            "AND position('rc1' IN source) > 0"
        ),
        "bloom_point_decode": (
            "WITH u AS (SELECT doc_id, 'https://d' || "
            "CAST(doc_id % 97 AS VARCHAR) || '.example.net/' || "
            "CAST(doc_id AS VARCHAR) AS url FROM documents) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "min(url) AS min_url, max(url) AS max_url FROM u "
            "WHERE url IN ('https://d77.example.net/77', "
            "'https://d26.example.net/123', 'https://d23.example.net/411')"
        ),
        "front_roundtrip_url": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(*) AS BIGINT) AS n_match, "
            "'str_front' AS codec FROM documents"
        ),
        "recluster_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM documents WHERE n_chars >= 400"
        ),
        "fsst_source_scan": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents WHERE lang = 'de' AND n_chars >= 300"
        ),
        "fsst_source_append": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs "
            "FROM documents"
        ),
        "fsst_source_stream": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents"
        ),
        "fsst_stream_write": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents"
        ),
        "encoded_quantiles": (
            "WITH o AS (SELECT n_chars AS v, "
            "row_number() OVER (ORDER BY n_chars) AS r, "
            "count(*) OVER () AS n FROM documents), "
            "qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q) "
            "SELECT q, CAST(min(v) AS BIGINT) AS val FROM o, qs "
            "WHERE r = CAST(ceil(q * n) AS BIGINT) GROUP BY q ORDER BY q"
        ),
        "asof_join": (
            # the exact mirror of the union+window plan, tie rule included:
            # right rows sort first at equal ts (inclusive bound), largest
            # event_id wins among tied right rows, match rides in ONE struct
            "WITH u AS ("
            "  SELECT user_id, ts, 0 AS side, event_id AS tb, NULL::BIGINT AS click_id, "
            "         struct_pack(eid := event_id, val := value) AS r "
            "  FROM events WHERE event_type = 'view' AND ts IS NOT NULL "
            "  UNION ALL "
            "  SELECT user_id, ts, 1, NULL, event_id, NULL "
            "  FROM events WHERE event_type = 'click'"
            "), c AS ("
            "  SELECT *, last_value(r IGNORE NULLS) OVER ("
            "    PARTITION BY user_id "
            "    ORDER BY ts ASC NULLS FIRST, side ASC, tb ASC NULLS FIRST "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m "
            "  FROM u) "
            "SELECT click_id, m.eid AS view_id, "
            "round(m.val, 6) AS view_value "
            "FROM c WHERE side = 1"
        ),
        "session_stats": (
            "WITH e AS (SELECT user_id, ts, event_id, epoch_us(ts) AS us "
            "           FROM events WHERE ts IS NOT NULL), "
            "l AS (SELECT *, lag(us) OVER "
            "      (PARTITION BY user_id ORDER BY ts, event_id) AS pus FROM e), "
            "s AS (SELECT *, CAST(sum(CASE WHEN pus IS NULL "
            "      OR us - pus > 21600000000 THEN 1 ELSE 0 END) OVER "
            "      (PARTITION BY user_id ORDER BY ts, event_id "
            "       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
            "      AS session_seq FROM l) "
            "SELECT user_id, session_seq, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(max(us) - min(us) AS BIGINT) AS dur_us "
            "FROM s GROUP BY user_id, session_seq"
        ),
        "temperature_sample": (
            # thresholds AND the per-row md5 test re-derived in SQL: the
            # survivor SET (pinned by sum_ids) must match, not just counts
            "WITH n AS (SELECT source, CAST(count(*) AS DOUBLE) AS n "
            "           FROM documents GROUP BY source), "
            "z AS (SELECT sum(pow(n, 0.5)) AS z FROM n), "
            "t AS (SELECT source, CASE WHEN q >= 1.0 THEN 'g' ELSE "
            "      lower(lpad(to_hex(CAST(floor(q * 4294967296.0) AS BIGINT)), 8, '0')) END AS thr "
            "      FROM (SELECT source, "
            "            least(1.0, 120.0 * pow(n, 0.5) / (z * n)) AS q "
            "            FROM n, z)), "
            "k AS (SELECT d.source, d.doc_id FROM documents d JOIN t USING (source) "
            "      WHERE substr(md5(d.doc_id || ':temp'), 1, 8) < t.thr) "
            "SELECT source, CAST(count(*) AS BIGINT) AS n_kept, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM k GROUP BY source ORDER BY source"
        ),
        "advise_codecs": (
            # the selector's choices are content properties of the corpus,
            # stable across sf — pinned literally (see q_advise_codecs)
            "SELECT * FROM (VALUES ('doc_id', 'int_delta'), "
            "('lang', 'str_dict'), ('n_chars', 'int_for'), "
            "('source', 'str_dict'), ('text', 'str_fsst')) "
            "AS t(\"column\", codec) ORDER BY \"column\""
        ),
        "mix_sources": (
            # weights {src1:3, src2:1, src3:1} normalized to {0.6,0.2,0.2};
            # thresholds + per-row md5 test re-derived in SQL so the
            # survivor SET matches (sum_ids), not just counts
            "WITH w AS (SELECT * FROM (VALUES ('src1', 0.6), ('src2', 0.2), "
            "           ('src3', 0.2)) AS t(source, w)), "
            "n AS (SELECT source, CAST(count(*) AS DOUBLE) AS n "
            "      FROM documents GROUP BY source), "
            "t AS (SELECT source, CASE WHEN q >= 1.0 THEN 'g' ELSE "
            "      lower(lpad(to_hex(CAST(floor(q * 4294967296.0) AS BIGINT)), 8, '0')) END AS thr "
            "      FROM (SELECT n.source, least(1.0, 60.0 * w.w / n.n) AS q "
            "            FROM n JOIN w USING (source))), "
            "k AS (SELECT d.source, d.doc_id FROM documents d JOIN t USING (source) "
            "      WHERE substr(md5(d.doc_id || ':mix'), 1, 8) < t.thr) "
            "SELECT source, CAST(count(*) AS BIGINT) AS n_kept, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM k GROUP BY source ORDER BY source"
        ),
        "fsst_source_columns": (
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "fsst_source_asof": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents WHERE doc_id % 2 = 0"
        ),
        "incremental_decode": (
            "SELECT "
            "CAST((SELECT count(*) FROM documents "
            "      WHERE doc_id % 3 = 1 AND n_chars >= 300) AS BIGINT) "
            "AS mid_rows, "
            "CAST((SELECT sum(doc_id) FROM documents "
            "      WHERE doc_id % 3 = 1 AND n_chars >= 300) AS BIGINT) "
            "AS mid_ids, "
            "CAST((SELECT count(*) FROM documents WHERE doc_id % 3 != 0) "
            "AS BIGINT) AS tail_rows, "
            "CAST((SELECT sum(doc_id) FROM documents WHERE doc_id % 3 != 0) "
            "AS BIGINT) AS tail_ids"
        ),
        "rollback_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents WHERE doc_id % 3 != 2"
        ),
        "advise_layout": (
            "SELECT 'doc_id' AS plain_best, 'n_chars' AS clustered_best, "
            "CAST(1 AS BIGINT) AS clustered_beats"
        ),
        "limit_decode": (
            "SELECT CAST(least(137, count(*)) AS BIGINT) AS n_head, "
            "CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_de, "
            "CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_de_exact "
            "FROM documents"
        ),
        "deleted_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, "
            "CAST((SELECT count(*) FROM documents WHERE lang = 'de') "
            "AS BIGINT) AS n_deleted "
            "FROM documents WHERE lang <> 'de'"
        ),
        "deleted_filtered_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(min(n_chars) AS BIGINT) AS min_chars "
            "FROM documents WHERE lang <> 'de' AND n_chars >= 500"
        ),
        "materialized_deletes": (
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS cnt "
            "FROM documents WHERE lang <> 'de' "
            "GROUP BY lang ORDER BY value"
        ),
        "deleted_count_where": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows "
            "FROM documents WHERE lang <> 'de' AND doc_id >= 250"
        ),
        "deleted_group_sum": (
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_val "
            "FROM documents WHERE lang <> 'de' "
            "GROUP BY lang ORDER BY value"
        ),
        "added_column_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(0 AS BIGINT) AS n_quality, "
            "CAST(4 AS BIGINT) AS n_cols "
            "FROM documents"
        ),
        "dropped_column_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, "
            "CAST(3 AS BIGINT) AS n_cols "
            "FROM documents"
        ),
        "updated_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(CASE WHEN lang = 'de' THEN n_chars + 1000 "
            "ELSE n_chars END) AS BIGINT) AS sum_chars, "
            "CAST((SELECT count(*) FROM documents WHERE lang = 'de') "
            "AS BIGINT) AS n_updated "
            "FROM documents"
        ),
        "merged_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(CASE WHEN doc_id % 10 = 0 THEN n_chars + 7 "
            "ELSE n_chars END) AS BIGINT) AS sum_chars, "
            "CAST((SELECT count(*) FROM documents WHERE doc_id % 10 = 0) "
            "AS BIGINT) AS n_replaced "
            "FROM documents"
        ),
        "or_filter_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents WHERE n_chars >= 300 "
            "AND (doc_id < 50 OR lang = 'fr')"
        ),
        "encoded_profile": (
            "SELECT * FROM ("
            "SELECT 'doc_id' AS \"column\", "
            "CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(0 AS BIGINT) AS n_nulls, 'int_delta' AS codecs "
            "FROM documents "
            "UNION ALL SELECT 'lang', CAST(count(*) AS BIGINT), "
            "CAST(count(*) FILTER (doc_id % 7 = 0) AS BIGINT), 'str_dict' "
            "FROM documents) ORDER BY \"column\""
        ),
        "repetition_stats": (
            "WITH d AS (SELECT doc_id, trim(CASE WHEN doc_id % 10 = 0 "
            "THEN text || chr(10) || 'repeat me repeat me repeat me repeat me'"
            " || chr(10) || 'repeat me repeat me repeat me repeat me' "
            "ELSE text END) AS t FROM documents), "
            "w AS (SELECT doc_id, length(t) AS n_chars, "
            "regexp_split_to_array(t, '\\s+') AS wd, "
            "string_split(t, chr(10)) AS ln FROM d), "
            "grams AS ("
            "SELECT doc_id, n_chars, 'N' AS kind, '' AS g FROM w "
            "UNION ALL SELECT doc_id, n_chars, 'L', unnest(ln) FROM w "
            "UNION ALL SELECT doc_id, n_chars, '2', unnest(CASE WHEN "
            "len(wd) >= 2 THEN list_transform(generate_series(1, len(wd)-1), "
            "i -> wd[i] || ' ' || wd[i+1]) ELSE [] END) FROM w "
            "UNION ALL SELECT doc_id, n_chars, '5', unnest(CASE WHEN "
            "len(wd) >= 5 THEN list_transform(generate_series(1, len(wd)-4), "
            "i -> array_to_string(wd[i:i+4], ' ')) ELSE [] END) FROM w), "
            "c AS (SELECT doc_id, kind, g, count(*) AS cnt, "
            "any_value(n_chars) AS n_chars FROM grams GROUP BY 1, 2, 3), "
            "a AS (SELECT doc_id, any_value(n_chars) AS n_chars, "
            "coalesce(sum(CASE WHEN kind='L' AND cnt>1 THEN cnt*length(g) "
            "END), 0) AS lc, "
            "coalesce(max(CASE WHEN kind='2' THEN cnt*length(g) END), 0) AS g2, "
            "coalesce(sum(CASE WHEN kind='5' AND cnt>1 THEN cnt*length(g) "
            "END), 0) AS g5 FROM c GROUP BY doc_id), "
            "p AS (SELECT doc_id, "
            "CASE WHEN n_chars=0 THEN 0 ELSE (lc*100)//n_chars END AS dlp, "
            "CASE WHEN n_chars=0 THEN 0 ELSE (g2*100)//n_chars END AS tbp, "
            "CASE WHEN n_chars=0 THEN 0 ELSE (g5*100)//n_chars END AS d5p "
            "FROM a) "
            "SELECT CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(dlp) AS BIGINT) AS sum_dup_line_pct, "
            "CAST(sum(tbp) AS BIGINT) AS sum_top_bigram_pct, "
            "CAST(sum(d5p) AS BIGINT) AS sum_dup_5gram_pct, "
            "CAST(count(*) FILTER (dlp <= 20 AND tbp <= 20 AND d5p <= 15) "
            "AS BIGINT) AS n_keep FROM p"
        ),
        "decode_semijoin": (
            "WITH u AS (SELECT doc_id, lang, 'https://d' || "
            "CAST(doc_id % 97 AS VARCHAR) || '.example.net/' || "
            "CAST(doc_id AS VARCHAR) AS url FROM documents) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM u "
            "WHERE url IN (SELECT url FROM u WHERE lang = 'de')"
        ),
        "store_join": (
            "WITH r AS (SELECT doc_id, CAST(n_chars * 2 AS BIGINT) AS score "
            "FROM documents WHERE doc_id < 500) "
            "SELECT "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents l "
            " JOIN r USING (doc_id)) AS n_rows, "
            "(SELECT CAST(sum(l.doc_id) AS BIGINT) FROM documents l "
            " JOIN r USING (doc_id)) AS sum_ids, "
            "(SELECT CAST(sum(l.n_chars) AS BIGINT) FROM documents l "
            " JOIN r USING (doc_id)) AS sum_n_chars, "
            "(SELECT CAST(sum(r.score) AS BIGINT) FROM documents l "
            " JOIN r USING (doc_id)) AS sum_score, "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_left, "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents l "
            " WHERE l.doc_id NOT IN (SELECT doc_id FROM r)) AS n_unmatched"
        ),
        "store_join_df": (
            "WITH p AS (SELECT doc_id, CAST(doc_id * 3 AS BIGINT) AS tag "
            "FROM documents WHERE doc_id % 7 = 0) "
            "SELECT "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents d "
            " JOIN p USING (doc_id)) AS n_inner, "
            "(SELECT CAST(sum(d.doc_id) AS BIGINT) FROM documents d "
            " JOIN p USING (doc_id)) AS sum_ids, "
            "(SELECT CAST(sum(p.tag) AS BIGINT) FROM documents d "
            " JOIN p USING (doc_id)) AS sum_tags, "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_left, "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents d "
            " WHERE d.doc_id NOT IN (SELECT doc_id FROM p)) AS n_nullfill, "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents d "
            " WHERE d.doc_id NOT IN (SELECT doc_id FROM p)) AS n_anti"
        ),
        "multi_store_decode": (
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
            "FROM documents WHERE n_chars >= 500 GROUP BY lang"
        ),
        "family_stats": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(min(doc_id) AS BIGINT) AS min_id, "
            "CAST(max(doc_id) AS BIGINT) AS max_id, "
            "CAST(max(n_chars) AS BIGINT) AS max_chars, "
            "min(lang) AS min_lang, max(lang) AS max_lang, "
            "CAST(count(DISTINCT lang) AS BIGINT) AS ndv_lang "
            "FROM documents"
        ),
        "encoded_ndv": (
            "SELECT * FROM (VALUES "
            "('doc_id', (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) "
            "FROM documents), TRUE), "
            "('lang', (SELECT CAST(count(DISTINCT lang) AS BIGINT) "
            "FROM documents), TRUE), "
            "('source', (SELECT CAST(count(DISTINCT source) AS BIGINT) "
            "FROM documents), TRUE)) "
            "AS t(\"column\", exact_ndv, est_within_6pct)"
        ),
        "token_topk": (
            "WITH t AS (SELECT lang, unnest(regexp_split_to_array("
            "lower(trim(text)), '\\s+')) AS tok FROM documents "
            "WHERE trim(text) <> ''), "
            "c AS (SELECT lang, tok, count(*) AS cnt FROM t "
            "WHERE tok <> '' GROUP BY 1, 2), "
            "r AS (SELECT lang, tok, CAST(cnt AS BIGINT) AS cnt, "
            "CAST(row_number() OVER (PARTITION BY lang "
            "ORDER BY cnt DESC, tok) AS INTEGER) AS rank FROM c) "
            "SELECT lang, tok, cnt, rank FROM r WHERE rank <= 5"
        ),
        "encoded_stats": (
            "SELECT * FROM ("
            "SELECT 'doc_id' AS \"column\", CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(min(doc_id) AS BIGINT) AS min_long, "
            "CAST(max(doc_id) AS BIGINT) AS max_long FROM documents "
            "UNION ALL "
            "SELECT 'n_chars', CAST(count(*) AS BIGINT), "
            "CAST(min(n_chars) AS BIGINT), CAST(max(n_chars) AS BIGINT) "
            "FROM documents) ORDER BY \"column\""
        ),
        "strlen_stats": (
            # strlen() is DuckDB's BYTE length (= Spark octet_length)
            "SELECT * FROM ("
            "SELECT 'lang' AS \"column\", CAST(count(lang) AS BIGINT) AS n_values, "
            "CAST(sum(strlen(lang)) AS BIGINT) AS sum_bytes, "
            "CAST(sum(strlen(lang)) AS DOUBLE) / count(lang) AS avg_bytes, "
            "CAST(min(strlen(lang)) AS BIGINT) AS min_bytes, "
            "CAST(max(strlen(lang)) AS BIGINT) AS max_bytes FROM documents "
            "UNION ALL "
            "SELECT 'text', CAST(count(text) AS BIGINT), "
            "CAST(sum(strlen(text)) AS BIGINT), "
            "CAST(sum(strlen(text)) AS DOUBLE) / count(text), "
            "CAST(min(strlen(text)) AS BIGINT), "
            "CAST(max(strlen(text)) AS BIGINT) FROM documents"
            ") ORDER BY \"column\""
        ),
        "compacted_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes FROM documents"
        ),
        "encoded_group_count": (
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS cnt "
            "FROM documents GROUP BY lang ORDER BY value"
        ),
        "encoded_group_sum": (
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_val "
            "FROM documents GROUP BY lang ORDER BY value"
        ),
        "strlen_group": (
            # strlen() is DuckDB's BYTE length (= Spark octet_length)
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(text) AS BIGINT) AS n_values, "
            "CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes, "
            "CAST(sum(strlen(text)) AS DOUBLE) / count(text) AS avg_bytes, "
            "CAST(min(strlen(text)) AS BIGINT) AS min_bytes, "
            "CAST(max(strlen(text)) AS BIGINT) AS max_bytes "
            "FROM documents GROUP BY lang ORDER BY value"
        ),
        "group_ndv": (
            "SELECT lang AS value, CAST(count(DISTINCT source) AS BIGINT) "
            "AS ndv FROM documents GROUP BY lang ORDER BY value"
        ),
        "histogram": (
            "SELECT CAST(floor(n_chars / 200) AS BIGINT) AS bucket, "
            "CAST(count(*) AS BIGINT) AS cnt FROM documents "
            "GROUP BY bucket ORDER BY bucket NULLS LAST"
        ),
        "histogram_hourly": (
            "SELECT CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) "
            "AS bucket, CAST(count(*) AS BIGINT) AS cnt FROM events "
            "GROUP BY bucket ORDER BY bucket NULLS LAST"
        ),
        "encoded_sum": (
            "SELECT CAST(sum(n_chars) AS BIGINT) AS sum_val, "
            "CAST(count(n_chars) AS BIGINT) AS n_values, "
            "CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_val "
            "FROM documents"
        ),
        "group_minmax": (
            "SELECT lang AS value, min(source) AS min_val, "
            "max(source) AS max_val FROM documents GROUP BY lang "
            "ORDER BY value"
        ),
        "group_topk": (
            "WITH g AS (SELECT lang AS value, source AS val, count(*) AS cnt "
            "FROM documents GROUP BY 1, 2), "
            "r AS (SELECT value, val, CAST(cnt AS BIGINT) AS cnt, "
            "CAST(row_number() OVER (PARTITION BY value "
            "ORDER BY cnt DESC, val ASC) AS INT) AS rank FROM g) "
            "SELECT value, val, cnt, rank FROM r WHERE rank <= 2 "
            "ORDER BY value, rank"
        ),
        "group_stats": (
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(n_chars) AS BIGINT) AS n_values, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_val, "
            "CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_val, "
            "CAST(min(n_chars) AS BIGINT) AS min_val, "
            "CAST(max(n_chars) AS BIGINT) AS max_val "
            "FROM documents GROUP BY lang ORDER BY value"
        ),
        "filtered_group_sum": (
            "SELECT lang AS value, CAST(count(*) AS BIGINT) AS cnt, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_val FROM documents "
            "WHERE lang IN ('en', 'de') AND n_chars < 1500 "
            "GROUP BY lang ORDER BY value"
        ),
        "count_where": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents "
            "WHERE doc_id >= 100 AND doc_id < 400"
        ),
        "suffix_decode": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "CAST(count(DISTINCT source) AS BIGINT) AS n_sources "
            "FROM documents WHERE source LIKE '%1'"
        ),
        "rlike_decode": (
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids FROM documents "
            "WHERE regexp_matches(lang, '^(de|fr|pt)$') "
            "GROUP BY lang ORDER BY lang"
        ),
        "count_where_any": (
            "SELECT "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents "
            " WHERE doc_id < 120 OR doc_id >= 380) AS n_or, "
            "(SELECT CAST(count(*) AS BIGINT) FROM documents "
            " WHERE n_chars >= 500 AND (lang = 'de' OR lang = 'fr')) "
            "AS n_and_or"
        ),
        "zorder_count": (
            "SELECT CAST(count(*) AS BIGINT) AS n_rows FROM documents "
            "WHERE n_chars >= 200 AND n_chars < 900 "
            "AND doc_id >= 50 AND doc_id < 450"
        ),
        "encoded_topk": (
            "SELECT n_chars AS val FROM documents "
            "WHERE n_chars IS NOT NULL ORDER BY val DESC LIMIT 50"
        ),
        "prefix_decode": (
            "WITH k AS (SELECT doc_id, 'net.' || source || '/d/' || doc_id "
            "AS key FROM documents) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "min(key) AS min_key, max(key) AS max_key "
            "FROM k WHERE starts_with(key, 'net.src5')"
        ),
        "encoded_distinct": (
            "SELECT DISTINCT lang AS val FROM documents"
        ),
        "pii_scrub": (
            r"""WITH inj AS (
  SELECT doc_id, lang,
    text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
    '.com or +1-202-555-0' || lpad(CAST(doc_id % 100 AS VARCHAR), 3, '0') ||
    ' from 192.168.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) AS text
  FROM documents),
s1 AS (SELECT doc_id, lang,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[EMAIL]', 'g') AS t FROM inj),
s2 AS (SELECT doc_id, lang, n_email,
  len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
  regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g') AS t
  FROM s1),
s3 AS (SELECT doc_id, lang, n_email, n_ipv4,
  len(regexp_extract_all(t, '\+?[0-9][0-9.-]{6,}[0-9]')) AS n_phone,
  regexp_replace(t, '\+?[0-9][0-9.-]{6,}[0-9]', '[PHONE]', 'g') AS t FROM s2)
SELECT lang, CAST(sum(n_email) AS BIGINT) AS n_email,
       CAST(sum(n_phone) AS BIGINT) AS n_phone,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
       CAST(sum(len(t)) AS BIGINT) AS scrub_len, min(t) AS min_text
FROM s3 GROUP BY lang ORDER BY lang"""
        ),
        "para_dedup": (
            """WITH toks AS (
  SELECT doc_id, unnest(str_split(text, ' ')) AS tok,
         unnest(range(1, len(str_split(text, ' ')) + 1)) AS ord
  FROM documents),
paras AS (
  SELECT doc_id, CAST((ord - 1) // 15 AS BIGINT) AS pos,
         string_agg(tok, ' ' ORDER BY ord) AS para
  FROM toks GROUP BY doc_id, (ord - 1) // 15),
flagged AS (
  SELECT doc_id, pos, para,
         row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1
           AS kept
  FROM paras),
docsout AS (
  SELECT doc_id, count(*) AS n_paras,
         sum(CASE WHEN kept THEN 1 ELSE 0 END) AS n_kept,
         coalesce(string_agg(CASE WHEN kept THEN para END,
                             chr(10) || chr(10) ORDER BY pos), '')
           AS text_dedup
  FROM flagged GROUP BY doc_id)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_paras) AS BIGINT) AS n_paras,
       CAST(sum(n_kept) AS BIGINT) AS n_kept,
       CAST(sum(len(text_dedup)) AS BIGINT) AS dedup_len,
       min(text_dedup) AS min_text
FROM docsout JOIN documents USING (doc_id)
GROUP BY lang ORDER BY lang"""
        ),
        "encoded_minmax": (
            "SELECT min(source) AS min_source, max(source) AS max_source, "
            "CAST(min(doc_id * 0.25 + 100.0) AS DOUBLE) AS min_price, "
            "CAST(max(doc_id * 0.25 + 100.0) AS DOUBLE) AS max_price, "
            "CAST(min(doc_id) AS BIGINT) AS min_id, "
            "CAST(max(doc_id) AS BIGINT) AS max_id FROM documents"
        ),
        "clustered_decode": (
            # same layout key synthesized in SQL: host('<source>.net')
            # reversed = 'net.<source>', then the path — agreement proves
            # the clustered encode + zone-pruned decode returns exactly
            # the filter's rows
            "WITH k AS (SELECT doc_id, 'net.' || source || '/d/' || doc_id "
            "AS key FROM documents) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_ids, "
            "min(key) AS min_key, max(key) AS max_key "
            "FROM k WHERE key >= 'net.src5'"
        ),
        "url_sort_key": (
            # same urls WITHOUT the scheme: agreement proves the Spark
            # side's scheme strip + host reversal are exact
            "WITH u AS (SELECT doc_id, 'www.' || source || "
            "'.example.com/docs/' || doc_id AS c FROM documents), "
            "k AS (SELECT array_to_string(list_reverse(string_split("
            "regexp_extract(c, '^([^/]*)', 1), '.')), '.') || "
            "substr(c, length(regexp_extract(c, '^([^/]*)', 1)) + 1) AS key "
            "FROM u) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(DISTINCT key) AS BIGINT) AS n_keys, "
            "min(key) AS min_key, max(key) AS max_key, "
            "CAST(sum(length(key)) AS BIGINT) AS sum_len FROM k"
        ),
        "extract_roundtrip": (
            # the Spark side REALLY extracts (escape -> embed -> regexp
            # cascade); the oracle pins the invariant: every row matches
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(count(*) AS BIGINT) AS n_match FROM documents"
        ),
        "crawl_frontier": (
            "WITH p AS (SELECT 'https://' || source || '.example.org/d' || doc_id AS base, "
            "'<p><a href=\"https://' || source || '.example.org/n' || (doc_id + 1) || "
            "'\">n</a><a href=''/rel/' || doc_id || '''>r</a>"
            "<a href=\"//cdn.example.net/x' || (doc_id % 7) || "
            "'#frag\">c</a><a href=\"mailto:a@b.c\">m</a></p>' AS html FROM documents), "
            "l AS (SELECT base, unnest(list_concat("
            "regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*\"([^\"]*)\"', 1), "
            "regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*''([^'']*)''', 1))) AS raw FROM p), "
            "n AS (SELECT DISTINCT CASE "
            "WHEN regexp_matches(split_part(raw, '#', 1), '^https?://') THEN split_part(raw, '#', 1) "
            "WHEN starts_with(split_part(raw, '#', 1), '//') THEN 'https:' || split_part(raw, '#', 1) "
            "WHEN starts_with(split_part(raw, '#', 1), '/') THEN "
            "'https://' || regexp_extract(base, '^https?://([^/]+)', 1) || split_part(raw, '#', 1) "
            "ELSE NULL END AS url FROM l), "
            "k AS (SELECT 'https://' || source || '.example.org/n' || (doc_id + 1) AS url "
            "FROM documents WHERE doc_id % 3 = 0), "
            "f AS (SELECT url, regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM n "
            "WHERE url IS NOT NULL AND url NOT IN (SELECT url FROM k)), "
            "r AS (SELECT url, host, row_number() OVER (PARTITION BY host ORDER BY url) AS rn FROM f) "
            "SELECT url, host FROM r WHERE rn <= 5 ORDER BY url"
        ),
        "extract_links": (
            "WITH h AS (SELECT '<body><p>see <a href=\"https://' || source "
            "|| '.example.org/d' || doc_id || '\">doc</a> and "
            "<a href=''/rel/' || doc_id || '''>rel</a></p></body>' AS html "
            "FROM documents), "
            "l AS (SELECT list_concat("
            "regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*\"([^\"]*)\"', 1), "
            "regexp_extract_all(html, '(?i)<a\\s[^>]*href\\s*=\\s*''([^'']*)''', 1)"
            ") AS links FROM h) "
            "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
            "CAST(sum(len(links)) AS BIGINT) AS n_links, "
            "CAST(count(DISTINCT links[1]) AS BIGINT) AS n_first, "
            "min(links[1]) AS min_link, max(links[2]) AS max_link FROM l"
        ),
        "ngram_jaccard": (
            f"WITH aug AS ({_AUG_SQL}), "
            "g AS (SELECT md5(text) AS fp, count(*) AS cnt FROM aug GROUP BY 1), "
            "p AS (SELECT COALESCE(CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT), 0) AS np "
            "FROM g WHERE cnt > 1) "
            "SELECT np AS n_exact_dup_pairs, np AS n_exact_found, "
            "TRUE AS all_exact_found FROM p"
        ),
        "minhash_neardup": (
            f"WITH aug AS ({_AUG_SQL}), "
            "g AS (SELECT md5(text) AS fp, count(*) AS cnt FROM aug GROUP BY 1), "
            "p AS (SELECT COALESCE(CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT), 0) AS np "
            "FROM g WHERE cnt > 1) "
            "SELECT np AS n_exact_dup_pairs, np AS n_exact_found, "
            "TRUE AS all_exact_found FROM p"
        ),
        "winnow_neardup": (
            f"WITH aug AS ({_AUG_SQL}), "
            "g AS (SELECT md5(text) AS fp, count(*) AS cnt FROM aug GROUP BY 1), "
            "p AS (SELECT COALESCE(CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT), 0) AS np "
            "FROM g WHERE cnt > 1) "
            "SELECT np AS n_exact_dup_pairs, np AS n_exact_found, "
            "TRUE AS all_exact_found FROM p"
        ),
        "simhash_neardup": (
            f"WITH aug AS ({_AUG_SQL}), "
            "g AS (SELECT md5(text) AS fp, count(*) AS cnt FROM aug GROUP BY 1), "
            "p AS (SELECT COALESCE(CAST(sum(cnt * (cnt - 1) // 2) AS BIGINT), 0) AS np "
            "FROM g WHERE cnt > 1) "
            "SELECT np AS n_exact_dup_pairs, np AS n_exact_found, "
            "TRUE AS all_exact_found FROM p"
        ),
        "simhash_stats": (
            f"WITH aug AS ({_AUG_SQL}) "
            "SELECT count(*) AS n_docs, TRUE AS simhash_distinct_le_texts, "
            "TRUE AS exact_dups_same_simhash FROM aug"
        ),
        "codec_selection_detail": (
            'WITH c("column", codec) AS (VALUES '
            "('doc_id', 'int_delta'), ('lang', 'str_dict'), ('n_chars', 'int_for'), "
            "('source', 'str_dict'), ('text', 'str_fsst')) "
            'SELECT "column", codec, (SELECT count(*) FROM documents) AS n_rows, '
            "(SELECT count(*) FROM documents) AS n_match "
            'FROM c ORDER BY "column", codec'
        ),
        "neardup_dedup": (
            f"WITH aug AS ({_AUG_SQL}), "
            "s AS (SELECT min(doc_id) AS doc_id FROM aug GROUP BY md5(text)) "
            "SELECT count(*) AS n_survivors, "
            "CAST(sum(doc_id) AS BIGINT) AS sum_survivor_ids, "
            "CAST(sum(CASE WHEN doc_id >= 1000000 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_injected_surviving FROM s"
        ),
        "neardup_dedup_minhash": (
            f"WITH aug AS ({_AUG_SQL}) "
            "SELECT count(*) AS n_docs, TRUE AS all_injected_dropped, "
            "TRUE AS survivors_text_distinct FROM aug"
        ),
        "media_pipeline": (
            # 4x6 RGB = 72 bytes per image; 24 frames sampled every 8th
            # -> 3 frames/doc at indices 0+8+16 = 24 per doc
            "SELECT CAST(count(*) AS BIGINT) AS n_imgs, "
            "CAST(count(*) * 72 AS BIGINT) AS rgb_bytes, "
            "CAST(count(*) * 3 AS BIGINT) AS n_frames, "
            "CAST(count(*) * 24 AS BIGINT) AS sum_frame_idx FROM documents"
        ),
        "img_neardup": (
            # identical payloads (text bytes) are the only pairs the
            # perceptual path may emit at max_hamming=6: the fake decoder
            # is a pure function of payload bytes and unrelated payloads
            # hash ~32 bits apart
            f"WITH aug AS ({_AUG_SQL}), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM aug a JOIN aug b ON a.text = b.text "
            "AND a.doc_id < b.doc_id) "
            "SELECT CAST(count(*) AS BIGINT) AS n_pairs, "
            "CAST(sum(id_a + id_b) AS BIGINT) AS sum_ids, "
            "CAST(0 AS INT) AS max_hamming FROM p"
        ),
        "multimodal_features": (
            "SELECT count(*) AS n_docs, "
            "CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_payload_bytes, "
            "CAST(8 AS BIGINT) AS min_feat_len, CAST(1 AS BIGINT) AS n_dims "
            "FROM documents"
        ),
    }
