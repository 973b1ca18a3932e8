"""The ``fsst`` Spark DataSource: format round-trip, pushed-filter
correctness, and the planner's per-file chunk pruning (zones + dict +
bloom)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from fsst_spark.jobs.plan import file_survivors
from fsst_spark.sources.fsst_source import (
    FsstReader,
    register,
    store_column_types,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", "n_chars", "source")
    )


@pytest.fixture(scope="module")
def store(spark, docs, tmp_path_factory):
    """A store written THROUGH the DataSource write path (4 partitions,
    small chunks so pruning has something to prune)."""
    out = str(tmp_path_factory.mktemp("fsst_source_store"))
    register(spark)
    # small Arrow batches so chunk_bytes actually splits each partition
    # into several chunks (zone pruning needs >1 chunk to have any teeth)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        (docs.repartition(4, "doc_id").sortWithinPartitions("doc_id")
             .write.format("fsst").mode("overwrite")
             .option("chunk_bytes", 2 << 10).save(out))
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    return out


def test_write_then_read_roundtrip(spark, docs, store):
    back = spark.read.format("fsst").load(store)
    cols = sorted(docs.columns)
    assert back.columns == cols  # schema() sorts columns
    a = back.select(*cols).orderBy("doc_id").collect()
    b = docs.select(*cols).orderBy("doc_id").collect()
    assert a == b


def test_pushed_filters_match_plain_scan(spark, docs, store):
    back = spark.read.format("fsst").load(store)
    for cond in [
        (F.col("n_chars") >= 300) & (F.col("lang") == "de"),
        F.col("doc_id") < 50,
        F.col("lang").isin("de", "fr"),
        F.col("source").startswith("cc"),
    ]:
        got = back.where(cond).agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s")).collect()
        want = docs.where(cond).agg(
            F.count("*").alias("n"), F.sum("doc_id").alias("s")).collect()
        assert got == want, str(cond)


def test_read_emits_each_chunk_before_decoding_the_next(store, monkeypatch):
    """A partition's first batch reaches Spark before the file's later
    chunks decode: the reader never buffers a whole file."""
    import fsst_spark.jobs.decode as decode_mod
    import fsst_spark.kernel.codecs as codecs
    from fsst_spark.sources.fsst_source import _ChunkFilePartition

    real = codecs.decode_column
    calls = []

    def counting(enc):
        calls.append(enc["codec"])
        return real(enc)

    monkeypatch.setattr(codecs, "decode_column", counting)
    monkeypatch.setattr(decode_mod, "decode_column", counting)
    types = store_column_types(store)
    path = sorted(glob.glob(os.path.join(store, "chunks", "*.parquet")))[0]
    n_chunks = len(file_survivors(path, [], types))
    assert n_chunks > 1
    batches = iter(FsstReader(store, types).read(_ChunkFilePartition(path)))
    first = next(batches)
    assert len(calls) == len(types) and first.num_rows > 0
    assert 1 + len(list(batches)) == n_chunks
    assert len(calls) == n_chunks * len(types)


def test_zone_pruning_drops_chunks(store):
    """doc_id-clustered store: a selective doc_id range must prune most
    chunks at the metadata level, and an impossible range prunes all."""
    types = store_column_types(store)
    files = sorted(glob.glob(os.path.join(store, "chunks", "*.parquet")))
    total = live = 0
    for f in files:
        all_keys = file_survivors(f, [("doc_id", ">=", 0)], types)
        hit = file_survivors(f, [("doc_id", ">=", 490)], types)
        none = file_survivors(f, [("doc_id", ">", 10_000_000)], types)
        total += len(all_keys)
        live += len(hit)
        assert none == set()
    assert total > 4  # the small chunk_bytes actually made multiple chunks
    assert 0 < live < total / 2


def test_dict_and_bloom_pruning(store):
    types = store_column_types(store)
    files = sorted(glob.glob(os.path.join(store, "chunks", "*.parquet")))
    # a language no document has: dictionary membership kills every chunk
    for f in files:
        assert file_survivors(f, [("lang", "==", "zz")], types) == set()
    # an int value no chunk contains: bloom (or zones) prune fully
    for f in files:
        assert file_survivors(f, [("doc_id", "==", 987654321)], types) == set()


def test_reader_pushfilters_returns_all_filters(store):
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNotNull

    types = store_column_types(store)
    r = FsstReader(store, types)
    filters = [
        GreaterThanOrEqual(("n_chars",), 300),
        EqualTo(("lang",), "de"),
        IsNotNull(("source",)),          # unsupported for pruning
        EqualTo(("n_chars",), "oops"),   # type mismatch: skipped, not raised
    ]
    out = list(r.pushFilters(filters))
    assert out == filters  # chunk pruning is conservative: Spark re-filters
    assert ("n_chars", ">=", 300) in r.pruning
    assert ("lang", "==", "de") in r.pruning
    assert len(r.pruning) == 2


def test_append_mode_grows_store(spark, docs, tmp_path):
    """mode('append') is an incremental load: new partitions take pids
    past every existing one; prior chunk files are never touched."""
    out = str(tmp_path / "appendable")
    register(spark)
    first = docs.where("doc_id < 100")
    rest = docs.where("doc_id >= 100")
    first.write.format("fsst").mode("append").save(out)
    files_before = set(glob.glob(os.path.join(out, "chunks", "*.parquet")))
    rest.write.format("fsst").mode("append").save(out)
    assert files_before < set(glob.glob(os.path.join(out, "chunks", "*.parquet")))
    back = spark.read.format("fsst").load(out)
    assert back.count() == docs.count()
    assert back.agg(F.sum("doc_id")).collect() == docs.agg(F.sum("doc_id")).collect()


def test_append_to_job_written_store_refused(spark, docs, tmp_path):
    """pid keying differs between encode modes; appending across them is
    refused (the resume-mode-mixing guard, extended to the DataSource)."""
    from fsst_spark.jobs.encode import encode_job

    out = str(tmp_path / "jobstore")
    encode_job(spark, docs.limit(50), out, chunk_bytes=64 << 10,
               resume=False, pre_partitioned=True, unique_col="doc_id").collect()
    register(spark)
    with pytest.raises(Exception, match="encode mode"):
        docs.limit(5).write.format("fsst").mode("append").save(out)


def test_columns_option_prunes_schema_and_matches(spark, docs, store):
    """.option('columns', ...) narrows the declared schema (the Python
    DataSource API has no pruneColumns hook) and values still match."""
    back = (spark.read.format("fsst").option("columns", "doc_id,lang")
            .load(store))
    assert back.columns == ["doc_id", "lang"]
    a = back.orderBy("doc_id").collect()
    b = docs.select("doc_id", "lang").orderBy("doc_id").collect()
    assert a == b
    with pytest.raises(Exception, match="columns option"):
        (spark.read.format("fsst").option("columns", "doc_id,nope")
         .load(store).collect())


def test_commit_log_written_and_batch_reads_committed_only(spark, docs, store):
    """Every datasource write logs one commits/ entry; the batch reader
    trusts the log, so an uncommitted (torn-append) chunk file is
    invisible until its write commits."""
    import shutil

    from fsst_spark.sources.fsst_source import _read_commit, commit_count

    assert commit_count(store) == 1
    entry = _read_commit(store, 0)
    assert entry["mode"] == "datasource" and len(entry["pids"]) == 4
    n = spark.read.format("fsst").load(store).count()
    # simulate a torn append: a chunk file appears with no commit entry
    src = os.path.join(store, "chunks", f"part-{entry['pids'][0]:05d}.parquet")
    orphan = os.path.join(store, "chunks", "part-99998.parquet")
    shutil.copyfile(src, orphan)
    try:
        assert spark.read.format("fsst").load(store).count() == n
    finally:
        os.remove(orphan)


def _run_stream(spark, store, checkpoint, out_dir):
    """One availableNow pass: drain everything committed, then stop.
    Parquet sink (not memory) so the query can RESTART from the same
    checkpoint — the restart is the point of the offset test."""
    q = (
        spark.readStream.format("fsst").load(store)
        .writeStream.format("parquet").option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    return spark.read.parquet(out_dir)


def test_stream_reads_follow_commits(spark, docs, tmp_path):
    """readStream.format('fsst') over a growing store: the first run sees
    the first append; a restart from the same checkpoint processes ONLY
    the writes committed since (offset = commit index, Spark-checkpointed),
    so the sink accumulates each row exactly once."""
    register(spark)
    out = str(tmp_path / "growing")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    first = docs.where("doc_id < 100")
    rest = docs.where("doc_id >= 100")
    first.write.format("fsst").mode("append").save(out)
    got1 = _run_stream(spark, out, ckpt, sink)
    assert got1.count() == first.count()
    rest.write.format("fsst").mode("append").save(out)
    got2 = _run_stream(spark, out, ckpt, sink)
    # exactly-once across the restart: no first-batch replay, no misses
    assert got2.count() == docs.count()
    assert (got2.agg(F.sum("doc_id")).collect()
            == docs.agg(F.sum("doc_id")).collect())


def test_stream_job_store_needs_snapshot(spark, docs, tmp_path):
    """Job-API stores stream only after log_commit_snapshot publishes
    their completed pids as a commit entry."""
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.sources.fsst_source import log_commit_snapshot

    register(spark)
    out = str(tmp_path / "jobstream")
    encode_job(spark, docs, out, chunk_bytes=64 << 10, resume=False,
               pre_partitioned=True, unique_col="doc_id").collect()
    # streamReader is instantiated at query START (load() is lazy): the
    # missing-commit-log guard surfaces when the query spins up
    with pytest.raises(Exception, match="commit log"):
        q = (spark.readStream.format("fsst").load(out)
             .writeStream.format("noop")
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination(60)
        finally:
            if q.isActive:
                q.stop()
    assert log_commit_snapshot(out) == 0
    assert log_commit_snapshot(out) is None  # idempotent: nothing new
    got = _run_stream(spark, out, str(tmp_path / "ckpt2"),
                      str(tmp_path / "sink2"))
    assert got.count() == docs.count()


def test_stream_write_store_to_store(spark, docs, tmp_path):
    """writeStream.format('fsst'): encoded store → stream → encoded store.
    The sink store must decode to the full table; its commit entries are
    batchId-tagged, and re-committing a batchId is a no-op (the replayed-
    epoch exactly-once guarantee)."""
    from fsst_spark.sources.fsst_source import (FsstStreamWriter,
                                                _read_commit, commit_count)

    register(spark)
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    docs.write.format("fsst").mode("append").save(src)
    q = (
        spark.readStream.format("fsst").load(src)
        .writeStream.format("fsst")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start(dst)
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    back = spark.read.format("fsst").load(dst)
    assert back.count() == docs.count()
    assert (back.agg(F.sum("doc_id"), F.sum("n_chars")).collect()
            == docs.agg(F.sum("doc_id"), F.sum("n_chars")).collect())
    n = commit_count(dst)
    entries = [_read_commit(dst, i) for i in range(n)]
    assert all(e["mode"] == "stream" and "batch_id" in e for e in entries)
    # replayed epoch: commit() with an already-logged batchId must not
    # append a duplicate entry (stream readers would double-read)
    w = FsstStreamWriter(dst, {})
    w.commit([], batchId=entries[0]["batch_id"])
    assert commit_count(dst) == n
    # and stream pids are epoch-scoped: (batchId << 20) | partition
    for e in entries:
        for pid in e["pids"]:
            assert pid >> 20 == e["batch_id"]


def test_stream_write_refuses_foreign_store(spark, docs, tmp_path):
    register(spark)
    out = str(tmp_path / "batchstore")
    docs.write.format("fsst").mode("overwrite").save(out)
    with pytest.raises(Exception, match="stream"):
        q = (
            spark.readStream.format("fsst").load(out)
            .writeStream.format("fsst")
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True).start(out)
        )
        try:
            q.awaitTermination(60)
        finally:
            if q.isActive:
                q.stop()


def test_store_readable_by_decode_job(spark, docs, store):
    """A DataSource-written store is a normal store: the job-API decoder
    reads it bit-identically."""
    from fsst_spark.jobs.decode import decode_job

    dec = decode_job(spark, store).drop("pid", "chunk_id")
    a = dec.select(*sorted(docs.columns)).orderBy("doc_id").collect()
    b = docs.select(*sorted(docs.columns)).orderBy("doc_id").collect()
    assert a == b


def test_as_of_time_travel(spark, docs, tmp_path):
    """.option('as_of', N) reads the store as of commit entry N: the
    first write's rows at as_of=0, both writes at as_of=1, and the same
    as_of keeps returning the same rows as the store grows (entries are
    immutable). Out-of-range and log-less stores raise."""
    out = str(tmp_path / "travel")
    register(spark)
    evens = docs.where("doc_id % 2 = 0")
    odds = docs.where("doc_id % 2 = 1")
    evens.write.format("fsst").mode("append").save(out)
    odds.write.format("fsst").mode("append").save(out)

    def agg(df):
        return df.agg(F.count("*"), F.sum("doc_id")).collect()

    at0 = spark.read.format("fsst").option("as_of", 0).load(out)
    assert agg(at0) == agg(evens)
    at1 = spark.read.format("fsst").option("as_of", 1).load(out)
    assert agg(at1) == agg(docs)
    # grow the store again: as_of=0 is unchanged (immutable snapshot)
    odds.limit(7).write.format("fsst").mode("append").save(out)
    assert agg(spark.read.format("fsst").option("as_of", 0).load(out)) \
        == agg(evens)
    with pytest.raises(Exception, match="out of range"):
        spark.read.format("fsst").option("as_of", 99).load(out).collect()


def test_as_of_needs_commit_log(spark, docs, tmp_path):
    from fsst_spark.jobs.encode import encode_job

    out = str(tmp_path / "nolog")
    encode_job(spark, docs.limit(50), out, chunk_bytes=64 << 10,
               resume=False, pre_partitioned=True, unique_col="doc_id").collect()
    register(spark)
    with pytest.raises(Exception, match="no commit log"):
        spark.read.format("fsst").option("as_of", 0).load(out).collect()


def test_as_of_composes_with_snapshot_log(spark, docs, tmp_path):
    """A job-API store becomes time-travelable the same way it becomes
    streamable: log_commit_snapshot after each completed encode action."""
    from fsst_spark.jobs.encode import encode_files_job  # noqa: F401 (import parity)
    from fsst_spark.jobs.encode import encode_job
    from fsst_spark.sources.fsst_source import log_commit_snapshot

    out = str(tmp_path / "joblog")
    first = docs.where("doc_id < 100")
    encode_job(spark, first, out, chunk_bytes=64 << 10,
               resume=False, pre_partitioned=True, unique_col="doc_id").collect()
    assert log_commit_snapshot(out) == 0
    register(spark)
    at0 = spark.read.format("fsst").option("as_of", 0).load(out)
    assert at0.count() == first.count()


def test_decode_job_as_of(spark, docs, tmp_path):
    """Time travel through the job API too: decode_job(as_of=N) reads
    the pids of commit entries 0..N, matching the DataSource read."""
    from fsst_spark.jobs.decode import decode_filtered, decode_job

    out = str(tmp_path / "travel_job")
    register(spark)
    evens = docs.where("doc_id % 2 = 0")
    odds = docs.where("doc_id % 2 = 1")
    evens.write.format("fsst").mode("append").save(out)
    odds.write.format("fsst").mode("append").save(out)

    at0 = decode_job(spark, out, as_of=0)
    assert at0.agg(F.count("*"), F.sum("doc_id")).collect() \
        == evens.agg(F.count("*"), F.sum("doc_id")).collect()
    at1 = decode_job(spark, out, as_of=1)
    assert at1.count() == docs.count()
    # composes with selective decode
    f0 = decode_filtered(spark, out, "n_chars", ">=", 300, as_of=0)
    assert f0.count() == evens.where("n_chars >= 300").count()
    with pytest.raises(ValueError, match="out of range"):
        decode_job(spark, out, as_of=5).count()


def test_register_store_view_sql_surface(spark, tmp_path):
    """spark.sql over an encoded store: the temp view routes through the
    fsst source, so SQL predicates hit the pushdown stack and aggregates
    match the source frame."""
    from fsst_spark.sources.fsst_source import register_store_view

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "lang", "n_chars"))
    store = str(tmp_path / "sql_store")
    from fsst_spark.sources.fsst_source import register

    register(spark)
    docs.write.format("fsst").mode("overwrite").save(store)
    register_store_view(spark, store, "docs_enc")
    got = spark.sql(
        "SELECT lang, count(*) AS n, sum(n_chars) AS s FROM docs_enc "
        "WHERE doc_id >= 100 GROUP BY lang ORDER BY lang").collect()
    want = (docs.filter("doc_id >= 100").groupBy("lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
            .orderBy("lang").collect())
    assert [(r["lang"], r["n"], r["s"]) for r in got] == \
        [(r["lang"], r["n"], r["s"]) for r in want]
    # narrowed view: unselected columns absent
    register_store_view(spark, store, "docs_narrow", columns="doc_id,lang")
    cols = spark.sql("SELECT * FROM docs_narrow LIMIT 1").columns
    assert sorted(cols) == ["doc_id", "lang"]


def test_register_stores_view_shard_family(spark, tmp_path):
    """One SQL view over a family of shard stores: predicates push
    through the Union into each shard's fsst read, aggregates match the
    unsharded frame, and missing columns null-fill."""
    from fsst_spark.sources.fsst_source import (register,
                                                register_stores_view)

    register(spark)
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "lang", "n_chars"))
    s0, s1 = str(tmp_path / "sh0"), str(tmp_path / "sh1")
    docs.where("doc_id % 2 = 0").write.format("fsst").mode("overwrite").save(s0)
    docs.where("doc_id % 2 = 1").write.format("fsst").mode("overwrite").save(s1)
    register_stores_view(spark, [s0, s1], "docs_fam")
    got = spark.sql(
        "SELECT lang, count(*) AS n, sum(n_chars) AS s FROM docs_fam "
        "WHERE n_chars >= 300 GROUP BY lang ORDER BY lang").collect()
    want = (docs.filter("n_chars >= 300").groupBy("lang")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
            .orderBy("lang").collect())
    assert [(r["lang"], r["n"], r["s"]) for r in got] == \
        [(r["lang"], r["n"], r["s"]) for r in want]
    # an old shard without n_chars: rows null-fill in the family view
    old = str(tmp_path / "old")
    docs.select("doc_id", "lang").withColumn(
        "doc_id", F.col("doc_id") + 1_000_000).write.format(
        "fsst").mode("overwrite").save(old)
    register_stores_view(spark, [s0, s1, old], "docs_fam3")
    r = spark.sql(
        "SELECT count(*) AS n, count(n_chars) AS with_chars "
        "FROM docs_fam3").collect()[0]
    n_docs = docs.count()
    assert r["n"] == 2 * n_docs and r["with_chars"] == n_docs


def _log_cases():
    """(write entry tagged i, the entries a reader sees, log dir) per
    append-only store log that shares the commit log's writer: schema
    changes and delete lineage."""
    from fsst_spark.jobs.deletes import _log_delete
    from fsst_spark.jobs.schema import add_column, schema_log, store_history

    return {
        "schema": (lambda st, i: add_column(st, f"c{i}", "int64"),
                   lambda st: [int(e["column"][1:]) for e in schema_log(st)],
                   "schema"),
        "delete": (lambda st, i: _log_delete(st, {"op": "test", "i": i}),
                   lambda st: [e["i"] for e in store_history(st)["mutations"]],
                   os.path.join("deletes", "_log")),
    }


@pytest.mark.parametrize("log", ["schema", "delete"])
def test_log_entry_is_published_whole(tmp_path, monkeypatch, log):
    """Like the commit log: a schema or delete write that fails after its
    file is opened publishes no entry, readers see the log unchanged and
    the next write takes the index."""
    import errno
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    write, entries, sub = _log_cases()[log]
    store = str(tmp_path / "store")
    # one chunk file, so the schema log's add_column sees the store
    os.makedirs(os.path.join(store, "chunks"))
    pq.write_table(pa.table({"column": ["a"], "params": [
        json.dumps({"arrow_type": "int64"})]}),
        os.path.join(store, "chunks", "part-00000.parquet"))
    write(store, 0)
    real_fdopen = os.fdopen

    class DiskFull:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, data):
            raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(
        os, "fdopen", lambda fd, *a, **kw: DiskFull(real_fdopen(fd, *a, **kw)))
    with pytest.raises(OSError):
        write(store, 1)
    monkeypatch.undo()
    assert entries(store) == [0]
    assert os.listdir(os.path.join(store, sub)) == ["00000000.json"]
    write(store, 2)
    assert entries(store) == [0, 2]


def test_commit_entry_is_published_whole(tmp_path, monkeypatch):
    """A commit write that fails after its file is opened publishes no
    entry: the count is unchanged and the next commit takes the index."""
    import errno

    from fsst_spark.sources.fsst_source import (_read_commit, commit_count,
                                                log_commit)

    store = str(tmp_path / "store")
    assert log_commit(store, [0], mode="datasource") == 0
    real_fdopen = os.fdopen

    class DiskFull:
        def __init__(self, fh):
            self.fh = fh

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, data):
            raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(
        os, "fdopen", lambda fd, *a, **kw: DiskFull(real_fdopen(fd, *a, **kw)))
    with pytest.raises(OSError):
        log_commit(store, [1], mode="datasource")
    monkeypatch.undo()
    assert commit_count(store) == 1
    assert os.listdir(os.path.join(store, "commits")) == ["00000000.json"]
    assert log_commit(store, [2], mode="datasource") == 1
    assert _read_commit(store, 1)["pids"] == [2]


def test_concurrent_commits_all_land_whole(tmp_path):
    """Writers racing for commit indices each get their own entry, and a
    reader listing the log meanwhile never sees a partial one."""
    import sys
    import threading

    from fsst_spark.sources.fsst_source import (_read_commit, commit_count,
                                                log_commit)

    store = str(tmp_path / "store")
    n_writers, per_writer = 8, 25
    stop = threading.Event()
    errors = []

    def write(w):
        for i in range(per_writer):
            log_commit(store, [w * per_writer + i], mode="datasource")

    def read():
        while not stop.is_set():
            try:
                for i in range(commit_count(store)):
                    _read_commit(store, i)
            except (ValueError, OSError) as e:  # a partial or missing entry
                errors.append(e)
                return

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        reader = threading.Thread(target=read)
        writers = [threading.Thread(target=write, args=(w,))
                   for w in range(n_writers)]
        reader.start()
        for t in writers:
            t.start()
        for t in writers:
            t.join(timeout=60)
        stop.set()
        reader.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in writers + [reader])
    assert errors == []
    n = n_writers * per_writer
    assert commit_count(store) == n
    pids = sorted(p for i in range(n) for p in _read_commit(store, i)["pids"])
    assert pids == list(range(n))
    assert len(os.listdir(os.path.join(store, "commits"))) == n
