"""``fsst`` Spark DataSource: encoded stores as a first-class format.

Exposes the chunk stores written by ``jobs.encode`` through Spark's
Python DataSource API (PySpark 4.1), so an encoded corpus reads and
writes like any other format::

    from fsst_spark.sources.fsst_source import register
    register(spark)
    df.write.format("fsst").mode("overwrite").save("/data/corpus_enc")
    hits = (spark.read.format("fsst").load("/data/corpus_enc")
                 .where("lang = 'de' AND n_chars >= 300"))

Why this matters at 100 TB: ``pushFilters`` hands the WHERE clause to the
source during planning, and ``partitions()`` runs the same driver-side
chunk planner ``decode_filtered`` uses (:mod:`jobs.plan` — zone maps,
dictionary membership, Bloom filters, all from metadata). Only chunk
files with a surviving chunk become input partitions, each carrying its
keep-set, so a point lookup on a clustered store reads one file, and the
read task decodes only the planned chunks. Spark re-applies the exact row
predicates on top (``pushFilters`` returns every filter as "still needs
evaluation"), so chunk-granular pruning can never change results — the
same conservative contract as parquet row-group stats.

Execution shape: ``partitions()`` is one :class:`InputPartition` per
surviving chunk file (the encode task granularity), listed and planned
driver-side — the metadata-only counterpart of the listing Spark's own
``FileIndex`` does for parquet. Decoding happens executor-side inside
``read()``. The write path routes each input partition through
``jobs.encode._encode_one_partition`` — identical chunk layout, zone
maps, sketches, and atomic-rename durability as ``encode_job``, so a
store written via ``df.write.format("fsst")`` is indistinguishable from
one written by the job API.

Column pruning: the Python DataSource API has no ``pruneColumns`` hook
(Spark applies projection after the scan), so narrow reads opt in via
``.option("columns", "doc_id,lang")`` — the declared schema shrinks and
``read()`` decodes only the selected columns' payloads.

``read()`` reads no chunk payload itself: each partition goes through the
one chunk reader (``jobs.plan.read_chunks``) and the one chunk emitter
(``jobs.decode.emit_chunks``) that ``decode_job``'s tasks use, so NULL
fill for added columns, tombstones and timestamp units match the job API,
and each chunk reaches Spark as soon as it decodes.

Streaming: ``spark.readStream.format("fsst").load(store)`` follows a
GROWING store. Each completed write appends one atomic entry to
``<store>/commits/`` naming its pids (the same manifest-commit-log
pattern as Spark's file-sink ``_spark_metadata``); the stream offset is
the monotone commit index, so a micro-batch is exactly the chunk files
of newly committed writes — restart-safe, and never tears a mid-flight
append (task files become visible only through their commit entry).
Datasource writes log the entry in ``commit()``; job-API stores become
streamable via :func:`log_commit_snapshot`.

Reference tie: the reference engine exposes compression only as a
library call (``/root/reference/src/lib.rs:505-529``); surfacing the
encoded form as a queryable Spark source with predicate pushdown is the
engine-level capability this repo adds on top.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    StringContains,
    StringEndsWith,
    StringStartsWith,
    WriterCommitMessage,
)

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

_FILTER_OPS = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    In: "in",
    StringStartsWith: "prefix",
    StringContains: "contains",
    StringEndsWith: "suffix",
}


def store_column_types(store: str) -> dict[str, str]:
    """{column: arrow type name} a decode of ``store`` sees, from ONE
    chunk-file footer (driver-side, no SparkSession — the DataSource
    ``schema()`` hook runs before any job exists). Raises
    FileNotFoundError when the store has no chunk file."""
    from ..jobs.decode import column_arrow_types

    return column_arrow_types(store, include_added=True)


def _store_ddl(col_types: dict[str, str]) -> str:
    from ..jobs.decode import _spark_type

    return ", ".join(f"{c} {_spark_type(col_types[c])}" for c in sorted(col_types))


@dataclass
class _ChunkFilePartition(InputPartition):
    path: str
    keys: list | None = None  # planned (pid, chunk_id) keep-set; None: all


# ---------------------------------------------------------------------------
# commit log: <store>/commits/{idx:08d}.json, one entry per COMPLETED write
# ---------------------------------------------------------------------------

def _commits_dir(store: str) -> str:
    return os.path.join(store, "commits")


def commit_count(store: str) -> int:
    """Number of committed writes — the streaming high-watermark. O(#entries)
    listing; entries are tiny JSON files, one per WRITE (not per task)."""
    d = _commits_dir(store)
    if not os.path.isdir(d):
        return 0
    return sum(1 for f in os.listdir(d) if f.endswith(".json"))


def _read_commit(store: str, idx: int) -> dict:
    with open(os.path.join(_commits_dir(store), f"{idx:08d}.json")) as fh:
        return json.load(fh)


def commit_range_pids(store: str, since: int, until: int | None = None) -> list[int]:
    """pids named by commit entries ``since+1 .. until`` inclusive — the
    snapshot algebra of the append-only commit log. ``since=-1`` means
    "from the first entry" (so a time-travel read as of N is
    ``commit_range_pids(store, -1, N)``); ``until=None`` means the latest
    entry at call time. An INCREMENTAL read between two observed
    watermarks is ``(since=N0, until=N1)`` — exactly the rows appended by
    the writes a consumer has not yet seen. Entries are immutable, so the
    same (since, until) pair always yields the same pids even while the
    store keeps growing. ``since == until`` is a valid empty range."""
    n = commit_count(store)
    if n == 0:
        raise ValueError(
            f"store {store!r} has no commit log; commit-range reads need "
            "one (write via df.write.format('fsst') or call "
            "log_commit_snapshot after an encode job)")
    if until is None:
        until = n - 1
    if not (-1 <= since <= until < n):
        raise ValueError(
            f"commit range ({since}, {until}] out of range: store has "
            f"commit entries 0..{n - 1} and needs -1 <= since <= until")
    pids: set[int] = set()
    for i in range(since + 1, until + 1):
        pids.update(_read_commit(store, i)["pids"])
    return sorted(pids)


def log_commit(store: str, pids: list[int], mode: str,
               batch_id: int | None = None) -> int:
    """Append one commit entry naming this write's chunk-file pids; returns
    the entry index. The entry is published whole by
    ``jobs.encode.append_log_entry`` (temp file, then ``os.link`` to the
    next free index), so concurrent appends each get their own index and
    no reader ever sees a partly written entry. Entries are never
    rewritten — the log is append-only, which is what makes the
    streaming offset (a plain entry count) replayable. ``batch_id`` tags
    entries written by the streaming sink so a replayed epoch can be
    recognized and skipped (see :class:`FsstStreamWriter`)."""
    from ..jobs.encode import append_log_entry

    entry = {"pids": sorted(pids), "mode": mode}
    if batch_id is not None:
        entry["batch_id"] = batch_id
    return append_log_entry(_commits_dir(store), entry)


def log_commit_snapshot(store: str) -> int | None:
    """Make a job-API store streamable: log every completed pid not named
    by an existing entry as ONE new commit (None if nothing new). Call
    after an ``encode_job``/``encode_files_job`` action finishes — never
    mid-write, since completed_pids would tear the in-flight write."""
    from ..jobs.encode import completed_pids

    logged = commit_range_pids(store, -1) if commit_count(store) else []
    fresh = completed_pids(store) - set(logged)
    if not fresh:
        return None
    return log_commit(store, sorted(fresh), mode="snapshot")


def _translate_filter(f: Filter, col_types: dict[str, str]):
    """One Spark Filter -> internal (col, op, value) prune tuple, or None
    when the filter can't drive chunk pruning (unsupported shape, nested
    column, or a value the zone packer rejects — e.g. a float probe on an
    int column). Returning None only skips pruning; Spark still applies
    the exact predicate because ``pushFilters`` echoes every filter back."""
    op = _FILTER_OPS.get(type(f))
    if op is None or len(f.attribute) != 1:
        return None
    col = f.attribute[0]
    if col not in col_types:
        return None
    value = list(f.value) if op == "in" else f.value
    try:
        from ..jobs.decode import _prefix_bytes, _zone_key

        if op in ("prefix", "contains", "suffix"):
            _prefix_bytes(col_types[col], value, op)
        else:
            for v in (value if op == "in" else [value]):
                _zone_key(col_types[col], v)  # type check only
    except (TypeError, ValueError):
        return None
    return (col, op, value)


class FsstReader(DataSourceReader):
    def __init__(self, store: str, col_types: dict[str, str],
                 as_of: int | None = None, since: int | None = None):
        self.store = store
        self.col_types = col_types
        self.as_of = as_of
        self.since = since
        self.pruning: list[tuple] = []

    def pushFilters(self, filters: List[Filter]) -> Iterable[Filter]:
        for f in filters:
            t = _translate_filter(f, self.col_types)
            if t is not None:
                self.pruning.append(t)
        # chunk pruning is conservative, never exact: every filter goes
        # back to Spark for row-level evaluation (the parquet model)
        return filters

    def partitions(self) -> list[InputPartition]:
        # commit-range reads, both sugar over commit_range_pids:
        #   .option("as_of", N)        → entries 0..N  (time travel — the
        #     Iceberg snapshot-id read, on the same append-only log the
        #     stream follows)
        #   .option("since_commit", N) → entries N+1..latest (incremental /
        #     CDC-style batch read: only rows appended by writes a consumer
        #     has not yet seen; compose with as_of for a closed range
        #     (since, as_of]). Entries are immutable, so the same options
        #     always return the same rows even while the store keeps
        #     growing. Row tombstones (jobs.deletes) are store-global
        #     physical state, not versioned — deletes still apply.
        pids = None
        if self.as_of is not None or self.since is not None:
            pids = commit_range_pids(
                self.store,
                -1 if self.since is None else self.since,
                self.as_of)
        elif commit_count(self.store):
            # datasource-written stores log every completed write: read
            # exactly the committed pids, so a torn/aborted append's
            # leftover files are invisible (snapshot isolation). Job-API
            # stores (no logging guarantee) keep the plain listing — their
            # resume contract already treats present files as durable.
            from ..jobs.encode import _manifest_mode

            if _manifest_mode(self.store) in ("datasource", "stream"):
                pids = commit_range_pids(self.store, -1)
        from ..jobs.plan import chunk_files, plan_chunks

        if not self.pruning:
            return [_ChunkFilePartition(path)
                    for _, path in chunk_files(self.store, pids)]
        plan = plan_chunks(self.store, None, self.pruning, pids=pids,
                           types=self.col_types)
        return [_ChunkFilePartition(fp.path, fp.keys) for fp in plan.files]

    def read(self, partition: _ChunkFilePartition | None) -> Iterator["pa.RecordBatch"]:
        if partition is None:  # Spark's stand-in when nothing survived
            return iter(())
        return _read_partition(self.store, self.col_types, partition)


def _read_partition(store: str, col_types: dict[str, str],
                    partition: _ChunkFilePartition) -> Iterator["pa.RecordBatch"]:
    """One chunk-file partition as RecordBatches of ``col_types``' columns
    (shared by the batch and stream readers): its planned chunks through
    the one chunk reader and emitter, one batch per chunk."""
    from ..jobs.decode import emit_chunks, scan_columns
    from ..jobs.deletes import has_deletes
    from ..jobs.plan import read_chunks
    from ..jobs.schema import added_columns

    columns = sorted(col_types)
    added = added_columns(store)
    chunks = read_chunks(partition.path, partition.keys,
                         scan_columns(store, columns, added))
    return emit_chunks(store, chunks, columns, added, has_deletes(store))


class FsstStreamReader(DataSourceStreamReader):
    """Micro-batch reader over a growing store. Offset = commit-log entry
    count, so a batch is exactly the chunk files of writes committed in
    (start, end] — replayable (entries are immutable), tear-free (files
    become visible only via their commit entry), and O(1)-sized offsets
    no matter how many pids a store accumulates."""

    def __init__(self, store: str, col_types: dict[str, str]):
        self.store = store
        self.col_types = col_types

    def initialOffset(self) -> dict:
        return {"commit": 0}

    def latestOffset(self) -> dict:
        return {"commit": commit_count(self.store)}

    def partitions(self, start: dict, end: dict) -> List[InputPartition]:
        if start["commit"] == end["commit"]:
            return []
        pids = commit_range_pids(self.store, start["commit"] - 1,
                                 end["commit"] - 1)
        if not pids:
            return []
        from ..jobs.plan import chunk_files

        return [_ChunkFilePartition(path)
                for _, path in chunk_files(self.store, pids)]

    def read(self, partition: _ChunkFilePartition) -> Iterator["pa.RecordBatch"]:
        # stream scans have no pushFilters hook; Spark filters rows above
        return _read_partition(self.store, self.col_types, partition)

    def commit(self, end: dict) -> None:
        return None  # progress is tracked by Spark's own checkpoint


@dataclass
class _FsstCommit(WriterCommitMessage):
    pid: int
    n_rows: int


class FsstWriter(DataSourceArrowWriter):
    def __init__(self, store: str, options: dict, pid_offset: int = 0):
        self.store = store
        self.pid_offset = pid_offset
        self.chunk_bytes = int(options.get("chunk_bytes", 32 << 20))
        self.bloom_bits = int(options.get("bloom_bits_per_value", 10))
        self.hll_p = int(options.get("hll_p", 10))
        self.qsample_k = int(options.get("qsample_k", 256))
        self.lineage_json = json.dumps(
            {"mode": "datasource", "chunk_bytes": self.chunk_bytes,
             "bloom_bits_per_value": self.bloom_bits, "hll_p": self.hll_p,
             "qsample_k": self.qsample_k, "pid_offset": pid_offset})

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> _FsstCommit:
        from pyspark import TaskContext

        from ..jobs.encode import _encode_one_partition

        pid = TaskContext.get().partitionId() + self.pid_offset
        row = _encode_one_partition(
            pid, iterator, self.store, self.chunk_bytes, self.lineage_json,
            set(), self.bloom_bits, self.hll_p, self.qsample_k)
        return _FsstCommit(pid=pid, n_rows=row["n_rows"] if row else 0)

    def commit(self, messages) -> None:
        # chunk+manifest files were atomically renamed per task; publish
        # them to stream readers as ONE commit-log entry (empty partitions
        # wrote no chunk file and are excluded)
        log_commit(self.store,
                   [m.pid for m in messages if m is not None and m.n_rows > 0],
                   mode="datasource")

    def abort(self, messages) -> None:
        # no commit entry is logged, so stream readers never see this
        # write's files; a later append re-claims fresh pids past these
        return None


_STREAM_PID_BITS = 20  # pid = (epoch << 20) | taskPartitionId


class FsstStreamWriter(DataSourceStreamArrowWriter):
    """writeStream.format('fsst'): continuous encode of a stream into a
    chunk store, exactly-once.

    pid keying is EPOCH-SCOPED and deterministic: ``(batchId << 20) |
    partitionId`` (batchId read task-side from the ``streaming.sql.batchId``
    local property Spark sets on micro-batch tasks). A replayed epoch
    re-runs the same input partitions onto the same pids — the atomic
    rename overwrites with identical content — and ``commit()`` skips
    logging when an entry for that batchId already exists, so downstream
    stream readers never see a write twice. Epochs that fail before
    commit leave files no reader trusts (stream-mode stores are read
    through the commit log only)."""

    def __init__(self, store: str, options: dict):
        self.store = store
        self.chunk_bytes = int(options.get("chunk_bytes", 32 << 20))
        self.bloom_bits = int(options.get("bloom_bits_per_value", 10))
        self.hll_p = int(options.get("hll_p", 10))
        self.qsample_k = int(options.get("qsample_k", 256))

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> _FsstCommit:
        from pyspark import TaskContext

        from ..jobs.encode import _encode_one_partition

        ctx = TaskContext.get()
        batch_id = ctx.getLocalProperty("streaming.sql.batchId")
        if batch_id is None:
            raise RuntimeError(
                "streaming.sql.batchId local property missing — cannot key "
                "epoch-scoped pids; use streaming.encode_stream (foreachBatch) "
                "on this Spark build")
        part = ctx.partitionId()
        if part >= (1 << _STREAM_PID_BITS):
            raise ValueError(
                f"micro-batch has >{1 << _STREAM_PID_BITS} partitions; "
                "coalesce the stream or raise _STREAM_PID_BITS")
        pid = (int(batch_id) << _STREAM_PID_BITS) | part
        lineage_json = json.dumps(
            {"mode": "stream", "chunk_bytes": self.chunk_bytes,
             "batch_id": int(batch_id),
             "bloom_bits_per_value": self.bloom_bits, "hll_p": self.hll_p,
             "qsample_k": self.qsample_k})
        row = _encode_one_partition(
            pid, iterator, self.store, self.chunk_bytes, lineage_json,
            set(), self.bloom_bits, self.hll_p, self.qsample_k)
        return _FsstCommit(pid=pid, n_rows=row["n_rows"] if row else 0)

    def commit(self, messages, batchId: int) -> None:
        for i in range(commit_count(self.store)):
            if _read_commit(self.store, i).get("batch_id") == batchId:
                return  # replayed epoch: already published, exactly-once
        log_commit(self.store,
                   [m.pid for m in messages if m is not None and m.n_rows > 0],
                   mode="stream", batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        # files of the failed epoch stay untrusted (no commit entry); the
        # replay overwrites them pid-for-pid
        return None


class FsstDataSource(DataSource):
    """spark.read.format("fsst") / df.write.format("fsst") over encoded
    chunk stores. ``load(path)``/``save(path)`` name the store directory."""

    # the types schema() read (see there)
    _schema_types: dict[str, str] | None = None

    @classmethod
    def name(cls) -> str:
        return "fsst"

    def _path(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("fsst source needs a store path: .load(path) / .save(path)")
        return path

    def _types(self) -> dict[str, str]:
        """Store column types, narrowed by the ``columns`` read option
        (comma-separated). Spark has no pruneColumns hook for Python
        sources, so narrow reads are opt-in: the declared schema shrinks
        and unselected columns' payloads are never decoded."""
        types = store_column_types(self._path())
        sel = self.options.get("columns")
        if not sel:
            return types
        wanted = [c.strip() for c in sel.split(",") if c.strip()]
        missing = [c for c in wanted if c not in types]
        if missing:
            raise ValueError(
                f"columns option names {missing} not in store "
                f"(has {sorted(types)})")
        return {c: types[c] for c in wanted}

    def schema(self) -> str:
        # Spark pickles this instance after schema() and plans the read
        # from the copy, so the reader decodes the types the DataFrame's
        # schema was built from, without reading them again.
        self._schema_types = self._types()
        return _store_ddl(self._schema_types)

    def _read_types(self) -> dict[str, str]:
        """The types ``schema()`` read, or a fresh read when Spark never
        called it (the user supplied a schema)."""
        if self._schema_types is None:
            return self._types()
        return self._schema_types

    def reader(self, schema) -> FsstReader:
        as_of = self.options.get("as_of")
        since = self.options.get("since_commit")
        return FsstReader(self._path(), self._read_types(),
                          as_of=None if as_of is None else int(as_of),
                          since=None if since is None else int(since))

    def streamReader(self, schema) -> FsstStreamReader:
        store = self._path()
        if commit_count(store) == 0 and not os.path.isdir(_commits_dir(store)):
            raise ValueError(
                f"store {store!r} has no commit log; streaming follows "
                "committed writes only. Write it via df.write.format('fsst') "
                "or call fsst_source.log_commit_snapshot(store) after an "
                "encode job finishes.")
        return FsstStreamReader(store, self._read_types())

    def streamWriter(self, schema, overwrite: bool) -> FsstStreamWriter:
        from ..jobs.encode import _manifest_mode

        store = self._path()
        if overwrite:
            raise ValueError(
                "the fsst streaming sink is append-only (a store is an "
                "accumulating corpus); 'complete'/truncate output modes are "
                "not supported")
        mode = _manifest_mode(store)
        if mode not in (None, "stream"):
            raise ValueError(
                f"store {store!r} was written by encode mode {mode!r}; the "
                "streaming sink keys pids by (epoch, partition) and only "
                "composes with stream-mode stores — point writeStream at a "
                "fresh directory")
        from ..jobs.schema import added_columns, dropped_columns

        names = {f.name for f in schema.fields}
        ghost = dropped_columns(store) & names
        if ghost:
            raise ValueError(
                f"stream writes columns {sorted(ghost)} that were DROPPED "
                f"from store {store!r}; undrop_column first or drop them "
                "from the frame")
        lacking = set(added_columns(store)) - names
        if lacking:
            raise ValueError(
                f"stream lacks columns {sorted(lacking)} that were ADDED "
                f"to store {store!r}; include them (NULLs are fine) or "
                "drop_column first")
        for sub in ("chunks", "manifest"):
            os.makedirs(os.path.join(store, sub), exist_ok=True)
        return FsstStreamWriter(store, dict(self.options))

    def writer(self, schema, overwrite: bool) -> FsstWriter:
        import shutil

        store = self._path()
        pid_offset = 0
        if overwrite:
            for sub in ("chunks", "manifest", "commits"):
                shutil.rmtree(os.path.join(store, sub), ignore_errors=True)
        else:
            # append: new partitions take pids past every existing one, so
            # the store grows without touching (or re-reading) prior data —
            # incremental loads are just another write. Mode mixing is
            # refused the same way encode_job's resume guard does: pids
            # keyed by another scheme could silently collide.
            from ..jobs.encode import _manifest_mode, completed_pids

            mode = _manifest_mode(store)
            if mode not in (None, "datasource"):
                raise ValueError(
                    f"store {store!r} was written by encode mode {mode!r}; "
                    "append via df.write.format('fsst') only composes with "
                    "datasource-written stores — use jobs.encode APIs here")
            pid_offset = 1 + max(completed_pids(store), default=-1)
            from ..jobs.schema import dropped_columns

            ghost = dropped_columns(store) & {f.name for f in schema.fields}
            if ghost:
                raise ValueError(
                    f"append writes columns {sorted(ghost)} that were "
                    f"DROPPED from store {store!r}; undrop_column first "
                    "or drop them from the frame")
            from ..jobs.schema import added_columns

            # appends after ADD COLUMN must carry it: the decode readers'
            # virtual-NULL fill applies only to chunks PREDATING the add —
            # column growth stays monotone across chunk generations
            lacking = set(added_columns(store)) - {f.name for f in schema.fields}
            if lacking:
                raise ValueError(
                    f"append lacks columns {sorted(lacking)} that were "
                    f"ADDED to store {store!r}; include them (NULLs are "
                    "fine) or drop_column first")
        for sub in ("chunks", "manifest"):
            os.makedirs(os.path.join(store, sub), exist_ok=True)
        return FsstWriter(store, dict(self.options), pid_offset)


def register(spark) -> None:
    """Register the ``fsst`` format on this session (idempotent) and
    enable Python-source filter pushdown (off by default in Spark 4.1;
    without it a reader that implements ``pushFilters`` is rejected)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FsstDataSource)


def register_store_view(spark, store: str, name: str,
                        columns: str | None = None) -> None:
    """Expose an encoded store to the SQL surface: ``spark.sql("SELECT
    ... FROM name")`` runs over the fsst source with the full pushdown
    stack (zone/dict/bloom chunk pruning via pushFilters, tombstones,
    time travel via a separate registration with ``.option``). SQL
    predicates on the view reach the source's ``pushFilters`` hook, so
    ``WHERE doc_id >= X`` on a clustered store scans only matching
    chunks. ``columns`` (comma-separated) narrows the view to a column
    subset whose payloads are never decoded."""
    register(spark)
    reader = spark.read.format("fsst")
    if columns:
        reader = reader.option("columns", columns)
    reader.load(store).createOrReplaceTempView(name)


def register_stores_view(spark, stores: "list[str]", name: str,
                         columns: str | None = None) -> None:
    """Expose a FAMILY of stores (the daily-shard layout) as ONE SQL
    view: ``UNION ALL`` over per-store ``fsst`` reads. Catalyst pushes
    the view's ``WHERE`` predicates through the Union into every
    branch's ``pushFilters``, so zone/dict/bloom chunk pruning still
    applies per shard — a ``warc_ts`` range over a year of daily shards
    skips whole stores. Columns shared by several shards must agree on
    type (checked against every manifest up front — a drifted shard
    fails at registration, not mid-query); columns missing from older
    shards null-fill via ``unionByName(allowMissingColumns=True)``, the
    same semantics the engine's metadata-only ADD COLUMN gives within
    one store."""
    if not stores:
        raise ValueError("register_stores_view needs at least one store")
    from ..jobs.decode import shard_column_types

    register(spark)
    wanted = ([c.strip() for c in columns.split(",") if c.strip()]
              if columns else None)
    parts = []
    for s, types in zip(stores, shard_column_types(stores, wanted)):
        reader = spark.read.format("fsst")
        if wanted is not None:
            have = [c for c in wanted if c in types]
            if not have:
                continue  # shard carries none of the projected columns
            reader = reader.option("columns", ",".join(have))
        parts.append(reader.load(s))
    if not parts:
        raise KeyError(
            f"no store in {stores} carries any of the requested columns "
            f"{wanted}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    out.createOrReplaceTempView(name)
