"""Distributed encode job: DataFrame -> encoded column chunks + manifest.

Pipeline (SURVEY.md sec 3.4):

    df (any source: Iceberg/Parquet scan, synthetic generator)
      -> salted_repartition(...)            explicit skew handling (north rule)
      -> mapInArrow(encode_partition)       one task per partition:
           per ~chunk_bytes of buffered rows, per column:
             stats -> codec auto-select -> vectorized encode
           write  <out>/chunks/part-<pid>.parquet   (temp + atomic rename)
           write  <out>/manifest/part-<pid>.parquet (temp + atomic rename)
      -> returns per-partition metric rows

Checkpoint/resume: the manifest file is written only after the chunk file
rename commits, so a manifest row == a fully durable partition. A re-run
with ``resume=True`` skips every partition that already has a manifest
file — and because the skip happens before the task pulls any input rows,
Spark never even scans the source for completed partitions. Partition ids
are deterministic (hash repartition on stable keys + fixed partition
count), so re-runs are idempotent.

At 10^12-document scale each partition is one executor task; the manifest
is a tiny parquet table (one row per partition) that doubles as lineage
(source, snapshot, row counts, checksums) and metrics (bytes, ratio, MB/s).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import uuid
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from .. import __version__
from ..kernel.codecs import chunk_stats, encode_column

CHUNK_SCHEMA = pa.schema(
    [
        ("pid", pa.int32()),
        ("chunk_id", pa.int32()),
        ("column", pa.string()),
        ("n_cols", pa.int32()),
        ("codec", pa.string()),
        ("params", pa.string()),
        ("payload", pa.large_binary()),
        ("n_rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("checksum", pa.string()),
        # zone map: exact per-chunk min/max for int/timestamp columns
        # (timestamps in their storage unit), null for other types and
        # all-null chunks. decode_job prunes chunk groups on these at the
        # parquet scan, so a selective decode never reads pruned payloads.
        ("zmin_long", pa.int64()),
        ("zmax_long", pa.int64()),
        # exact per-chunk SUM of non-null values for null-free int chunks
        # (null when the chunk has nulls, is non-int, or the sum could
        # overflow int64): together with n_rows this makes whole-store
        # sum/avg a pure metadata aggregation (jobs/stats.encoded_column_sum)
        # — chunks without it (nulls, tombstones, pre-zsum stores) decode
        # individually, everything else is payload-free.
        ("zsum_long", pa.int64()),
        # point-predicate bloom filter (kernel.bloom blob) for ==/IN chunk
        # pruning on high-NDV columns where range zones can't help; null
        # for dict-coded chunks (the dictionary already prunes exactly),
        # unsupported types, and bloom-disabled encodes.
        ("bloom", pa.large_binary()),
        # mergeable HyperLogLog sketch (kernel.hll blob): whole-store NDV
        # is an elementwise register max over chunks — metadata-only at
        # any scale; null for unsupported types and hll-disabled encodes.
        ("hll", pa.large_binary()),
        # quantile sketch (kernel.qsample blob): sorted equi-spaced value
        # sample — approximate percentiles merge store-wide by weighted
        # rank, exact when chunks are small; null for strings/all-null
        # chunks and qsample-disabled encodes.
        ("qsketch", pa.large_binary()),
    ]
)

METRIC_SCHEMA_DDL = (
    "pid int, status string, n_rows bigint, n_chunks int, raw_bytes bigint, "
    "enc_bytes bigint, wall_sec double, columns_json string, lineage string, "
    "engine_version string, finished_at string"
)

METRIC_PA_SCHEMA = pa.schema(
    [
        ("pid", pa.int32()),
        ("status", pa.string()),
        ("n_rows", pa.int64()),
        ("n_chunks", pa.int32()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("wall_sec", pa.float64()),
        ("columns_json", pa.string()),
        ("lineage", pa.string()),
        ("engine_version", pa.string()),
        ("finished_at", pa.string()),
    ]
)


def canonical_bytes(arr: pa.Array) -> bytes:
    """Canonical byte serialization of a column chunk for checksumming.

    Decoded output must reproduce these bytes exactly (bit-identical gate).
    """
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    t = arr.type
    parts = []
    if arr.null_count:
        parts.append(np.packbits(np.asarray(arr.is_valid()), bitorder="little").tobytes())
        dense = arr.drop_null()
    else:
        dense = arr
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        joined = pa.concat_arrays([dense.cast(pa.large_binary())])
        bufs = joined.buffers()
        off = np.frombuffer(bufs[1], dtype=np.int64, count=len(joined) + 1)
        data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.zeros(0, np.uint8)
        parts.append((off[1:] - off[:-1]).tobytes())
        parts.append(data[off[0] : off[-1]].tobytes())
    elif pa.types.is_timestamp(t):
        parts.append(dense.cast(pa.int64()).to_numpy(zero_copy_only=False).tobytes())
    elif pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        import pyarrow.compute as pc

        lens = pc.list_value_length(dense).cast(pa.int64()).to_numpy(zero_copy_only=False)
        parts.append(lens.tobytes())
        parts.append(canonical_bytes(dense.flatten()).encode("ascii"))
    else:
        parts.append(dense.to_numpy(zero_copy_only=False).tobytes())
    h = hashlib.blake2b(digest_size=16)
    for p in parts:
        h.update(p)
    return h.hexdigest()


def raw_size_of(arr: pa.Array) -> int:
    """Logical raw bytes of a column chunk (values + 4B/offset for strings)."""
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        joined = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
        bufs = joined.cast(pa.large_binary()).buffers()
        off = np.frombuffer(bufs[1], dtype=np.int64, count=len(joined) + 1)
        return int(off[-1] - off[0])
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        # child values + 4B/row of list structure (mirrors the string rule)
        flat = (arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr).flatten()
        return raw_size_of(flat) + 4 * len(arr)
    return len(arr) * max(t.bit_width // 8, 1) if hasattr(t, "bit_width") else arr.nbytes


def zone_pack8(value: bytes | str) -> int:
    """Order-preserving int64 of a string/binary prefix.

    Big-endian uint64 of the first 8 bytes (zero-padded), shifted into
    int64 range: for any s1 <= s2 under bytewise (UTF8_BINARY) collation,
    zone_pack8(s1) <= zone_pack8(s2). Equal prefixes collapse — the zone
    stays a conservative bound, never an exact one, which is all pruning
    needs. Both Spark (UTF8_BINARY default) and DuckDB (binary collation)
    compare strings bytewise, so the same transform prunes for either.

    Prefix zones only discriminate when values differ within their first
    8 bytes: a column of full URLs collapses to the constant 'https://'
    zone (no pruning, still correct). Store URLs scheme-stripped or
    host-reversed — the standard columnar-layout practice — to make their
    zones selective."""
    b = value.encode("utf-8", "surrogatepass") if isinstance(value, str) else value
    return int.from_bytes(b[:8].ljust(8, b"\0"), "big") - (1 << 63)


def zone_packf(value: float) -> int:
    """Order-preserving int64 of a float64 (IEEE total-order bit trick).

    Flip all bits of negatives, set the sign bit of non-negatives: for any
    f1 <= f2, zone_packf(f1) <= zone_packf(f2). -0.0 is normalized to +0.0
    first (SQL engines compare them equal, so a -0.0-only chunk must not
    be pruned for ``x >= 0.0``); NaN packs to int64 max, matching Spark's
    ordering where NaN sorts above every value (and NaN == NaN)."""
    import math
    import struct

    if math.isnan(value):
        return (1 << 63) - 1
    if value == 0.0:
        value = 0.0  # collapse -0.0
    bits = struct.unpack("<Q", struct.pack("<d", float(value)))[0]
    key = (~bits & 0xFFFFFFFFFFFFFFFF) if bits >> 63 else (bits | (1 << 63))
    return key - (1 << 63)


def _chunk_bloom(arr: pa.Array, stats: dict, codec: str,
                 bits_per_value: int, hashes=None) -> bytes | None:
    """Per-chunk bloom blob, or None where one adds nothing: disabled
    encodes, dict-coded chunks (dictionary membership pruning is exact and
    already implemented), and types without a hash path (floats/nested).
    NDV for sizing comes from chunk_stats' strided estimate for strings
    and the value-range/row-count bound for ints/timestamps. ``hashes``
    shares one hashing pass with the HLL sketch."""
    if bits_per_value <= 0 or codec == "str_dict":
        return None
    from ..kernel.bloom import bloom_build

    n_vals = stats.get("n", 0) - stats.get("nulls", 0)
    if "ndv_est" in stats:
        ndv = stats["ndv_est"]
    elif "min" in stats:  # ints/timestamps: ndv <= value range and row count
        ndv = min(n_vals, stats["max"] - stats["min"] + 1)
    else:
        ndv = n_vals
    return bloom_build(arr, ndv, bits_per_value, hashes=hashes)


def _chunk_sketches(arr: pa.Array, stats: dict, codec: str,
                    bloom_bits_per_value: int, hll_p: int,
                    qsample_k: int = 256,
                    ) -> tuple[bytes | None, bytes | None, bytes | None]:
    """(bloom, hll, qsketch) for one chunk; bloom and hll share a single
    value-hash pass (the hash over string bytes dominates sketch cost;
    floats hash only inside hll_build, which has the raw-bits path the
    bloom deliberately lacks). The quantile sample sorts numeric values
    instead — no hashing, and qsample_build rejects strings itself."""
    nested = pa.types.is_nested(arr.type)  # lists: no hash path, no zones
    want_bloom = bloom_bits_per_value > 0 and codec != "str_dict" and not nested
    want_hll = hll_p > 0 and not nested
    qs = None
    if qsample_k > 0:
        from ..kernel.qsample import qsample_build

        qs = qsample_build(arr, qsample_k)
    if not (want_bloom or want_hll):
        return None, None, qs
    from ..kernel.bloom import _value_hashes
    from ..kernel.hll import hll_build

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    h = _value_hashes(arr)
    bloom = (_chunk_bloom(arr, stats, codec, bloom_bits_per_value, hashes=h)
             if want_bloom else None)
    hll = hll_build(arr, hll_p, hashes=h) if want_hll else None
    return bloom, hll, qs


def _zone_bounds(arr: pa.Array, stats: dict) -> tuple[int | None, int | None]:
    """Per-chunk zone bounds as int64: exact min/max for ints/timestamps,
    order-preserving 8-byte prefixes for strings/binary, total-order float
    keys for float32/64 (NaN chunks get an open upper bound — Spark/DuckDB
    sort NaN above everything), null otherwise."""
    if stats.get("n", 0) <= stats.get("nulls", 0):
        return None, None
    if "min" in stats:  # ints/timestamps: chunk_stats already scanned them
        return stats["min"], stats["max"]
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        import pyarrow.compute as pc

        mm = pc.min_max(arr)
        return zone_pack8(mm["min"].as_py()), zone_pack8(mm["max"].as_py())
    if pa.types.is_floating(t):
        v = arr.drop_null().to_numpy(zero_copy_only=False).astype(np.float64)
        finite = v[~np.isnan(v)]
        if len(finite) == 0:  # all-NaN chunk: only NaN predicates match
            return zone_packf(float("nan")), zone_packf(float("nan"))
        zmax = zone_packf(float("nan")) if len(finite) < len(v) \
            else zone_packf(float(finite.max()))
        return zone_packf(float(finite.min())), zmax
    return None, None


def _zone_sum(arr: pa.Array, stats: dict) -> int | None:
    """Exact sum of a NULL-FREE int chunk as int64, or None. Chunks with
    nulls are excluded on purpose: the metadata consumer needs the
    non-null value COUNT too (for avg / SQL count), and null counts are
    not in chunk metadata — a null-bearing chunk decodes instead, keeping
    every metadata answer exact rather than approximately sourced. The
    sum is computed in Python int (no wraparound) and dropped when it
    falls outside int64."""
    if stats.get("nulls", 0) or "min" not in stats or not stats.get("n", 0):
        return None  # nulls present, non-int column, or empty
    if not pa.types.is_integer(arr.type):
        return None  # "min" also appears for timestamp stats
    s = int(np.sum(arr.to_numpy(zero_copy_only=False), dtype=object))
    return s if -(1 << 63) <= s < (1 << 63) else None


def part_files(directory: str) -> list[tuple[int, str]]:
    """``(pid, path)`` of the ``part-<pid>.parquet`` files in a store's
    ``chunks/`` or ``manifest/`` ``directory``, in pid order; any other
    name (temp files, non-numeric stems) is skipped."""
    out = []
    for path in glob.glob(os.path.join(directory, "part-*.parquet")):
        stem = os.path.basename(path)[len("part-"):-len(".parquet")]
        if stem.isdigit():  # full numeric stem: safe past pid 99999
            out.append((int(stem), path))
    return sorted(out)


def completed_pids(out_dir: str) -> set[int]:
    return {pid for pid, _ in part_files(os.path.join(out_dir, "manifest"))}


def _manifest_mode(out_dir: str) -> str | None:
    """The pid-keying mode an existing store was written under ('files' or
    'dataframe'; pre-mode manifests default to 'dataframe'), or None for a
    fresh/empty output dir. Reads one manifest footer."""
    for _, path in part_files(os.path.join(out_dir, "manifest")):
        tbl = pq.read_table(path, columns=["lineage"])
        if tbl.num_rows:
            return json.loads(tbl.column(0)[0].as_py() or "{}").get("mode", "dataframe")
    return None


def _resume_mode_guard(out_dir: str, mode: str, resume: bool) -> None:
    """Refuse to resume a store encoded under a different pid-keying mode.

    ``encode_files_job`` keys pids by file index; ``encode_job`` keys by
    shuffle partition id. Both share ``completed_pids`` resume state, so
    resuming a partial store under the other scheme would skip pids that
    were completed under the other keying — a silently mixed/wrong store.
    The manifest's lineage records the mode; a mismatch demands an explicit
    ``resume=False`` (CLI ``--no-resume``) or a fresh output dir.
    """
    if not resume:
        return
    prev = _manifest_mode(out_dir)
    if prev is not None and prev != mode:
        raise ValueError(
            f"refusing to resume {out_dir!r}: its manifest was written "
            f"by the {prev!r} encode mode but this invocation uses "
            f"{mode!r}; pid keying differs between modes, so resuming "
            "would skip the wrong partitions. Re-run with resume=False "
            "(--no-resume) or a fresh output dir.")


def _parquet_scan_files(df: DataFrame) -> list[str] | None:
    """Local parquet file list when ``df`` is a BARE parquet table scan
    (no projection/filter/join above the relation), else None.

    The file-granular encode path reads parquet columnar-natively inside
    the task — no JVM row->Arrow hop — and has measured >2x the
    DataFrame-scan arm for three rounds. Rerouting is only sound when the
    frame is exactly the table: any operator above the relation (Project,
    Filter, ...) would be silently dropped by re-reading the files, so
    those plans stay on the scan path. Hive-partition columns live in
    directory names, not file footers — reroute only when every dataframe
    column is physically present in the files."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() not in (
                "LogicalRelation", "DataSourceV2Relation"):
            return None
        files = sorted(df.inputFiles())
    except Exception:  # non-JVM-backed frames, mocks, exotic sources
        return None
    if not files or not all(f.endswith(".parquet") for f in files):
        return None
    paths = []
    for f in files:
        if f.startswith("file:"):
            p = f[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
            paths.append(p)
        elif "://" not in f:
            paths.append(f)
        else:
            return None  # remote FS: task-side pyarrow open not guaranteed here
    try:
        file_schema = set(pq.read_schema(paths[0]).names)
    except OSError:
        return None
    if not set(df.columns) <= file_schema:
        return None
    return paths


def _sql_literal(v) -> str:
    """An int or a str as a Spark SQL literal; a str goes as its UTF-8 hex
    (a binary literal), so no quoting or escaping setting applies."""
    return f"X'{v.encode().hex()}'" if isinstance(v, str) else str(int(v))


def file_task_df(spark, rows: list, schema: str) -> DataFrame:
    """One-partition-per-task DataFrame over a small driver-side task list,
    built on the JVM alone: ``range(0, n, 1, n)`` (``spark.range(n,
    numPartitions=n)``) gives partition i the single row ``id = i``, and
    each field of the flat DDL ``schema`` selects element ``id`` of a
    literal array of the rows' values. Rows keep list order with no
    shuffle, and no row crosses a Python worker (``createDataFrame`` over a
    pickled ``parallelize`` RDD would run each partition through one before
    the job's own Python task). Used by every file-granular job (encode,
    decode, verify, deletes, aggregations)."""
    n = len(rows)
    cols = ", ".join(
        f"CAST(element_at(array({', '.join(_sql_literal(r[i]) for r in rows)}),"
        f" CAST(id AS INT) + 1) AS {t}) AS {c}"
        for i, (c, t) in enumerate(f.split() for f in schema.split(",")))
    return spark.sql(f"SELECT {cols} FROM range(0, {n}, 1, {max(1, n)})")


def _atomic_write(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp, compression="none")
    os.replace(tmp, path)


def publish_part(out_dir: str, pid: int, chunks: pa.Table, t0: float,
                 metric: dict) -> dict:
    """Publish partition ``pid`` of ``out_dir``: its chunk file, then its
    manifest row (``metric`` plus pid, status, ``wall_sec`` since ``t0``,
    engine version and finish time), each by temp + atomic rename.
    Returns the manifest row."""
    _atomic_write(chunks, os.path.join(out_dir, "chunks", f"part-{pid:05d}.parquet"))
    row = {"pid": pid, "status": "done", **metric,
           "wall_sec": time.time() - t0, "engine_version": __version__,
           "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    _atomic_write(pa.Table.from_pylist([row], schema=METRIC_PA_SCHEMA),
                  os.path.join(out_dir, "manifest", f"part-{pid:05d}.parquet"))
    return row


def append_log_entry(log_dir: str, entry: dict) -> int:
    """Append ``entry`` to an append-only JSON log directory (the commit,
    schema and delete logs); returns its index. The entry is written whole
    under a temporary name that no reader counts (not ``*.json``), then
    published by ``os.link`` to the next index — the link fails if the
    index exists, so two concurrent appends serialize instead of
    clobbering (the loser retries at idx+1), and no reader ever sees a
    partly written entry. A write that fails publishes nothing."""
    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".entry-{uuid.uuid4().hex}.tmp")
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(json.dumps(entry).encode())
        idx = sum(1 for f in os.listdir(log_dir) if f.endswith(".json"))
        while True:
            try:
                os.link(tmp, os.path.join(log_dir, f"{idx:08d}.json"))
                return idx
            except FileExistsError:
                idx += 1
    finally:
        os.unlink(tmp)


def salted_repartition(df: DataFrame, num_partitions: int,
                       group_cols: list[str] | None = None,
                       unique_col: str = "url",
                       target_bytes_per_partition: int = 256 << 20,
                       size_col: str | None = "text") -> DataFrame:
    """Explicit skew-aware repartitioning (north rule).

    Without ``group_cols``: uniform hash partitioning on the unique key.

    With ``group_cols`` (e.g. ``["lang"]``): rows of one group are kept
    together (homogeneous data -> better symbol tables) but a group whose
    byte volume exceeds the per-partition target is *salted* into
    ``ceil(bytes/target)`` sub-buckets, so one dominant host/language can
    never produce a straggler partition. The per-group sizes come from a
    cheap aggregate; the bucket map is broadcast-joined (no shuffle of the
    big side beyond the final repartition).
    """
    if not group_cols:
        # Full-entropy hash partitioning: repartition re-hashes the
        # expression, so pass the raw hash (a pmod-bucketed expression
        # would collapse to num_partitions distinct values and re-hash
        # unevenly, leaving some partitions empty).
        return df.repartition(num_partitions, F.xxhash64(unique_col))

    sz = F.length(size_col) if size_col else F.lit(1024)
    sizes = df.groupBy(*group_cols).agg(F.sum(sz).alias("_bytes"))
    buckets = sizes.withColumn(
        "_buckets",
        F.greatest(F.lit(1), F.ceil(F.col("_bytes") / F.lit(target_bytes_per_partition))).cast("int"),
    ).drop("_bytes")
    out = df.join(F.broadcast(buckets), on=group_cols, how="left")
    out = out.withColumn("_salt", F.pmod(F.xxhash64(unique_col), F.col("_buckets")))
    out = out.repartition(num_partitions, *group_cols, F.col("_salt"))
    return out.drop("_salt", "_buckets")


def encode_job(
    spark,
    df: DataFrame,
    out_dir: str,
    *,
    columns: list[str] | None = None,
    num_partitions: int | None = None,
    group_cols: list[str] | None = None,
    unique_col: str = "url",
    chunk_bytes: int = 32 << 20,
    resume: bool = True,
    lineage: dict | None = None,
    pre_partitioned: bool = False,
    pid_offset: int = 0,
    sort_key=None,
    bloom_bits_per_value: int = 10,
    hll_p: int = 10,
    qsample_k: int = 256,
    _test_fail_pids: set[int] | None = None,
) -> DataFrame:
    """Run the encode pipeline; returns the per-partition metrics DataFrame.

    The returned frame is the manifest content (already durably written by
    the tasks themselves); collecting it is only for display/driver logic.

    ``sort_key`` (column name, Column expression — e.g.
    ``layout.url_sort_key(F.col("url"))`` — or a list of either)
    physically clusters the layout before encoding, the step that makes
    the per-chunk zone maps selective (``zone_pack8``'s docstring: raw
    URLs collapse to the constant ``https://`` zone; a host-reversed sort
    key gives every chunk a tight URL range, so ``decode_filtered`` prunes
    almost everything). Without ``group_cols`` the frame is
    range-repartitioned on the key (global clustering — each partition
    owns a key range, the Iceberg/lakehouse sort-order shape) and sorted
    within partitions; with ``group_cols`` or ``pre_partitioned`` the
    existing partitioning is kept and only the within-partition sort
    applies. Round-trip content is unchanged either way — clustering is a
    row permutation, verified bit-identical per chunk by checksum.
    """
    cols = columns or df.columns
    # Fast path: a bare parquet scan with default partitioning reroutes to
    # the file-granular job (pyarrow reads in the task — no JVM row->Arrow
    # hop, no shuffle; measured >2x this scan path on the same input).
    # Only when no option requires the scan plan (repartition/grouping/
    # expression sort keys/injected failures) and any existing store was
    # written file-keyed (the two modes key pids differently — resuming a
    # dataframe-keyed store stays on this path for compatibility).
    if (num_partitions is None and not group_cols and not pre_partitioned
            and pid_offset == 0 and not _test_fail_pids and sort_key is None
            and (not resume or _manifest_mode(out_dir) in (None, "files"))):
        files = _parquet_scan_files(df)
        if files is not None:
            return encode_files_job(
                spark, "", out_dir, columns=columns, chunk_bytes=chunk_bytes,
                resume=resume, files=files,
                bloom_bits_per_value=bloom_bits_per_value, hll_p=hll_p,
                qsample_k=qsample_k,
                lineage={**(lineage or {}), "rerouted_from": "encode_job"})
    df = df.select(*cols)
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 2
    os.makedirs(os.path.join(out_dir, "chunks"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    _resume_mode_guard(out_dir, "dataframe", resume)
    done = completed_pids(out_dir) if resume else set()
    sort_cols = None
    if sort_key is not None:
        keys = sort_key if isinstance(sort_key, (list, tuple)) else [sort_key]
        sort_cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    lineage_json = json.dumps(
        {**(lineage or {}), "columns": cols, "num_partitions": num_partitions,
         "group_cols": group_cols, "chunk_bytes": chunk_bytes,
         "mode": "dataframe", "bloom_bits_per_value": bloom_bits_per_value,
         "hll_p": hll_p, "qsample_k": qsample_k,
         "sort_key": [str(k) for k in sort_cols] if sort_cols else None}
    )

    if pre_partitioned:
        # Trust the source partitioning (e.g. a well-sized parquet layout or
        # an upstream bucketed write): no shuffle at all. Partition ids stay
        # deterministic for an identical input listing, so resume still
        # holds; prefer this when the scan already yields even partitions.
        part = df
    elif sort_cols and not group_cols:
        # Global clustering: each partition owns a contiguous key range
        # (RangePartitioner boundaries come from a deterministic sample of
        # the same input, so pid->rows stays stable for identical input and
        # resume holds). One shuffle — the same cost as the hash
        # repartition it replaces.
        part = df.repartitionByRange(num_partitions, *sort_cols)
    else:
        part = salted_repartition(df, num_partitions, group_cols=group_cols, unique_col=unique_col,
                                  size_col=_pick_size_col(df, cols))
    if sort_cols:
        part = part.sortWithinPartitions(*sort_cols)

    fail_pids = _test_fail_pids or set()

    def encode_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # pid_offset gives each streaming micro-batch (epoch) a disjoint pid
        # range so epochs share one chunks/manifest namespace; epoch replay
        # after a crash hits the completed-pid skip -> exactly-once sink.
        pid = TaskContext.get().partitionId() + pid_offset
        if pid in done:
            return  # durable already; input never gets pulled -> no rescan work
        row = _encode_one_partition(pid, batches, out_dir, chunk_bytes, lineage_json,
                                    fail_pids, bloom_bits_per_value, hll_p,
                                    qsample_k)
        if row is not None:
            yield from pa.Table.from_pylist([row], schema=METRIC_PA_SCHEMA).to_batches()

    return part.mapInArrow(encode_partition, METRIC_SCHEMA_DDL)


def _encode_one_partition(pid: int, batches: Iterator[pa.RecordBatch], out_dir: str,
                          chunk_bytes: int, lineage_json: str,
                          fail_pids: set[int],
                          bloom_bits_per_value: int = 10,
                          hll_p: int = 10,
                          qsample_k: int = 256) -> dict | None:
    """Encode one partition's batches into a chunk file + manifest row
    (temp + atomic rename). Shared by the DataFrame and file-driven jobs."""
    from ..env import madvise_hugepages

    madvise_hugepages()
    t0 = time.time()
    records: list[dict] = []
    buf: list[pa.RecordBatch] = []
    buf_bytes = 0
    chunk_id = 0
    col_metrics: dict[str, dict] = {}
    n_rows_total = 0
    # one shared FSST table per column per partition (trained on the first
    # fsst-coded chunk, reused by the rest — the reference's own shape:
    # src/builder.rs:604-628 trains one static table per corpus, not per
    # block). Per-chunk min-gain fallback still applies, so a chunk the
    # shared table fits poorly degrades to plain, never worse-than-raw.
    fsst_caches: dict[str, dict] = {}

    def flush() -> None:
        nonlocal chunk_id, buf, buf_bytes, n_rows_total
        if not buf:
            return
        tbl = pa.Table.from_batches(buf)
        for name in tbl.column_names:
            arr = tbl.column(name).combine_chunks()
            stats = chunk_stats(arr)
            enc = encode_column(arr, stats,
                                fsst_cache=fsst_caches.setdefault(name, {}))
            raw = raw_size_of(arr)
            m = col_metrics.setdefault(name, {"raw": 0, "enc": 0, "codecs": {}})
            m["raw"] += raw
            m["enc"] += len(enc["payload"])
            m["codecs"][enc["codec"]] = m["codecs"].get(enc["codec"], 0) + 1
            zmin, zmax = _zone_bounds(arr, stats)
            bloom, hll, qsketch = _chunk_sketches(
                arr, stats, enc["codec"], bloom_bits_per_value, hll_p,
                qsample_k)
            records.append(
                {
                    "pid": pid, "chunk_id": chunk_id, "column": name,
                    "n_cols": len(tbl.column_names),
                    "codec": enc["codec"], "params": json.dumps(enc["params"]),
                    "payload": enc["payload"], "n_rows": len(arr),
                    "raw_bytes": raw, "enc_bytes": len(enc["payload"]),
                    "checksum": canonical_bytes(arr),
                    "zmin_long": zmin, "zmax_long": zmax,
                    "zsum_long": _zone_sum(arr, stats),
                    "bloom": bloom, "hll": hll, "qsketch": qsketch,
                }
            )
        n_rows_total += tbl.num_rows
        chunk_id += 1
        buf, buf_bytes = [], 0

    for batch in batches:
        buf.append(batch)
        buf_bytes += batch.nbytes
        if buf_bytes >= chunk_bytes:
            flush()
    flush()

    if pid in fail_pids:
        raise RuntimeError(f"injected test failure in partition {pid}")

    if not records:
        return None

    return publish_part(
        out_dir, pid, pa.Table.from_pylist(records, schema=CHUNK_SCHEMA), t0,
        {"n_rows": n_rows_total, "n_chunks": chunk_id,
         "raw_bytes": sum(m["raw"] for m in col_metrics.values()),
         "enc_bytes": sum(m["enc"] for m in col_metrics.values()),
         "columns_json": json.dumps(col_metrics), "lineage": lineage_json})


def encode_files_job(
    spark,
    input_path: str,
    out_dir: str,
    *,
    columns: list[str] | None = None,
    chunk_bytes: int = 32 << 20,
    resume: bool = True,
    lineage: dict | None = None,
    batch_rows: int = 16384,
    files: list[str] | None = None,
    pid_offset: int = 0,
    sort_key: "str | list[str] | None" = None,
    bloom_bits_per_value: int = 10,
    hll_p: int = 10,
    qsample_k: int = 256,
) -> DataFrame:
    """File-granular encode: Spark parallelizes over parquet *files*; each
    task reads its file columnar-natively with pyarrow (no JVM row<->Arrow
    conversion, no shuffle) and encodes it. This is the shape of an Iceberg
    rewrite/compaction action and the preferred path for pure storage
    conversion: the scan stays columnar end-to-end and column pruning is a
    pyarrow ``columns=`` pushdown.

    Partition id = ``pid_offset`` + index of the file in the snapshot
    listing — deterministic for an identical input snapshot, so resume
    semantics match ``encode_job``, and — unlike partition-id keying — the
    pid->rows mapping is pinned to a stable identity (the file), immune to
    session-config or cluster-size changes between runs. The listing comes
    from ``sources.table_files`` (an Iceberg ``.files`` metadata scan when
    input is an ``iceberg:`` table — snapshot-consistent, no directory walk
    at 10^12 scale — else a sorted local glob), or from an explicit
    ``files`` list (e.g. a streaming micro-batch's checkpoint-pinned file
    set).

    ``sort_key`` (column name(s) — names only here; the sort happens
    pyarrow-side inside the task, so Spark expressions don't apply) sorts
    each FILE's rows before chunking: zones inside a file become tight key
    ranges. File granularity is preserved (no cross-file shuffle), so this
    clusters per-file — when input files already partition the key space
    (e.g. an upstream range-partitioned write), the result is a globally
    clustered layout at zero shuffle cost; use ``encode_job(sort_key=...)``
    to impose global clustering on an unclustered source.
    """
    from ..sources import table_files

    if files is None:
        files = table_files(spark, input_path)
    sort_cols = ([sort_key] if isinstance(sort_key, str) else
                 list(sort_key) if sort_key else None)
    os.makedirs(os.path.join(out_dir, "chunks"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    _resume_mode_guard(out_dir, "files", resume)
    done = completed_pids(out_dir) if resume else set()
    lineage_json = json.dumps(
        {**(lineage or {}), "columns": columns, "n_files": len(files),
         "chunk_bytes": chunk_bytes, "mode": "files",
         "bloom_bits_per_value": bloom_bits_per_value, "hll_p": hll_p,
         "qsample_k": qsample_k,
         "sort_key": sort_cols}
    )
    tasks = [(pid_offset + i, f) for i, f in enumerate(files)
             if pid_offset + i not in done]
    if not tasks:
        return spark.createDataFrame([], METRIC_SCHEMA_DDL)
    task_df = file_task_df(spark, tasks, "pid int, path string")

    def encode_file(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as _pc
        import pyarrow.parquet as _pq

        for batch in batches:
            for task_row in batch.to_pylist():
                pid, path = task_row["pid"], task_row["path"]
                pf = _pq.ParquetFile(path)
                if sort_cols:
                    # sort needs the whole file resident (a file is one
                    # task's working set by design, tens of MB); the sort
                    # key may be outside the encoded column subset, so read
                    # the union and drop the extras afterwards
                    read_cols = (list(dict.fromkeys([*columns, *sort_cols]))
                                 if columns else None)
                    tbl = pf.read(columns=read_cols)
                    idx = _pc.sort_indices(
                        tbl, sort_keys=[(c, "ascending") for c in sort_cols])
                    tbl = tbl.take(idx)
                    if columns:
                        tbl = tbl.select(columns)
                    reader = iter(tbl.to_batches(max_chunksize=batch_rows))
                else:
                    reader = pf.iter_batches(batch_size=batch_rows, columns=columns)
                row = _encode_one_partition(pid, reader, out_dir, chunk_bytes,
                                            lineage_json, set(),
                                            bloom_bits_per_value, hll_p,
                                            qsample_k)
                if row is not None:
                    yield from pa.Table.from_pylist([row], schema=METRIC_PA_SCHEMA).to_batches()

    return task_df.mapInArrow(encode_file, METRIC_SCHEMA_DDL)


def encode_files_batched(
    spark,
    out_dir: str,
    *,
    files,
    batch_files: int = 100_000,
    **kw,
) -> list[dict]:
    """File-granular encode over an arbitrarily large listing WITHOUT
    materializing it: consumes ``files`` (any iterable — e.g.
    ``sources.table_files_iter``) in ``batch_files``-sized slices and runs
    one ``encode_files_job`` per slice with contiguous pid ranges, so the
    driver holds one slice of paths at a time. pid = global position in
    the listing — identical to a single un-batched run, so resume state
    is interchangeable between the two forms (same listing order ==>
    same pids). Eager by design (each slice runs before the next is
    pulled); returns this run's metric rows as dicts."""
    from itertools import islice

    it = iter(files)
    pid = 0
    metrics: list[dict] = []
    while True:
        batch = list(islice(it, batch_files))
        if not batch:
            break
        rows = encode_files_job(spark, "", out_dir, files=batch,
                                pid_offset=pid, **kw).collect()
        metrics.extend(r.asDict() for r in rows)
        pid += len(batch)
    return metrics


def _pick_size_col(df: DataFrame, cols: list[str]) -> str | None:
    for name, dtype in df.dtypes:
        if name in cols and dtype in ("string", "binary"):
            return name
    return None


def read_manifest(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "manifest"))
