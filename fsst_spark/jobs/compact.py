"""Store compaction: merge many small chunk files into few, WITHOUT
decoding any payload.

A long-running ingest (streaming epochs, many small encode partitions,
resumed jobs) leaves an encoded store with thousands of small
``chunks/part-*.parquet`` files — the classic lakehouse small-file
problem: footer-read overhead starts to dominate selective decodes, and
file listings grow. Every chunk lives whole in its pid's file, so
compaction concatenates whole files: one file task per contiguous run of
the pid-ordered files reads them with pyarrow, renumbers pid and
chunk_id, and writes one file with the encode jobs' temp+atomic-rename
protocol. Payloads, params, checksums, zone maps and sketches are copied
verbatim, so decode/verify semantics are unchanged (a post-compaction
``verify`` is a true end-to-end gate), and pid order, with any
clustering, is kept.

This is the shape of an Iceberg ``rewrite_data_files`` action: no decode,
no re-encode, no shuffle, O(files) driver work.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .encode import (CHUNK_SCHEMA, METRIC_PA_SCHEMA, METRIC_SCHEMA_DDL,
                     file_task_df, publish_part)


def _byte_runs(paths: list[str], k: int) -> list[list[str]]:
    """``paths`` cut into ``k`` (<= len(paths)) non-empty contiguous runs
    of about equal bytes."""
    cum = list(itertools.accumulate(map(os.path.getsize, paths)))
    bounds = [0]
    for j in range(1, k):
        end = bisect.bisect_left(cum, cum[-1] * j / k) + 1
        bounds.append(min(max(end, bounds[-1] + 1), len(paths) - k + j))
    return [paths[a:b] for a, b in zip(bounds, bounds[1:] + [len(paths)])]


def _compact_run(pid: int, paths: list[str], out_dir: str,
                 lineage_json: str) -> dict:
    """Concatenate the chunk files ``paths`` (pid order) into partition
    ``pid`` of ``out_dir``; returns its manifest row."""
    t0 = time.time()
    # read as the canonical chunk schema: metadata columns a file written
    # before they existed (e.g. bloom) lacks read as nulls
    t = pq.read_table(paths, schema=CHUNK_SCHEMA)
    old = (t.column("pid").to_numpy().astype(np.int64) << 32) \
        | t.column("chunk_id").to_numpy()
    _, first, chunk_ids = np.unique(old, return_index=True, return_inverse=True)
    t = t.set_column(0, "pid", pa.array(np.full(t.num_rows, pid, np.int32)))
    t = t.set_column(1, "chunk_id", pa.array(chunk_ids.astype(np.int32)))
    return publish_part(out_dir, pid, t, t0, {
        "n_rows": pc.sum(t.column("n_rows").take(first)).as_py(),
        "n_chunks": len(first), "raw_bytes": pc.sum(t.column("raw_bytes")).as_py(),
        "enc_bytes": pc.sum(t.column("enc_bytes")).as_py(),
        "columns_json": "{}", "lineage": lineage_json})


def compact_store(spark, in_dir: str, out_dir: str,
                  target_files: int | None = None) -> DataFrame:
    """Rewrite ``in_dir``'s chunk files into ``min(target_files, input
    files)`` files (default: one per 8 inputs) under ``out_dir`` (chunks/
    + manifest/), each the concatenation of a contiguous pid-ordered run
    of input files of about equal bytes. Returns the lazy metrics frame —
    ``.collect()`` it to run the one Spark job. Payloads are never
    decoded; a store with row tombstones is refused."""
    from .plan import chunk_files

    if os.path.abspath(in_dir) == os.path.abspath(out_dir):
        raise ValueError("compact_store writes a NEW store; out_dir must "
                         "differ from in_dir (swap directories after)")
    paths = [path for _, path in chunk_files(in_dir)]
    n_in = len(paths)
    if target_files is None:
        target_files = max(1, n_in // 8)
    # compaction remaps (pid, chunk_id) while copying payloads verbatim —
    # position tombstones key on those ids and would be orphaned
    from .deletes import has_deletes

    if has_deletes(in_dir):
        raise ValueError(
            f"store {in_dir!r} has row tombstones (deletes/); compact_store "
            "copies payloads verbatim and remaps chunk ids, which would "
            "orphan them. Run jobs.deletes.materialize_deletes (or "
            "recluster_store) first.")
    os.makedirs(os.path.join(out_dir, "chunks"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    # payloads are copied verbatim, so metadata-only column drops must
    # travel too — otherwise compaction would resurrect dropped columns
    from .schema import copy_schema_log

    copy_schema_log(in_dir, out_dir)
    lineage_json = json.dumps({"mode": "compacted", "source_store": in_dir,
                               "source_files": n_in, "target_files": target_files})
    runs = _byte_runs(paths, min(target_files, n_in))

    def rewrite(batches):
        for batch in batches:
            for pid, run in zip(batch.column("pid").to_pylist(),
                                batch.column("files").to_pylist()):
                row = _compact_run(pid, json.loads(run), out_dir, lineage_json)
                yield from pa.Table.from_pylist(
                    [row], schema=METRIC_PA_SCHEMA).to_batches()

    return (file_task_df(spark, [(i, json.dumps(r)) for i, r in enumerate(runs)],
                         "pid int, files string")
            .mapInArrow(rewrite, METRIC_SCHEMA_DDL))


def recluster_store(spark, in_dir: str, out_dir: str, sort_key,
                    num_partitions: int | None = None,
                    chunk_bytes: int = 16 << 20) -> DataFrame:
    """Re-layout an existing encoded store on a new cluster key — the
    maintenance action that turns an ingest-ordered store into one whose
    zone maps actually prune (Iceberg's ``rewrite_data_files`` with a
    sort order, Delta's ``OPTIMIZE ZORDER BY``).

    Unlike ``compact_store`` this MUST decode and re-encode: changing row
    order changes every chunk's zones, codecs (sorted strings front-code),
    and payloads. The plan is the decode scan feeding the encode job's
    range shuffle — two passes over payload bytes, metadata-scale driver
    work, no collects.

    ``sort_key`` is whatever ``encode_job(sort_key=)`` accepts (column
    names, Spark Columns) plus factories ``df -> Column`` (the CLI's
    parsed ``url_sort_key(COL)``/``zorder(...)`` expressions need the
    decoded frame to bind against). Returns the encode metrics frame
    (lazy — ``.collect()`` it to run)."""
    from .decode import decode_job
    from .encode import encode_job

    df = decode_job(spark, in_dir).drop("pid", "chunk_id")
    keys = sort_key if isinstance(sort_key, (list, tuple)) else [sort_key]
    keys = [k(df) if callable(k) else k for k in keys]
    return encode_job(
        spark, df, out_dir, num_partitions=num_partitions,
        chunk_bytes=chunk_bytes, resume=False, sort_key=list(keys),
        lineage={"recluster_from": in_dir})


def merge_stores(spark, in_dirs: "list[str]", out_dir: str,
                 sort_key=None, columns: "list[str] | None" = None,
                 num_partitions: int | None = None,
                 chunk_bytes: int = 16 << 20,
                 unique_col: str = "url") -> DataFrame:
    """Consolidate a shard FAMILY into ONE store — the monthly-compaction
    action for a store-per-crawl-day layout (Iceberg's rewrite across
    snapshots): ``decode_stores`` unions the shards (schema drift
    null-fills, type drift fails fast) and ``encode_job`` rewrites,
    optionally re-clustered on ``sort_key`` so the merged store's zones
    prune across what used to be shard boundaries. Decode+re-encode by
    necessity: chunk zones, codec choices and front-coding all change
    when rows from many shards interleave. Lineage records every source
    store. Returns the lazy encode metrics frame (``collect()`` to run).
    """
    from .decode import decode_stores
    from .encode import encode_job

    if not in_dirs:
        raise ValueError("merge_stores needs at least one source store")
    for d in in_dirs:
        if os.path.abspath(d) == os.path.abspath(out_dir):
            raise ValueError("merge_stores writes a NEW store; out_dir "
                             "must differ from every source")
    df = decode_stores(spark, in_dirs, columns=columns)
    keys = None
    if sort_key is not None:
        keys = sort_key if isinstance(sort_key, (list, tuple)) else [sort_key]
        keys = [k(df) if callable(k) else k for k in keys]
    return encode_job(
        spark, df, out_dir, num_partitions=num_partitions,
        chunk_bytes=chunk_bytes, resume=False, unique_col=unique_col,
        sort_key=list(keys) if keys is not None else None,
        lineage={"merged_from": list(in_dirs)})
