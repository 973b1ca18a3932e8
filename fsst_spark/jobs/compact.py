"""Store compaction: merge many small chunk files into few, WITHOUT
decoding any payload.

A long-running ingest (streaming epochs, many small encode partitions,
resumed jobs) leaves an encoded store with thousands of small
``chunks/part-*.parquet`` files — the classic lakehouse small-file
problem: footer-read overhead starts to dominate selective decodes, and
file listings grow. Compaction rewrites the store at the FILE level:
chunk rows (still encoded — payloads, params, checksums and zone maps are
copied verbatim) are range-partitioned by their (pid, chunk_id) key into
``target_files`` output partitions, re-keyed contiguously, and written
with the same temp+atomic-rename protocol as the encode jobs. Column
rows of one chunk stay together (the range shuffle keys on the full chunk
key), so decode/verify semantics are unchanged; per-column-chunk
checksums are preserved bit-for-bit, making a post-compaction ``verify``
a true end-to-end gate.

This is the shape of an Iceberg ``rewrite_data_files`` action: one narrow
shuffle of already-compressed bytes, no decode, no re-encode, O(1) driver
work.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .. import __version__
from .encode import CHUNK_SCHEMA, METRIC_PA_SCHEMA, METRIC_SCHEMA_DDL, _atomic_write


def compact_store(spark, in_dir: str, out_dir: str,
                  target_files: int | None = None,
                  lineage: dict | None = None) -> DataFrame:
    """Rewrite ``in_dir``'s chunk files into ``target_files`` files under
    ``out_dir`` (chunks/ + manifest/). Returns the lazy metrics frame —
    ``.collect()`` it to run the job. Payloads are never decoded."""
    import glob as _glob

    n_in = len(_glob.glob(os.path.join(in_dir, "chunks", "*.parquet")))
    if n_in == 0:
        raise FileNotFoundError(f"no chunk files under {in_dir}")
    if target_files is None:
        target_files = max(1, n_in // 8)
    if os.path.abspath(in_dir) == os.path.abspath(out_dir):
        raise ValueError("compact_store writes a NEW store; out_dir must "
                         "differ from in_dir (swap directories after)")
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
    lineage_json = json.dumps(
        {**(lineage or {}), "mode": "compacted", "source_store": in_dir,
         "source_files": n_in, "target_files": target_files})

    chunks = spark.read.parquet(os.path.join(in_dir, "chunks"))
    # contiguous (pid, chunk_id) ranges per output file: preserves any
    # clustering the encode layout had (sorted stores stay sorted). The
    # range key must be exactly the chunk key — equal keys land in one
    # partition, so every column row of a chunk stays in one task;
    # including `column` in the key could split a chunk across files.
    part = chunks.repartitionByRange(
        target_files, F.col("pid"), F.col("chunk_id"))

    def rewrite(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        new_pid = TaskContext.get().partitionId()
        t0 = time.time()
        remap: dict[tuple[int, int], int] = {}
        rows_by_chunk: dict[tuple[int, int], int] = {}
        out_batches: list[pa.RecordBatch] = []
        raw = enc = 0
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pids = tbl.column("pid").to_pylist()
            cids = tbl.column("chunk_id").to_pylist()
            rows_col = tbl.column("n_rows").to_pylist()
            new_ids = []
            for p, c, r in zip(pids, cids, rows_col):
                key = (p, c)
                if key not in remap:
                    remap[key] = len(remap)
                    rows_by_chunk[key] = r  # same for every column row
                new_ids.append(remap[key])
            tbl = tbl.set_column(
                tbl.schema.get_field_index("pid"), "pid",
                pa.array([new_pid] * len(pids), pa.int32()))
            tbl = tbl.set_column(
                tbl.schema.get_field_index("chunk_id"), "chunk_id",
                pa.array(new_ids, pa.int32()))
            out_batches.extend(tbl.to_batches())
            raw += sum(tbl.column("raw_bytes").to_pylist())
            enc += sum(tbl.column("enc_bytes").to_pylist())
        if not out_batches:
            return
        n_rows = sum(rows_by_chunk.values())
        out_tbl = pa.Table.from_batches(out_batches)
        # normalize to the canonical chunk schema, tolerating stores
        # written before later-added metadata columns (e.g. bloom)
        names = [f.name for f in CHUNK_SCHEMA if f.name in out_tbl.schema.names]
        out_tbl = out_tbl.select(names).cast(
            pa.schema([CHUNK_SCHEMA.field(n) for n in names]))
        _atomic_write(out_tbl, os.path.join(
            out_dir, "chunks", f"part-{new_pid:05d}.parquet"))
        metric = {
            "pid": new_pid, "status": "done", "n_rows": n_rows,
            "n_chunks": len(remap), "raw_bytes": raw, "enc_bytes": enc,
            "wall_sec": time.time() - t0, "columns_json": "{}",
            "lineage": lineage_json, "engine_version": __version__,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        manifest_tbl = pa.Table.from_pylist([metric], schema=METRIC_PA_SCHEMA)
        _atomic_write(manifest_tbl, os.path.join(
            out_dir, "manifest", f"part-{new_pid:05d}.parquet"))
        yield from manifest_tbl.to_batches()

    return part.mapInArrow(rewrite, METRIC_SCHEMA_DDL)


def recluster_store(spark, in_dir: str, out_dir: str, sort_key,
                    num_partitions: int | None = None,
                    chunk_bytes: int = 16 << 20,
                    lineage: dict | None = None) -> DataFrame:
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
        lineage={**(lineage or {}), "recluster_from": in_dir})


def merge_stores(spark, in_dirs: "list[str]", out_dir: str,
                 sort_key=None, columns: "list[str] | None" = None,
                 num_partitions: int | None = None,
                 chunk_bytes: int = 16 << 20,
                 unique_col: str = "url",
                 lineage: dict | None = None) -> DataFrame:
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
        lineage={**(lineage or {}), "merged_from": list(in_dirs)})
