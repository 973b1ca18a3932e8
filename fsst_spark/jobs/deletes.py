"""Row-level deletes on encoded stores: position tombstones, merge-on-read.

The shape is Iceberg v2's position deletes. ``delete_where`` never
rewrites a chunk file: the driver-side planner (:mod:`jobs.plan`, the
pruning every selective read uses) picks the chunks that might match,
file tasks decode only their predicate columns through the one chunk
reader and compute the exact row mask chunk-locally (the one compiled
row predicate, :class:`decode.RowFilter`), and the job appends narrow
``(pid, chunk_id, pos)`` tombstone rows under ``<store>/deletes/``.
Every read that goes through ``decode_job`` / ``decode_filtered`` / the
``fsst`` DataSource then drops the tombstoned rows executor-side
(:func:`decode.keep_rows`, in ``decode.emit_chunks``) — each task reads
the tombstone parquet with a pushed ``pid`` filter once per pid it
touches, so merge-on-read costs one narrow-side lookup, never a shuffle
or a driver collect.

What deletes do NOT compose with, by design: the metadata-only /
sketch-answering fast paths of ``jobs.stats`` (column stats and exact
min/max, octet-length stats, top-k, distinct, NDV, quantiles, store
profiling and layout advice). Their answers come from encode-time chunk
statistics, which tombstones invalidate; each of those entry points
calls :func:`require_no_deletes` and fails fast with instructions
instead of silently returning pre-delete numbers. ``compact_store``
likewise refuses: it concatenates whole chunk files and renumbers their
(pid, chunk_id) keys, which would orphan the tombstones.
``materialize_deletes`` (decode -> re-encode, the Iceberg
``rewrite_data_files`` analog) folds tombstones into a new store and
restores every fast path; ``recluster_store`` does too, since it reads
through the delete-aware decoder.

``verify_chunks`` stays tombstone-blind on purpose: it checks the
PHYSICAL store (per-chunk checksums of what encode wrote), which deletes
never modify.

At 100 TB: the delete scan is one pass of file tasks over only the
candidate chunks' predicate columns (pruned like any selective decode,
no chunk-row shuffle), the tombstone
write is a distributed parquet append keyed and sorted by (pid,
chunk_id), and read-side application is per-task and pid-local. The
driver never sees a row.

Reference tie: engine-level surface with no reference analog
(spiraldb/fsst src/lib.rs:14-17 exports codec types only).
"""

from __future__ import annotations

import bisect
import glob
import math
import os
from typing import Iterator

import numpy as np
import pyarrow as pa

DELETES_SUBDIR = "deletes"


def _deletes_dir(store: str) -> str:
    return os.path.join(store, DELETES_SUBDIR)


def _delete_files(store: str) -> list[str]:
    return sorted(glob.glob(os.path.join(_deletes_dir(store), "*.parquet")))


def has_deletes(store: str) -> bool:
    """True when the store carries row tombstones (merge-on-read state)."""
    return bool(_delete_files(store))


def require_no_deletes(store: str, op: str) -> None:
    """Guard for metadata/sketch-answering fast paths: encode-time chunk
    statistics don't know about tombstoned rows, so answering from them
    on a store with deletes would be silently wrong. Fail fast instead."""
    if has_deletes(store):
        raise ValueError(
            f"{op} answers from encode-time chunk metadata/sketches, and "
            f"store {store!r} has row tombstones (deletes/) those stats "
            "don't reflect. Materialize them first — "
            "jobs.deletes.materialize_deletes(spark, store, new_store) or "
            "recluster_store — then retry against the new store.")


def deleted_count(store: str) -> int:
    """Total tombstoned positions — parquet row counts, no data read."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _delete_files(store))


def tombstoned_chunks(store: str) -> set[tuple[int, int]]:
    """``(pid, chunk_id)`` of every chunk carrying a tombstone: one
    driver-side pyarrow read of the narrow key columns."""
    import pyarrow.dataset as ds

    files = _delete_files(store)
    if not files:
        return set()
    t = ds.dataset(files, format="parquet").to_table(
        columns=["pid", "chunk_id"])
    return set(zip(t.column("pid").to_pylist(),
                   t.column("chunk_id").to_pylist()))


def load_delete_positions(store: str, pid: int) -> dict[int, np.ndarray]:
    """Executor-side: ``{chunk_id: sorted unique positions}`` tombstoned
    in one pid's chunks. A pushed-filter read of the narrow tombstone
    files; row-group stats on the sorted (pid, chunk_id) layout skip
    other pids' groups."""
    import pyarrow.dataset as ds

    files = _delete_files(store)
    if not files:
        return {}
    tbl = ds.dataset(files, format="parquet").to_table(
        filter=ds.field("pid") == pid)
    out: dict[int, np.ndarray] = {}
    if tbl.num_rows == 0:
        return out
    cids = tbl.column("chunk_id").to_numpy(zero_copy_only=False)
    poss = tbl.column("pos").to_numpy(zero_copy_only=False)
    for cid in np.unique(cids):
        out[int(cid)] = np.unique(poss[cids == cid])
    return out


class DeleteMask:
    """Per-task tombstone cache: one pushed-filter read per pid a task
    touches, then O(deleted) masking per chunk."""

    def __init__(self, store: str):
        self.store = store
        self._by_pid: dict[int, dict[int, np.ndarray]] = {}

    def positions(self, pid: int, chunk_id: int) -> np.ndarray | None:
        if pid not in self._by_pid:
            self._by_pid[pid] = load_delete_positions(self.store, pid)
        pos = self._by_pid[pid].get(chunk_id)
        return pos if pos is not None and len(pos) else None


def delete_where(spark, store: str, col: str | None = None,
                 op: str | None = None, value=None,
                 filters: list[tuple] | None = None,
                 any_filters: list[tuple] | None = None,
                 pids: list[int] | None = None) -> dict:
    """Tombstone every row matching the predicate; returns
    ``{"deleted_now", "deleted_total"}``. Predicate forms mirror
    ``decode_filtered``: one ``(col, op, value)`` positionally, a
    conjunction via ``filters``, a disjunction via ``any_filters`` —
    combined as ``AND(filters) AND OR(any_filters)``.

    Plan: zone/dict/bloom pruning by the driver-side planner -> file tasks
    decode ONLY the predicate columns of surviving chunks -> exact
    chunk-local row mask (minus already-tombstoned positions, so repeated
    deletes are idempotent and counts stay exact) -> distributed append of
    (pid, chunk_id, pos) rows sorted by chunk key (read-side pid filters
    then prune row groups). A JSON entry per call under ``deletes/_log/``
    records the predicate for lineage. ``pids`` restricts the plan to
    those partitions' files — ``update_where`` uses it to tombstone only
    pre-append writes."""
    flt = list(filters or [])
    if col is not None:
        flt.insert(0, (col, op, value))
    any_flt = list(any_filters or [])
    if not flt and not any_flt:
        raise ValueError("delete_where needs (col, op, value), "
                         "filters=[...], or any_filters=[...]")
    tomb = _where_tombstones(spark, store, flt, any_flt, pids)
    return _append_tombstones(store, tomb, {
        "filters": [list(f) for f in flt],
        "any_filters": [list(f) for f in any_flt]})


def _where_tombstones(spark, store: str, flt: list[tuple],
                      any_flt: list[tuple], pids):
    """``delete_where``'s tombstone frame: the new ``(pid, chunk_id,
    pos)`` rows of ``AND(flt) AND OR(any_flt)``."""
    from .decode import RowFilter, column_arrow_types

    types = column_arrow_types(store)
    where = RowFilter(types, flt, any_flt)
    return _tombstones(spark, store, where.columns, flt, any_flt, pids,
                       types, where)


def _tombstones(spark, store: str, columns: list[str], flt, any_flt, pids,
                types, where):
    """File tasks over the planner's surviving chunks of ``columns``:
    ``where(DecodedChunk)`` marks each chunk's rows to delete, and the
    rows not yet tombstoned (:func:`decode.keep_rows`) become ``(pid,
    chunk_id, pos)`` rows."""
    from .decode import DecodedChunk, keep_rows
    from .plan import file_tasks_df, planned_files, task_chunks

    files = planned_files(store, columns, flt, any_flt, pids=pids,
                          types=types)

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dmask = DeleteMask(store)
        for key, cols in task_chunks(batches, columns):
            mask = where(DecodedChunk(cols))
            if not mask.any():
                continue
            pos = np.flatnonzero(keep_rows(mask, len(mask), dmask, key))
            if not len(pos):
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.full(len(pos), key[0], dtype=np.int32)),
                 pa.array(np.full(len(pos), key[1], dtype=np.int32)),
                 pa.array(pos)],
                names=["pid", "chunk_id", "pos"])

    return (file_tasks_df(spark, files)
            .mapInArrow(task, "pid int, chunk_id int, pos bigint")
            # sorted layout => parquet row-group (pid, chunk_id) stats
            # prune the read-side pushed pid filter
            .sortWithinPartitions("pid", "chunk_id", "pos"))


def _append_tombstones(store: str, tomb, entry: dict) -> dict:
    """Append ``tomb`` to the store's tombstones (prior ones stay intact)
    and log the call."""
    before = deleted_count(store)
    tomb.write.mode("append").parquet(_deletes_dir(store))
    total = deleted_count(store)
    _log_delete(store, {**entry, "deleted_now": total - before,
                        "deleted_total": total})
    return {"deleted_now": total - before, "deleted_total": total}


def delete_matching(spark, store: str, col: str, keys_df,
                    pids: list[int] | None = None,
                    max_pushdown_keys: int = 100_000,
                    max_broadcast_keys: int = 10_000_000) -> dict:
    """Tombstone every row whose ``col`` appears in ``keys_df`` (a
    single-column frame or a Python iterable) — the delete half of an
    upsert. Scale tiers:

    - ≤ ``max_pushdown_keys`` distinct keys: collected and routed through
      ``delete_where(col, 'in', keys)`` — the full zone/dict/bloom chunk
      pruning stack applies (the ``decode_semijoin`` runtime-filter shape).
    - ≤ ``max_broadcast_keys``: keys broadcast as a set to the file tasks;
      every chunk's key column decodes, the mask is a vectorized
      ``is_in``. No pruning (an arbitrary key set has no zone shape), one
      pass over the key column only.
    - beyond that: raises — at that cardinality a merge is a full rewrite;
      use recluster/re-encode.
    """
    from pyspark.sql import DataFrame as SparkDataFrame

    from .decode import column_arrow_types, row_mask

    if isinstance(keys_df, SparkDataFrame):
        if len(keys_df.columns) != 1:
            raise ValueError(
                f"keys frame must have exactly one column, got {keys_df.columns}")
        kdf = keys_df.toDF("_k").where("_k IS NOT NULL").distinct()
    else:
        vals = sorted(set(k for k in keys_df if k is not None))
        if not vals:
            return {"deleted_now": 0, "deleted_total": deleted_count(store)}
        kdf = spark.createDataFrame([(v,) for v in vals], ["_k"])
    head = [r["_k"] for r in kdf.limit(max_pushdown_keys + 1).collect()]
    if not head:
        return {"deleted_now": 0, "deleted_total": deleted_count(store)}
    if len(head) <= max_pushdown_keys:
        return delete_where(spark, store, col, "in", head, pids=pids)

    n_keys = kdf.count()
    if n_keys > max_broadcast_keys:
        raise ValueError(
            f"delete_matching got {n_keys} distinct keys (> "
            f"{max_broadcast_keys}); at that scale a merge is a full "
            "rewrite — recluster/re-encode instead")
    types = column_arrow_types(store)
    if col not in types:
        raise KeyError(f"column {col!r} not in encoded data")
    arrow_name = types[col]
    bkeys = spark.sparkContext.broadcast(
        sorted(r["_k"] for r in kdf.collect()))
    probe = []  # compiled ONCE per task on first use (never per chunk — 10^7 keys)

    def where(cols):
        if not probe:
            probe.append(row_mask(arrow_name, "in", bkeys.value))
        return probe[0](cols[col])

    tomb = _tombstones(spark, store, [col], [], [], pids, types, where)
    return _append_tombstones(store, tomb, {"match_col": col,
                                            "n_keys": n_keys})


def _log_delete(store: str, entry: dict) -> None:
    """Append-only JSON lineage of delete calls (the commit log's publish
    step, ``append_log_entry``)."""
    from .encode import append_log_entry

    append_log_entry(os.path.join(_deletes_dir(store), "_log"), entry)


def _pid_ranges(files: list[str], rows_per_file: int):
    """``(n, ranges)``: the tombstone count of ``files`` and at most
    ``ceil(n / rows_per_file)`` contiguous ``[lo, hi)`` pid ranges of
    about equal counts, from the footers' row-group pid statistics and row
    counts; a group's rows count as spread evenly over its pids."""
    import pyarrow.dataset as ds

    groups = [(rg.statistics["pid"]["min"], rg.statistics["pid"]["max"] + 1,
               rg.num_rows)
              for frag in ds.dataset(files, format="parquet").get_fragments()
              for rg in frag.row_groups if rg.num_rows]
    if not groups:
        return 0, []

    def below(x: int) -> float:  # tombstones with pid < x
        return sum(r * min(max(x - lo, 0), hi - lo) / (hi - lo)
                   for lo, hi, r in groups)

    n, top = sum(g[2] for g in groups), max(g[1] for g in groups)
    k = math.ceil(n / rows_per_file)
    cuts = [min(groups)[0]]
    for j in range(1, k):  # the least pid x with below(x) >= j * n / k
        x = bisect.bisect_left(range(top), n * j / k, lo=cuts[-1], key=below)
        if cuts[-1] < x < top:
            cuts.append(x)
    return n, list(zip(cuts, cuts[1:] + [top]))


def compact_deletes(spark, store: str,
                    rows_per_file: int = 50_000_000) -> dict:
    """Merge the tombstone dataset into few (pid, chunk_id, pos)-sorted
    files. Every decode task runs one pushed-filter read over ALL delete
    files for each pid it touches, so after many ``delete_where`` /
    ``update_where`` calls the per-task overhead is gated by delete-file
    count and row-group ordering — this is the OPTIMIZE pass that
    restores both without touching payloads.

    One Spark job: one file task per pid range of about ``rows_per_file``
    tombstones (cut from the footers) reads it from the snapshot files
    with a pushed pid filter, drops duplicates, sorts, and writes one
    file under a ``.pending`` name readers do not list. Nothing lands
    whole on one task or the driver.

    Swap protocol (safe against concurrent readers AND writers): snapshot
    the current file list, write the deduped/sorted replacement files,
    publish them under fresh names once the job has succeeded, THEN
    unlink the snapshot files. A reader racing the swap sees old+new
    together — a harmless superset, because tombstones are a set union
    and mask application dedupes positions (``load_delete_positions`` ->
    ``np.unique``). A delete call racing the compaction lands a new file
    outside the snapshot and survives untouched; a crashed compaction
    leaves ``.pending`` files, which the next one removes."""
    import uuid

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from .encode import file_task_df

    files = _delete_files(store)
    if len(files) <= 1:
        return {"action": "compact_deletes", "files_before": len(files),
                "files_after": len(files), "rows": deleted_count(store),
                "skipped": True}
    ddir = _deletes_dir(store)
    for f in glob.glob(os.path.join(ddir, "*.pending")):
        os.unlink(f)
    n, ranges = _pid_ranges(files, rows_per_file)
    tag = uuid.uuid4().hex[:8]
    keys = ["pid", "chunk_id", "pos"]

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        snapshot = ds.dataset(files, format="parquet")
        for batch in batches:
            for lo, hi, path in zip(*(batch.column(c).to_pylist()
                                      for c in ("lo", "hi", "path"))):
                t = (snapshot.to_table(filter=(ds.field("pid") >= lo)
                                       & (ds.field("pid") < hi))
                     .group_by(keys).aggregate([])
                     .sort_by([(c, "ascending") for c in keys]))
                if t.num_rows:
                    pq.write_table(t, path)
                    yield pa.RecordBatch.from_pydict({"path": [path]})

    rows = [(lo, hi, os.path.join(ddir, f"compact-{tag}-{i:05d}.parquet.pending"))
            for i, (lo, hi) in enumerate(ranges)]
    written = (file_task_df(spark, rows, "lo bigint, hi bigint, path string")
               .mapInArrow(task, "path string").collect())
    for r in written:
        os.replace(r["path"], r["path"][:-len(".pending")])
    for f in files:
        os.unlink(f)
    entry = {"action": "compact_deletes", "files_before": len(files),
             "files_after": len(written), "rows_before": n,
             "rows": deleted_count(store), "skipped": False}
    _log_delete(store, entry)
    return entry


def materialize_deletes(spark, in_dir: str, out_dir: str,
                        unique_col: str | None = None,
                        num_partitions: int | None = None,
                        chunk_bytes: int = 16 << 20):
    """Fold tombstones into a NEW store (decode -> re-encode, Iceberg's
    ``rewrite_data_files`` for delete files): the output has no
    ``deletes/`` state, so every metadata/sketch fast path works again.

    By default the decode scan's partitioning is kept (``pre_partitioned``
    — a shuffle-free per-partition rewrite: each task decodes, masks, and
    re-encodes its own chunks). Pass ``unique_col`` to instead rebalance
    across ``num_partitions`` (heavily deleted stores shrink unevenly).
    Returns the encode metrics frame (lazy — ``.collect()`` runs it)."""
    from .decode import decode_job
    from .encode import encode_job

    df = decode_job(spark, in_dir).drop("pid", "chunk_id")
    lin = {"materialized_deletes_from": in_dir,
           "tombstones_folded": deleted_count(in_dir)}
    if unique_col is None:
        return encode_job(spark, df, out_dir, chunk_bytes=chunk_bytes,
                          resume=False, pre_partitioned=True, lineage=lin)
    return encode_job(
        spark, df, out_dir, num_partitions=num_partitions,
        unique_col=unique_col, chunk_bytes=chunk_bytes, resume=False,
        lineage=lin)
