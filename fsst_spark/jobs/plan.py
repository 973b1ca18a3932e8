"""Driver-side chunk planner and the one chunk reader: which chunks of a
store a read must decode (the one pruning implementation), and the file
tasks that read them.

Every read of the chunk table goes through here: ``decode_job``
(filters, OR branches, ``as_of``, pid and chunk-key whitelists),
``decode_plan``, ``decode_head``, ``decode_sample`` (chunk row counts for
its md5 chunk selection), the ``fsst`` DataSource's ``partitions()``, the
chunk-local aggregations of ``jobs.agg``, ``delete_where`` /
``delete_matching``, ``verify_chunks``, every ``jobs.stats`` answer and
``store_join``'s planning. Answers that need only metadata and sketches
fold :func:`store_meta` on the driver. Files that must be read become
file tasks (:func:`file_tasks_df`, :func:`chunk_job`) or DataSource
partitions, which read their chunks through :func:`read_chunks` (one
pyarrow read per file, whole chunks grouped per file, no chunk-row
shuffle); only ``verify_chunks`` (for the checksum column) and
``compact_store`` (which copies whole files) read their files
themselves. Decode tasks and the DataSource's ``read()`` turn those
chunks into Arrow batches with ``decode.emit_chunks``. The planner reads
chunk metadata with pyarrow and starts no Spark job. Per chunk file it
reads the narrow columns ``META_COLS`` (plus the sketch columns a
``store_meta`` caller asks for); the ``bloom`` cells of an ``==``/``in``
filter column's rows, only while a chunk of it that is not dict-coded is
still live; and ``params, payload`` of the filter column's ``str_dict``
rows, only while such a chunk is still live — only its dictionary
section decodes. Both are parquet row-filtered reads.

Each process caches what it read per chunk file (:func:`file_meta`: the
metadata columns, bloom cells and decoded dictionaries), keyed by the
file's ``(path, st_mtime_ns, st_size, st_ino)`` stamp, for at most
``META_CACHE_FILES`` files. Chunk files are immutable once
``encode._atomic_write`` publishes them (a rewrite is a new inode), so a
repeated plan over unchanged files — on the driver or in a reused
DataSource planner worker — reads nothing, and a replaced file is read
again.

Every stage is conservative: null zones (all-null chunks) keep, and so do
stores written before zone maps or blooms. A chunk with no row for a
filter column (written before a schema-log ADD COLUMN) holds only NULLs
there, which no predicate matches, so it drops.
"""

from __future__ import annotations

import json
import os
import threading
from collections import Counter
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow.parquet as pq

from .decode import (
    _INTY,
    _STRINGY,
    _dict_probes,
    _rlike_prunable,
    _ts_ticks,
    dict_has_value,
    dict_section,
    zone_keep,
)
from .encode import file_task_df, part_files

META_COLS = ("pid", "chunk_id", "column", "codec", "n_rows", "enc_bytes",
             "zmin_long", "zmax_long")
# chunk files whose planner metadata a process keeps, least recently used
# out first
META_CACHE_FILES = 1024
_meta_cache: dict[str, tuple] = {}  # path -> (stamp, _FileState)
_meta_lock = threading.Lock()  # driver threads may plan at once
CHUNK_COLS = ("pid", "chunk_id", "column", "codec", "params", "payload")


def chunk_files(store: str, pids=None) -> list[tuple[int, str]]:
    """``(pid, path)`` of the store's chunk files in pid order, restricted
    to ``pids`` when given. Raises FileNotFoundError when the store has no
    chunk file at all: the file-granular readers open chunk files with
    pyarrow, so a store must be a local or mounted directory."""
    files = part_files(os.path.join(store, "chunks"))
    if not files:
        raise FileNotFoundError(
            f"no chunk files under {store!r} (readers open chunk files "
            "with pyarrow: the store must be a local or mounted directory)")
    if pids is None:
        return files
    pids = set(pids)
    return [(pid, path) for pid, path in files if pid in pids]


def file_tasks_df(spark, files: list):
    """Task frame for the file-granular readers: one row, and one Spark
    task, per contiguous run of ``files`` (``(path, keep-set or None)`` in
    pid order, so task order is pid order). Runs are packed the way Spark
    splits a file scan: a run closes before it would pass
    ``min(maxPartitionBytes, max(openCostInBytes, total /
    defaultParallelism))`` bytes, where the total counts each file's size
    plus the open cost. A read of a few small files is then a few tasks,
    not one Python task start per file. Row schema: ``files string``,
    the JSON list of the run's ``[path, keys]``."""
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    sizes = [os.path.getsize(path) for path, _ in files]
    total = sum(sizes) + open_cost * len(sizes)
    split = min(conf.filesMaxPartitionBytes(),
                max(open_cost, total // spark.sparkContext.defaultParallelism))
    runs, run, run_bytes = [], [], 0
    for f, size in zip(files, sizes):
        if run and run_bytes + size > split:
            runs.append(run)
            run, run_bytes = [], 0
        run.append(f)
        run_bytes += size + open_cost
    if run:
        runs.append(run)
    return file_task_df(spark, [(json.dumps(r),) for r in runs], "files string")


def task_files(batches) -> Iterator[tuple[str, list | None]]:
    """Executor side of a :func:`file_tasks_df` frame: the task's
    ``(path, keep-set or None)`` in pid order."""
    for batch in batches:
        for run in batch.column("files").to_pylist():
            yield from json.loads(run)


def read_chunks(path: str, keys=None, columns=None) -> Iterator[tuple]:
    """The one chunk reader: ``((pid, chunk_id), {column: {codec, params,
    payload}})`` per chunk of one chunk file, in file order, restricted to
    the ``(pid, chunk_id)`` keep-set ``keys`` and to ``columns`` when
    given (an empty keep-set reads nothing). One pyarrow read of the file;
    each chunk's payloads convert only when it is yielded. A chunk is
    whole: every column row of a chunk lives in its pid's file."""
    if keys is not None and not keys:
        return
    t = pq.read_table(path, columns=list(CHUNK_COLS))
    keys = None if keys is None else set(map(tuple, keys))
    columns = None if columns is None else set(columns)
    payload = t.column("payload")
    rows: dict[tuple[int, int], list] = {}
    for i, (pid, cid, col, codec, params) in enumerate(zip(
            *(t.column(c).to_pylist() for c in CHUNK_COLS[:-1]))):
        if ((columns is None or col in columns)
                and (keys is None or (pid, cid) in keys)):
            rows.setdefault((pid, cid), []).append((i, col, codec, params))
    for key, chunk in rows.items():
        yield key, {col: {"codec": codec, "params": json.loads(params),
                          "payload": payload[i].as_py()}
                    for i, col, codec, params in chunk}


def task_chunks(batches, columns=None) -> Iterator[tuple]:
    """Every planned chunk of a file task's files, through
    :func:`read_chunks`."""
    for path, keys in task_files(batches):
        yield from read_chunks(path, keys, columns)


def planned_files(store: str, columns=None, filters=None, any_filters=None,
                  pids=None, dict_prune: bool = True, keys=None,
                  types=None) -> list[tuple[str, list | None]]:
    """``(path, keep-set)`` of the files a read must open: the planner's
    survivors for a selective read, every chunk file (keep-set None) for
    an unrestricted one, which then needs no metadata read."""
    if filters or any_filters or pids is not None or keys is not None:
        plan = plan_chunks(store, columns, filters, any_filters, pids=pids,
                           dict_prune=dict_prune, keys=keys, types=types)
        return [(fp.path, fp.keys) for fp in plan.files]
    return [(path, None) for _, path in chunk_files(store)]


def store_meta(store: str, columns=None, extra=()) -> tuple[dict, set]:
    """The planner's metadata read for answers that need nothing else:
    ``({name: list}, missing)`` over every chunk row of ``columns`` (None:
    every column not dropped) in pid order, with ``META_COLS``, ``extra``
    (see :meth:`_FileState.columns`) and ``path`` (the row's chunk file) as
    names; ``missing`` names the metadata columns some chunk file lacks
    (they read as nulls there). No payload byte is read and no Spark job
    starts."""
    col_ok = _column_filter(store, columns)
    names = (*META_COLS, *extra)
    out: dict[str, list] = {c: [] for c in (*names, "path")}
    missing: set[str] = set()
    for _, path in chunk_files(store):
        fm = file_meta(path)
        m = fm.columns(extra)
        missing.update(c for c in names if c not in fm.names)
        keep = [i for i, col in enumerate(m["column"]) if col_ok(col)]
        for c in names:
            out[c] += [m[c][i] for i in keep]
        out["path"] += [path] * len(keep)
    return out, missing


def keep_sets(meta: dict, rows) -> list[tuple[str, list]]:
    """``(path, keep-set)`` of the chunks at the indices ``rows`` of a
    :func:`store_meta` read, in pid order: the file list of
    :func:`file_tasks_df` and :func:`chunk_job`."""
    files: dict[str, dict] = {}
    for i in rows:
        key = (meta["pid"][i], meta["chunk_id"][i])
        files.setdefault(meta["path"][i], {})[key] = None
    return [(path, list(keys)) for path, keys in files.items()]


def chunk_job(spark, store: str, columns: list[str], fn, ddl: str,
              files=None, **plan):
    """File tasks over ``files`` (``(path, keep-set)``; by default the
    planner's survivors of ``columns`` under the :func:`planned_files`
    arguments ``plan``, every chunk without filters): ``fn(chunks,
    dmask)`` maps a task's ``((pid, chunk_id), cols)`` stream from the one
    chunk reader to partial batches of ``ddl``; ``dmask`` is the task's
    tombstone cache (None on a store without deletes)."""
    from .deletes import DeleteMask, has_deletes

    if files is None:
        files = planned_files(store, columns, **plan)
    deletes_on = has_deletes(store)

    def task(batches):
        dmask = DeleteMask(store) if deletes_on else None
        yield from fn(task_chunks(batches, columns), dmask)

    return file_tasks_df(spark, files).mapInArrow(task, ddl)


def _bloom_probes(arrow_name: str, value) -> list | None:
    """Probe values typed the way encode hashed the column (strings
    natively, ints as-is, timestamps in storage-unit ticks), or None when
    the column type carries no blooms."""
    vals = value if isinstance(value, (list, tuple, set)) else [value]
    if arrow_name in _STRINGY:
        return list(vals)
    if arrow_name in _INTY:
        return [int(v) for v in vals]
    if arrow_name.startswith("timestamp["):
        return [_ts_ticks(arrow_name, v) for v in vals]
    return None


@dataclass
class _Filter:
    """One ``(col, op, value)`` predicate, type-checked and compiled once
    per plan."""
    col: str
    zone: object            # (zmin, zmax) -> may the chunk match?
    bloom: list | None      # typed bloom probes (==/in only)
    dict_args: dict | None  # dict_has_value probe arguments

    @classmethod
    def compile(cls, types: dict[str, str], f: tuple,
                dict_prune: bool) -> "_Filter":
        col, op, value = f
        if col not in types:
            raise KeyError(f"columns not present in encoded data: [{col!r}]")
        arrow_name = types[col]
        zone = zone_keep(arrow_name, op, value)  # raises on a bad op/value
        bloom = dict_args = None
        if dict_prune and op in ("==", "in"):
            bloom = _bloom_probes(arrow_name, value)
        if (dict_prune and arrow_name in _STRINGY
                and op in ("==", "in", "prefix", "contains", "suffix")):
            by_len, pfx, sub, sfx = _dict_probes(
                value, prefix=op == "prefix", contains=op == "contains",
                suffix=op == "suffix")
            dict_args = {"by_len": by_len, "pfx": pfx, "sub": sub,
                         "sfx": sfx}
        elif dict_prune and op == "rlike":
            rx = _rlike_prunable(value)
            if rx is not None:
                dict_args = {"by_len": {}, "pfx": None, "rx": rx}
        return cls(col, zone, bloom, dict_args)


class _FileState:
    """One chunk file's planner metadata: its metadata columns, and per
    filter column its bloom cells and decoded dictionaries, keyed by
    ``(column, (pid, chunk_id))``; each is read on first use and kept
    with the cache entry (:func:`file_meta`)."""

    def __init__(self, path: str):
        self.path = path
        self.cols: dict[str, list] = {}
        meta = self.columns()
        self.zones: dict = {}
        self.codecs: dict = {}
        for pid, cid, col, codec, zmin, zmax in zip(
                meta["pid"], meta["chunk_id"], meta["column"],
                meta["codec"], meta["zmin_long"], meta["zmax_long"]):
            self.zones[(col, (pid, cid))] = (zmin, zmax)
            self.codecs[(col, (pid, cid))] = codec
        self._blooms: dict[str, dict] = {}
        self._dicts: dict[str, dict] = {}

    def columns(self, extra=()) -> dict[str, list]:
        """``META_COLS`` plus the ``extra`` metadata columns (``raw_bytes``,
        ``zsum_long``, ``hll``, ``qsketch``, ``params``) as Python lists by
        name, reading the ones not read yet; a column missing from a file
        written before it existed reads as nulls."""
        names = (*META_COLS, *extra)
        if want := [c for c in names if c not in self.cols]:
            pf = pq.ParquetFile(self.path)
            self.names = set(pf.schema_arrow.names)
            t = pf.read(columns=[c for c in want if c in self.names])
            for c in want:
                self.cols[c] = (t.column(c).to_pylist() if c in self.names
                                else [None] * t.num_rows)
        return {c: self.cols[c] for c in names}

    def zone_ok(self, f: _Filter, key) -> bool:
        z = self.zones.get((f.col, key))
        return z is not None and f.zone(*z)

    def _cells(self, col: str, cells: list[str], filters=None) -> dict:
        """``{(pid, chunk_id): row}`` of ``col``'s rows of ``cells``; the
        keys come from the same read as the cells."""
        t = pq.read_table(self.path, columns=["pid", "chunk_id", *cells],
                          filters=[("column", "==", col), *(filters or [])])
        return {(pid, cid): row for pid, cid, *row in zip(
            *(t.column(c).to_pylist() for c in t.column_names))}

    def blooms(self, col: str) -> dict:
        if col not in self._blooms:
            self._blooms[col] = (
                {k: blob for k, (blob,) in self._cells(col, ["bloom"]).items()}
                if "bloom" in self.names else {})
        return self._blooms[col]

    def dicts(self, col: str) -> dict:
        """Each ``str_dict`` chunk's decoded dictionary (``dict_section``)."""
        if col not in self._dicts:
            self._dicts[col] = {
                k: dict_section(json.loads(params), payload)
                for k, (params, payload) in self._cells(
                    col, ["params", "payload"],
                    [("codec", "==", "str_dict")]).items()}
        return self._dicts[col]

    def sketch_keep(self, f: _Filter, live: set) -> set:
        """``live`` minus the chunks whose bloom or dictionary proves that
        no row matches ``f``."""
        from ..kernel.bloom import bloom_might_contain

        out = set(live)
        # dict-coded chunks carry no bloom (their dictionary prunes exactly)
        if f.bloom is not None and any(
                self.codecs.get((f.col, k)) != "str_dict" for k in out):
            blooms = self.blooms(f.col)
            out = {k for k in out if bloom_might_contain(blooms.get(k), f.bloom)}
        if f.dict_args is not None:
            cand = [k for k in out if self.codecs.get((f.col, k)) == "str_dict"]
            if cand:
                dicts = self.dicts(f.col)
                out -= {k for k in cand
                        if not dict_has_value(dicts[k], **f.dict_args)}
        return out


def file_meta(path: str) -> _FileState:
    """``path``'s planner metadata from the process cache, read again when
    its stamp has changed. The stamp is taken before any read, so a file
    replaced during a read is stamped older than what was read and is read
    again next time."""
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    with _meta_lock:
        hit = _meta_cache.pop(path, None)
    state = hit[1] if hit is not None and hit[0] == stamp else _FileState(path)
    with _meta_lock:
        _meta_cache[path] = (stamp, state)
        while len(_meta_cache) > META_CACHE_FILES:
            del _meta_cache[next(iter(_meta_cache))]
    return state


@dataclass
class FilePlan:
    path: str
    keys: list[tuple[int, int]]          # kept (pid, chunk_id), sorted
    n_rows: dict = field(repr=False)     # kept key -> chunk row count


@dataclass
class ChunkPlan:
    """Surviving files (pid order) with their keep-sets, and the per-stage
    counts ``decode_plan`` reports: ``{chunks,rows,enc_bytes}_total``,
    ``chunks_after_zones`` and ``{chunks,rows,enc_bytes}_kept``."""
    files: list[FilePlan] = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)

    @property
    def keys(self) -> list[tuple[int, int]]:
        return [k for fp in self.files for k in fp.keys]


def _plan_file(path: str, col_ok, conj: list[_Filter], disj: list[_Filter],
               dict_prune: bool, keys=None) -> tuple[FilePlan, dict]:
    """(the file's keep-set, its per-stage counts)."""
    state = file_meta(path)
    meta = state.columns()
    n_rows: dict = {}
    nbytes: dict = {}
    for pid, cid, col, n, b in zip(meta["pid"], meta["chunk_id"],
                                   meta["column"], meta["n_rows"],
                                   meta["enc_bytes"]):
        if col_ok(col) and (keys is None or (pid, cid) in keys):
            n_rows[(pid, cid)] = n
            nbytes[(pid, cid)] = nbytes.get((pid, cid), 0) + b
    zoned = {k for k in n_rows if all(state.zone_ok(f, k) for f in conj)}
    kept = zoned
    if dict_prune:
        for f in conj:
            kept = state.sketch_keep(f, kept)
    if disj:
        zoned = {k for k in zoned if any(state.zone_ok(b, k) for b in disj)}
        if dict_prune:
            kept = set().union(*(
                state.sketch_keep(b, {k for k in kept if state.zone_ok(b, k)})
                for b in disj))
        else:
            kept = zoned
    counts = {
        "chunks_total": len(n_rows),
        "rows_total": sum(n_rows.values()),
        "enc_bytes_total": sum(nbytes.values()),
        "chunks_after_zones": len(zoned),
        "chunks_kept": len(kept),
        "rows_kept": sum(n_rows[k] for k in kept),
        "enc_bytes_kept": sum(nbytes[k] for k in kept),
    }
    return FilePlan(path, sorted(kept), {k: n_rows[k] for k in kept}), counts


def _column_filter(store: str, columns):
    """Membership test for the chunk rows a read of ``columns`` sees
    (None: every column the schema log has not dropped)."""
    if columns is not None:
        return set(columns).__contains__
    from .schema import dropped_columns

    dropped = dropped_columns(store)
    return lambda c: c not in dropped


def plan_chunks(store: str, columns: list[str] | None = None,
                filters=None, any_filters=None, pids=None,
                dict_prune: bool = True, keys=None,
                types: dict[str, str] | None = None) -> ChunkPlan:
    """Plan a read of ``columns`` (None: every column not dropped) under
    ``AND(filters) AND OR(any_filters)``, restricted to the files of
    ``pids`` and to the ``(pid, chunk_id)`` whitelist ``keys`` when given.

    ``types`` are the column types filters are checked against (needed
    only with filters). An unknown filter column raises KeyError and a
    mistyped filter value TypeError, before any file is read."""
    conj = [_Filter.compile(types, f, dict_prune) for f in filters or []]
    disj = [_Filter.compile(types, f, dict_prune) for f in any_filters or []]
    col_ok = _column_filter(store, columns)
    key_set = None if keys is None else set(map(tuple, keys))
    if key_set is not None:
        kp = {p for p, _ in key_set}
        pids = kp if pids is None else kp & set(pids)
    plan = ChunkPlan()
    for _, path in chunk_files(store, pids):
        fp, counts = _plan_file(path, col_ok, conj, disj, dict_prune, key_set)
        plan.counts.update(counts)
        if fp.keys:
            plan.files.append(fp)
    return plan


def file_survivors(path: str, filters: list[tuple],
                   types: dict[str, str]) -> set[tuple[int, int]]:
    """The ``(pid, chunk_id)`` keys of one chunk file that may match the
    conjunction ``filters``: the planner's per-file entry point."""
    conj = [_Filter.compile(types, f, True) for f in filters]
    fp, _ = _plan_file(path, lambda c: True, conj, [], True)
    return set(fp.keys)
