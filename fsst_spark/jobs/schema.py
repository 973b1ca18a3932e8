"""Metadata-only schema evolution: drop (and restore) columns in O(1).

An encoded store's payloads are immutable chunk files; physically
removing a column from a 100 TB store would be a full rewrite. Instead
``drop_column`` appends one JSON entry to the store's append-only schema
log (``<store>/schema/``, same O_EXCL-claimed-index protocol as the
delete log) and every reader folds the log into the visible schema:
``column_arrow_types`` (and the fsst source's ``store_column_types`` on
top of it) exclude dropped columns, the planner's metadata read skips
their chunk rows, and their payload bytes are never read again — the Iceberg
``ALTER TABLE DROP COLUMN`` semantics (drop is a metadata operation;
data files are untouched).

``undrop_column`` restores a dropped column (its payloads were never
deleted — the log is an ordered fold of drop/undrop actions). Physical
purge happens for free on any decode→re-encode rewrite
(``recluster_store``, ``materialize_deletes``): the decoder no longer
sees the column, so the new store simply lacks it. ``compact_store``
copies payloads verbatim, so it copies the schema log too — drops
survive compaction.

``verify_chunks`` stays schema-blind on purpose: it checks the PHYSICAL
store, dropped payloads included.

Reference tie: engine-level surface with no reference analog
(spiraldb/fsst src/lib.rs:14-17 exports codec types only).
"""

from __future__ import annotations

import glob
import json
import os

SCHEMA_SUBDIR = "schema"


def _schema_dir(store: str) -> str:
    return os.path.join(store, SCHEMA_SUBDIR)


def schema_log(store: str) -> list[dict]:
    """Ordered schema-evolution entries (empty for a never-altered store)."""
    d = _schema_dir(store)
    if not os.path.isdir(d):
        return []
    out = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                out.append(json.load(fh))
    return out


def dropped_columns(store: str) -> set[str]:
    """Currently-dropped columns: the ordered fold of drop/undrop entries."""
    dropped: set[str] = set()
    for e in schema_log(store):
        if e["action"] == "drop":
            dropped.add(e["column"])
        elif e["action"] == "undrop":
            dropped.discard(e["column"])
    return dropped


def _append_entry(store: str, entry: dict) -> int:
    """Publish one schema-log entry whole (``append_log_entry``)."""
    from .encode import append_log_entry

    return append_log_entry(_schema_dir(store), entry)


def physical_columns(store: str) -> dict[str, str]:
    """{column: arrow type} actually present in the chunk files, schema
    log IGNORED — one chunk file's metadata through the planner cache
    (every encode partition writes all columns, so any single file carries
    the full schema)."""
    from .plan import chunk_files, file_meta

    m = file_meta(chunk_files(store)[0][1]).columns(("params",))
    return {c: json.loads(p)["arrow_type"]
            for c, p in zip(m["column"], m["params"])}


def drop_column(store: str, column: str) -> None:
    """Hide ``column`` from every reader — O(1), payloads untouched.
    Dropping a column that was ADDED (and maybe never materialized)
    simply retracts the add."""
    phys = physical_columns(store)
    added = added_columns(store)
    if column not in phys and column not in added:
        raise KeyError(f"column {column!r} not in encoded data "
                       f"(has {sorted(set(phys) | set(added))})")
    dropped = dropped_columns(store)
    if column in dropped:
        raise ValueError(f"column {column!r} is already dropped")
    if len((set(phys) | set(added)) - dropped) <= 1:
        raise ValueError("cannot drop the last visible column "
                         f"({column!r}); a store needs at least one")
    _append_entry(store, {"action": "drop", "column": column})


def undrop_column(store: str, column: str) -> None:
    """Restore a dropped column (its payloads were never deleted)."""
    if column not in dropped_columns(store):
        raise ValueError(f"column {column!r} is not currently dropped")
    _append_entry(store, {"action": "undrop", "column": column})


def added_columns(store: str) -> dict[str, str]:
    """{column: arrow type name} of columns ADDED via :func:`add_column`
    and not subsequently dropped — the ordered fold of add/drop entries."""
    added: dict[str, str] = {}
    shadow: dict[str, str] = {}  # added cols currently dropped
    for e in schema_log(store):
        c = e["column"]
        if e["action"] == "add":
            added[c] = e["arrow_type"]
        elif e["action"] == "drop" and c in added:
            shadow[c] = added.pop(c)
        elif e["action"] == "undrop" and c in shadow:
            added[c] = shadow.pop(c)
    return added


def add_column(store: str, column: str, arrow_type: str) -> None:
    """ADD COLUMN as a metadata operation (Iceberg ``ALTER TABLE ADD
    COLUMN`` semantics): one schema-log entry, payloads untouched, O(1)
    at any store size.

    Every DECODE reader (decode_job / decode_filtered / the fsst source)
    sees the column immediately with NULL for rows in chunks written
    before the add; appends after the add must carry the column, so newer
    chunks materialize real values (the store is heterogeneous until a
    rewrite — recluster_store / materialize_deletes — makes it physical
    everywhere). The default is NULL by design: any non-null default
    would make zone/dict/bloom pruning on the column unsound for old
    chunks (NULL never satisfies a predicate, so pruning them is exact).

    The metadata/sketch fast paths (stats, group aggregates) deliberately
    do NOT see added columns until materialized — their per-chunk state
    cannot represent the virtual nulls, so they fail fast with the same
    KeyError an unknown column gets, instead of answering wrong.

    ``arrow_type`` is an Arrow type name the codec layer accepts
    (``int64``, ``string``, ``double``, ``timestamp[us]``, ...)."""
    from ..kernel.codecs import parse_arrow_type

    try:
        parse_arrow_type(arrow_type)
    except KeyError:
        raise ValueError(f"unsupported arrow type {arrow_type!r} for "
                         "add_column (scalar types only)") from None
    phys = physical_columns(store)
    if column in phys:
        raise ValueError(f"column {column!r} already exists in the store")
    if column in added_columns(store):
        raise ValueError(f"column {column!r} is already added")
    if column in dropped_columns(store):
        raise ValueError(f"column {column!r} is dropped; undrop it instead")
    _append_entry(store, {"action": "add", "column": column,
                          "arrow_type": arrow_type})


def copy_schema_log(src_store: str, dst_store: str) -> int:
    """Verbatim-copy the schema log (used by compact_store, whose
    payload copy would otherwise resurrect dropped columns). Returns the
    number of entries copied."""
    import shutil

    entries = 0
    d = _schema_dir(src_store)
    if not os.path.isdir(d):
        return 0
    os.makedirs(_schema_dir(dst_store), exist_ok=True)
    for f in sorted(os.listdir(d)):
        if f.endswith(".json"):
            shutil.copyfile(os.path.join(d, f),
                            os.path.join(_schema_dir(dst_store), f))
            entries += 1
    return entries


def store_history(store: str) -> dict:
    """Full driver-side timeline of a store: every commit-log entry (with
    its pids and write mode), every mutation-log entry (deletes, updates,
    merges, rollbacks, vacuums, compactions) and every schema-log entry
    (drops/undrops), each stream in its own append order. The audit call
    behind ``status`` (which shows only the tail) — still metadata-only,
    no cluster, no payload reads."""
    from ..sources.fsst_source import _read_commit, commit_count
    from .deletes import _deletes_dir

    commits = [{"index": i, **_read_commit(store, i)}
               for i in range(commit_count(store))]
    mutations = []
    log_dir = os.path.join(_deletes_dir(store), "_log")
    if os.path.isdir(log_dir):
        for f in sorted(os.listdir(log_dir)):
            if f.endswith(".json"):
                with open(os.path.join(log_dir, f)) as fh:
                    mutations.append({"index": int(f[:-5]), **json.load(fh)})
    return {"store": store, "commits": commits, "mutations": mutations,
            "schema": schema_log(store)}


def store_status(store: str) -> dict:
    """One driver-side dict describing a store's state — no cluster, no
    payload reads: schema (visible + dropped), encode mode, file/byte
    counts from the directory listing, commit-log depth, tombstone count,
    and the mutation-log tail. The ops dashboard call."""
    from ..sources.fsst_source import commit_count
    from .deletes import _deletes_dir, deleted_count, has_deletes
    from .encode import _manifest_mode

    phys = physical_columns(store)
    dropped = dropped_columns(store)
    added = added_columns(store)
    chunk_files = sorted(glob.glob(os.path.join(store, "chunks", "*.parquet")))
    log_dir = os.path.join(_deletes_dir(store), "_log")
    mutations = []
    if os.path.isdir(log_dir):
        for f in sorted(os.listdir(log_dir))[-5:]:
            if f.endswith(".json"):
                with open(os.path.join(log_dir, f)) as fh:
                    mutations.append(json.load(fh))
    return {
        "store": store,
        "mode": _manifest_mode(store),
        "columns": {c: t for c, t in sorted({**phys, **{
            a: t for a, t in added.items() if a not in phys}}.items())
            if c not in dropped},
        "dropped_columns": sorted(dropped),
        "added_columns": sorted(added),
        "chunk_files": len(chunk_files),
        "encoded_bytes": sum(os.path.getsize(f) for f in chunk_files),
        "commits": commit_count(store),
        "has_deletes": has_deletes(store),
        "tombstoned_rows": deleted_count(store),
        "recent_mutations": mutations,
    }
