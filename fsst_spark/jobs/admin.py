"""Store administration: snapshot rollback and vacuum.

``rollback_store`` undoes appends — the "a bad crawl batch landed" op.
Entries ``to_commit+1..latest`` of the append-only commit log are
retired: their chunk + manifest files move to the store's trash (or are
unlinked with ``hard=True``), their tombstone rows are dropped from the
delete files, and the retired commit entries are removed. Unlike
Iceberg's pointer-move rollback (history kept), this one physically
truncates — simpler, and the right default for a corpus store where the
rolled-back batch is garbage, not history. Consequences are explicit:
a streaming reader checkpointed past ``to_commit`` must restart from a
fresh checkpoint (its offset names entries that no longer exist), and
``as_of`` reads beyond ``to_commit`` raise.

``vacuum_store`` garbage-collects files no commit entry names — the
leftovers of torn/aborted datasource writes, which readers already
ignore (snapshot isolation) but which hold disk. Job-API stores read by
plain directory listing, so for them an unlogged file IS data — vacuum
refuses unless the store's manifest mode is datasource/stream.

Both ops are driver-side metadata work: one commit-log fold plus one
directory listing — O(#files) names, never payload bytes, so they hold
at 10^9-file stores the same as at 10. Every call appends one JSON entry
to the store's mutation log (``deletes/_log``), the same lineage stream
``delete_where``/``update_where`` write.

Reference tie: engine-level surface with no reference analog
(spiraldb/fsst src/lib.rs:14-17 exports codec types only).
"""

from __future__ import annotations

import json
import os
import shutil

from ..sources.fsst_source import (
    _commits_dir,
    commit_count,
    commit_range_pids,
)
from .deletes import _delete_files, _deletes_dir, _log_delete
from .encode import part_files


def _on_disk_pids(store: str, sub: str = "chunks") -> set[int]:
    return {pid for pid, _ in part_files(os.path.join(store, sub))}


def _trash_dir(store: str, kind: str) -> str:
    """Next free ``trash/<kind>-<i>/`` slot (O_EXCL-free: mkdir races are
    a non-issue for an admin op, but keep slots unique anyway)."""
    i = 0
    while True:
        d = os.path.join(store, "trash", f"{kind}-{i:04d}")
        if not os.path.exists(d):
            os.makedirs(d)
            return d
        i += 1


def _retire_files(store: str, pids: set[int], dest: str | None) -> int:
    """Move (or unlink, dest=None) the chunk+manifest files of ``pids``.
    Returns the number of files retired."""
    n = 0
    for sub in ("chunks", "manifest"):
        for pid in sorted(pids):
            src = os.path.join(store, sub, f"part-{pid:05d}.parquet")
            if not os.path.exists(src):
                continue
            if dest is None:
                os.unlink(src)
            else:
                os.makedirs(os.path.join(dest, sub), exist_ok=True)
                shutil.move(src, os.path.join(dest, sub, os.path.basename(src)))
            n += 1
    return n


def _drop_tombstones_for(store: str, pids: set[int]) -> int:
    """Rewrite delete files dropping rows whose pid was rolled back, so
    ``deleted_count``/``store_status`` stay exact. Per-file rewrite (one
    narrow 3-int-column file in memory at a time); files with no overlap
    are untouched. Returns rows dropped."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dropped = 0
    for f in _delete_files(store):
        tbl = pq.read_table(f)
        mask = pc.is_in(tbl.column("pid"), value_set=pa.array(
            sorted(pids), type=tbl.schema.field("pid").type))
        n_hit = pc.sum(mask).as_py() or 0
        if not n_hit:
            continue
        keep = tbl.filter(pc.invert(mask))
        if keep.num_rows:
            pq.write_table(keep, f)
        else:
            os.unlink(f)
        dropped += n_hit
    return dropped


def rollback_store(store: str, to_commit: int, hard: bool = False) -> dict:
    """Undo every append after commit entry ``to_commit`` (-1 empties the
    store). Requires full log coverage: every on-disk chunk pid must be
    named by some commit entry, else the rollback boundary is ambiguous —
    job-API stores opt in via ``log_commit_snapshot`` after each encode
    action, exactly as they do for streaming/as_of. Retired files move to
    ``<store>/trash/`` (``hard=True`` unlinks); retired tombstone rows are
    dropped from the delete files; retired commit entries are removed so
    ``commit_count`` shrinks to ``to_commit + 1``."""
    n = commit_count(store)
    all_logged = set(commit_range_pids(store, -1))  # raises on log-less stores
    if not (-1 <= to_commit < n - 1):
        raise ValueError(
            f"to_commit={to_commit} retires nothing: store has commit "
            f"entries 0..{n - 1}; pass -1 <= to_commit < {n - 1}")
    keep = set(commit_range_pids(store, -1, to_commit)) if to_commit >= 0 \
        else set()
    drop = all_logged - keep
    unlogged = _on_disk_pids(store) - all_logged
    if unlogged:
        raise ValueError(
            f"store {store!r} has {len(unlogged)} chunk files no commit "
            f"entry names (pids {sorted(unlogged)[:8]}...): rollback needs "
            "full log coverage — run log_commit_snapshot(store) first (or "
            "vacuum_store for datasource/stream stores whose unlogged "
            "files are aborted-write leftovers)")
    dest = None if hard else _trash_dir(store, "rollback")
    moved = _retire_files(store, drop, dest)
    tombs = _drop_tombstones_for(store, drop)
    for i in range(to_commit + 1, n):
        os.unlink(os.path.join(_commits_dir(store), f"{i:08d}.json"))
    entry = {"action": "rollback", "to_commit": to_commit,
             "retired_commits": n - 1 - to_commit,
             "retired_pids": sorted(drop), "files_retired": moved,
             "tombstone_rows_dropped": tombs,
             "trash": dest, "hard": hard}
    _log_delete(store, entry)
    return entry


def vacuum_store(store: str, hard: bool = False) -> dict:
    """Garbage-collect chunk/manifest files no commit entry names — the
    leftovers of torn/aborted writes, invisible to readers of
    datasource/stream stores (their scans read only committed pids) but
    still holding disk. Refuses on job-API stores (their plain-listing
    reads treat every present file as data). Files move to trash unless
    ``hard=True``."""
    from .encode import _manifest_mode

    mode = _manifest_mode(store)
    if mode not in ("datasource", "stream"):
        raise ValueError(
            f"vacuum_store needs a datasource/stream-mode store (got "
            f"mode={mode!r}): job-API stores read by directory listing, "
            "so an unlogged file there is data, not garbage")
    n = commit_count(store)
    logged = set(commit_range_pids(store, -1, n - 1)) if n else set()
    orphans = (_on_disk_pids(store) | _on_disk_pids(store, "manifest")) - logged
    dest = None if hard else (_trash_dir(store, "vacuum") if orphans else None)
    moved = _retire_files(store, orphans, dest)
    entry = {"action": "vacuum", "orphan_pids": sorted(orphans),
             "files_retired": moved, "trash": dest, "hard": hard}
    _log_delete(store, entry)
    return entry


def fsck_store(store: str, deep: bool = False) -> dict:
    """Driver-side structural integrity audit of an encoded store — the
    cross-FILE consistency complement of the cluster ``verify`` job (which
    re-decodes payloads against per-chunk checksums). Spark-free and
    payload-free: footers and small JSON only, so it runs in seconds from
    a laptop against a store of any size.

    Shallow checks (always): chunk/manifest pid pairing both ways, commit
    log contiguity (``00000000.json..`` with no gaps), commit entries
    naming pids with no chunk file, tombstone files referencing pids that
    don't exist. Chunk files no commit entry names are reported as
    ``uncommitted_pids`` info, NOT an issue — on a commit-log store they
    are invisible torn-write leftovers (``vacuum`` cleans them); on a
    job-API store the listing IS the data and the field stays empty.

    ``deep=True`` additionally opens every chunk and delete file: all
    columns of one chunk must agree on ``n_rows``, every column present
    in all chunks must total the manifest's per-pid ``n_rows``, and every
    tombstone's (chunk_id, pos) must land inside a real chunk's row range.

    Returns a JSON-able report; ``ok`` is True iff no issues were found.
    Never mutates the store."""
    import pyarrow.parquet as _pq

    issues: list[dict] = []
    chunk_paths = dict(part_files(os.path.join(store, "chunks")))
    chunk_pids = set(chunk_paths)
    man_files = part_files(os.path.join(store, "manifest"))
    man_pids = {pid for pid, _ in man_files}
    if not chunk_pids and not man_pids:
        issues.append({"kind": "not_a_store",
                       "detail": "no chunks/ or manifest/ files"})
    for pid in sorted(man_pids - chunk_pids):
        issues.append({"kind": "manifest_without_chunks", "pid": pid})
    for pid in sorted(chunk_pids - man_pids):
        issues.append({"kind": "chunks_without_manifest", "pid": pid})

    n_commits = commit_count(store)
    uncommitted: list[int] = []
    if n_commits:
        names = sorted(f for f in os.listdir(_commits_dir(store))
                       if f.endswith(".json"))
        want = [f"{i:08d}.json" for i in range(len(names))]
        if names != want:
            issues.append({"kind": "commit_gap",
                           "entries": [n for n in names
                                       if n not in want][:20]})
        # read the entries that EXIST (never by index — a gap must be a
        # reported issue, not an fsck crash)
        committed: set[int] = set()
        for n in names:
            try:
                with open(os.path.join(_commits_dir(store), n)) as fh:
                    committed.update(json.load(fh)["pids"])
            except (OSError, ValueError, KeyError) as e:
                issues.append({"kind": "unreadable_commit_entry",
                               "entry": n, "error": str(e)[:200]})
        for pid in sorted(committed - chunk_pids):
            issues.append({"kind": "commit_names_missing_pid", "pid": pid})
        uncommitted = sorted(chunk_pids - committed)

    delete_files = _delete_files(store)
    tomb_keys: dict[int, set[tuple[int, int]]] = {}
    for f in delete_files:
        tbl = _pq.read_table(f, columns=["pid", "chunk_id", "pos"])
        pids = tbl.column("pid").to_pylist()
        cids = tbl.column("chunk_id").to_pylist()
        poss = tbl.column("pos").to_pylist()
        for pid in sorted(set(pids) - chunk_pids):
            issues.append({"kind": "tombstone_dangling_pid", "pid": pid,
                           "file": os.path.basename(f)})
        if deep:
            for pid, cid, pos in zip(pids, cids, poss):
                tomb_keys.setdefault(pid, set()).add((cid, pos))

    if deep:
        man_rows: dict[int, int] = {}
        for _, p in man_files:
            t = _pq.read_table(p, columns=["pid", "n_rows"])
            for pid, n in zip(t.column("pid").to_pylist(),
                              t.column("n_rows").to_pylist()):
                man_rows[int(pid)] = int(n)
        for pid, cp in sorted(chunk_paths.items()):
            try:
                t = _pq.read_table(cp, columns=["chunk_id", "column",
                                                "n_rows"])
            except OSError as e:
                issues.append({"kind": "unreadable_chunk_file", "pid": pid,
                               "error": str(e)[:200]})
                continue
            per_chunk: dict[int, dict[str, int]] = {}
            for cid, col, n in zip(t.column("chunk_id").to_pylist(),
                                   t.column("column").to_pylist(),
                                   t.column("n_rows").to_pylist()):
                per_chunk.setdefault(int(cid), {})[col] = int(n)
            for cid, cols in sorted(per_chunk.items()):
                if len(set(cols.values())) > 1:
                    issues.append({"kind": "chunk_row_disagreement",
                                   "pid": pid, "chunk_id": cid,
                                   "rows_by_column": cols})
            all_cids = set(per_chunk)
            totals: dict[str, int] = {}
            presence: dict[str, int] = {}
            for cols in per_chunk.values():
                for col, n in cols.items():
                    totals[col] = totals.get(col, 0) + n
                    presence[col] = presence.get(col, 0) + 1
            want_rows = man_rows.get(pid)
            if want_rows is not None:
                for col, tot in sorted(totals.items()):
                    if presence[col] == len(per_chunk) and tot != want_rows:
                        issues.append({"kind": "rows_mismatch", "pid": pid,
                                       "column": col, "chunk_total": tot,
                                       "manifest_n_rows": want_rows})
            rows_of = {cid: max(cols.values(), default=0)
                       for cid, cols in per_chunk.items()}
            for cid, pos in sorted(tomb_keys.get(pid, ())):
                if cid not in all_cids:
                    issues.append({"kind": "tombstone_dangling_chunk",
                                   "pid": pid, "chunk_id": cid})
                elif not (0 <= pos < rows_of[cid]):
                    issues.append({"kind": "tombstone_pos_out_of_range",
                                   "pid": pid, "chunk_id": cid, "pos": pos,
                                   "chunk_rows": rows_of[cid]})

    return {
        "store": store,
        "ok": not issues,
        "deep": deep,
        "n_chunk_files": len(chunk_pids),
        "n_manifest_pids": len(man_pids),
        "n_commits": n_commits,
        "n_delete_files": len(delete_files),
        "uncommitted_pids": uncommitted[:100],
        "n_issues": len(issues),
        "issues": issues[:100],
    }


def empty_trash(store: str) -> dict:
    """Permanently delete everything rollback/vacuum parked in
    ``<store>/trash/``."""
    d = os.path.join(store, "trash")
    n = sum(len(files) for _, _, files in os.walk(d)) if os.path.isdir(d) else 0
    shutil.rmtree(d, ignore_errors=True)
    return {"action": "empty_trash", "files_deleted": n}
