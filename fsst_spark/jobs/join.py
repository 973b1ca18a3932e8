"""Store-to-store equi-join with two-sided zone-interval scan pruning.

Joining two encoded stores normally means decoding both in full and
letting Spark shuffle-join the results. When either store is CLUSTERED on
the join key (``encode_job(sort_key=...)`` / ``recluster``), that is
wasteful: each side's per-chunk zone maps already bound the key range of
every chunk, so a chunk on one side whose key interval intersects no
chunk interval on the other side provably contains no joinable row and
its payload never needs to be read, shipped, or decoded.

``store_join`` implements exactly that — the encoded-store analog of a
storage-partitioned join: both stores' zone intervals come from the
planner's driver-side metadata read (no Spark job), each side's interval union is merged driver-side into a
disjoint sorted set, and the opposite side keeps only chunks that
intersect it. Surviving chunks decode through the normal ``decode_job``
path (zone/dict/bloom machinery intact) and the exact equi-join runs as a
plain Spark join — AQE picks broadcast vs shuffle from the real pruned
sizes.

Safety: pruning drops a chunk only when the packed zone intervals are
provably disjoint. All pack functions (identity for ints/timestamps,
``zone_pack8`` 8-byte prefixes for strings, ``zone_packf`` IEEE
total-order keys for floats) are monotone in value order and identical
across stores for the same arrow type (asserted), so equal join keys
always pack into both chunks' intervals — a pruned pair shares no key.
Chunks with NULL zones are kept on the decode side and widen the interval
union to the full line (conservative both directions). A side is pruned
only when its non-matching rows cannot reach the output: both sides for
``inner``/``left_semi``, the right side for ``left``/``left_anti``, the
left side for ``right``, neither for ``full``.

At 10^12-document scale the metadata read here is chunk-METADATA-scale
(#chunk-groups tuples of four ints — ~3M groups at 100 TB / 32 MiB
chunks), the same order as the manifest listing the store already
requires; payload bytes of pruned chunks are never touched.

Reference tie: engine-side scale surface with no reference analog
(spiraldb/fsst src/lib.rs:14-17 exports only codec types); the pruning
design follows the Iceberg/Spark storage-partitioned-join and min/max
zone-map literature (Moerkotte, "Small Materialized Aggregates", VLDB'98).
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .decode import column_arrow_types, decode_job
from .plan import store_meta

_PRUNE_LEFT = {"inner", "left_semi", "right"}
_PRUNE_RIGHT = {"inner", "left_semi", "left", "left_anti"}
_HOW = {"inner", "left", "right", "full", "left_semi", "left_anti"}


def _side_meta(out_dir: str, keys: "list[str]") -> dict:
    """Everything the join planner needs from one store, from ONE
    driver-side fold of the planner's metadata read (no Spark job): per
    chunk group, each key column's zone bounds + row count and every
    column's raw_bytes.

    Returns ``{"zones": {key: zones-list | None}, "col_bytes":
    [(pid, chunk_id, {column: raw_bytes}), ...]}``. A zones list holds
    ``(pid, chunk_id, zmin, zmax, n_rows)`` per chunk group, with None
    bounds for null-zone chunks; it is None when the store predates zone
    maps (no pruning possible), and groups missing a key column's row are
    absent from that key's list."""
    m, missing = store_meta(out_dir, None, ("raw_bytes",))
    key_rows: dict = {k: [] for k in keys}
    col_bytes: dict = {}
    for pid, cid, col, n, lo, hi, rb in zip(
            m["pid"], m["chunk_id"], m["column"], m["n_rows"],
            m["zmin_long"], m["zmax_long"], m["raw_bytes"]):
        col_bytes.setdefault((pid, cid), {})[col] = rb
        if col in key_rows:
            key_rows[col].append((pid, cid, lo, hi, n))
    has_zones = "zmin_long" not in missing
    return {"zones": {k: key_rows[k] if has_zones else None for k in keys},
            "col_bytes": [(p, c, b) for (p, c), b in col_bytes.items()]}


def _kept_bytes(meta: dict, columns: "list[str] | None",
                kept, rows_kept: "int | None") -> "int | None":
    """Upper bound on the DECODED bytes a side will produce, from its
    ``_side_meta``: raw_bytes of the projected columns (all columns when
    unprojected) over kept chunk groups, plus 16 bytes/row slack for
    metadata-less virtual columns (ADD COLUMN NULL fills carry no chunk
    rows). raw_bytes is pre-tombstone, so deletes only make the bound
    more conservative. None when rows are unknown (pre-zone store)."""
    if rows_kept is None:
        return None
    ks = set(kept) if kept is not None else None
    want = set(columns) if columns is not None else None
    total = 0
    for pid, cid, by_col in meta["col_bytes"]:
        if ks is not None and (pid, cid) not in ks:
            continue
        for c, b in by_col.items():
            if want is None or c in want:
                total += b or 0
    return total + rows_kept * 16


def _interval_union(zones) -> "tuple[np.ndarray, np.ndarray] | None":
    """Disjoint sorted (starts, ends) covering every chunk's key interval.
    Any chunk with NULL zone bounds makes the union unbounded (returns
    None: the opposite side cannot prune) — NULL zones mean either an
    all-null chunk or a pre-zone writer, and only the latter matters for
    safety, so stay conservative."""
    iv = []
    for _pid, _cid, lo, hi, _n in zones:
        if lo is None or hi is None:
            return None
        iv.append((lo, hi))
    if not iv:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    iv.sort()
    starts, ends = [iv[0][0]], [iv[0][1]]
    for lo, hi in iv[1:]:
        if lo <= ends[-1]:
            if hi > ends[-1]:
                ends[-1] = hi
        else:
            starts.append(lo)
            ends.append(hi)
    return np.asarray(starts, np.int64), np.asarray(ends, np.int64)


def _kept_keys(zones, other_union) -> "list[tuple[int, int]] | None":
    """Chunk keys on this side that may hold a join match: interval
    intersects the other side's union, or zone bounds are NULL (kept —
    conservative). None = keep everything (no pruning information)."""
    if zones is None or other_union is None:
        return None
    starts, ends = other_union
    kept = []
    for pid, cid, lo, hi, _n in zones:
        if lo is None or hi is None:
            kept.append((pid, cid))
            continue
        # disjoint sorted intervals: first interval whose end >= lo
        # intersects [lo, hi] iff its start <= hi
        i = int(np.searchsorted(ends, lo, side="left"))
        if i < len(starts) and starts[i] <= hi:
            kept.append((pid, cid))
    return kept


def _rows_kept(zones, kept) -> "int | None":
    """Row estimate for the chunks a side will scan (exact modulo row
    tombstones): sum of kept chunk groups' n_rows, all groups when the
    side is unpruned. None when the store has no zone metadata."""
    if zones is None:
        return None
    if kept is None:
        return int(sum(n for _, _, _, _, n in zones))
    ks = set(kept)
    return int(sum(n for p, c, _, _, n in zones if (p, c) in ks))


def _norm_on(on) -> "list[str]":
    keys = [on] if isinstance(on, str) else list(on)
    if not keys:
        raise ValueError("join needs at least one key column")
    if len(set(keys)) != len(keys):
        raise ValueError(f"duplicate join key columns: {keys}")
    return keys


def _side_kept(side_zones: dict, other_zones: dict, keys: "list[str]"):
    """Kept chunk keys for one side pruned by the OTHER side's
    per-column interval unions. A chunk survives only if, for EVERY key
    column, its interval intersects the other side's union of that
    column — composite keys prune strictly harder than any single one.
    None = unprunable (no key column has zones on both stores)."""
    kept = None
    for c in keys:
        k = _kept_keys(side_zones[c], _interval_union(other_zones[c])
                       if other_zones[c] is not None else None)
        if k is None:
            continue
        kept = set(k) if kept is None else (kept & set(k))
    return sorted(kept) if kept is not None else None


def store_join_plan(spark, left_dir: str, right_dir: str, on,
                    how: str = "inner", runtime_filter="auto",
                    rf_max_rows: int = 100_000) -> dict:
    """The pruning decision without running the join: per-side total and
    kept chunk-group counts, kept-row estimates, the runtime-filter build
    side (if any), plus the kept chunk keys ``decode_job`` will see.
    ``on`` may be one column or a composite key list — every key column
    prunes independently and a chunk must survive all of them.
    Drives tests and ops dashboards ("how much would this join scan?")."""
    if how not in _HOW:
        raise ValueError(f"how must be one of {sorted(_HOW)}, got {how!r}")
    keys = _norm_on(on)
    lts = column_arrow_types(left_dir, keys)
    rts = column_arrow_types(right_dir, keys)
    for c in keys:
        if lts[c] != rts[c]:
            raise TypeError(
                f"join key {c!r} is {lts[c]} in {left_dir} but {rts[c]} in "
                f"{right_dir}; packed zone keys are only comparable within "
                f"one arrow type — cast and re-encode one side")
    lmeta, rmeta = _side_meta(left_dir, keys), _side_meta(right_dir, keys)
    lz_all, rz_all = lmeta["zones"], rmeta["zones"]
    lz, rz = lz_all[keys[0]], rz_all[keys[0]]
    lk = _side_kept(lz_all, rz_all, keys) if how in _PRUNE_LEFT else None
    rk = _side_kept(rz_all, lz_all, keys) if how in _PRUNE_RIGHT else None
    l_rows, r_rows = _rows_kept(lz, lk), _rows_kept(rz, rk)
    # runtime filter: when a side is small enough to broadcast its keys,
    # those keys point-prune (zone IN + dict + bloom) the opposite
    # PRUNABLE side — which bites even on unclustered stores where the
    # interval test can't. Build side = the smaller eligible one.
    rf_build = None
    if runtime_filter and how != "full":
        cand = []
        if how in _PRUNE_RIGHT and l_rows is not None \
                and l_rows <= rf_max_rows:
            cand.append((l_rows, "left"))
        if how in _PRUNE_LEFT and r_rows is not None \
                and r_rows <= rf_max_rows:
            cand.append((r_rows, "right"))
        if cand:
            rf_build = min(cand)[1]
    n_groups = (lambda z: len({(p, c) for p, c, _, _, _ in z}) if z else 0)
    return {
        "on": on, "how": how,
        "key_type": lts[keys[0]] if len(keys) == 1
        else [lts[c] for c in keys],
        "left_total": n_groups(lz) if lz is not None else None,
        "left_kept": len(lk) if lk is not None else None,
        "right_total": n_groups(rz) if rz is not None else None,
        "right_kept": len(rk) if rk is not None else None,
        "left_rows_kept": l_rows, "right_rows_kept": r_rows,
        "runtime_filter_build": rf_build,
        "_left_keys": lk, "_right_keys": rk,
        "_left_meta": lmeta, "_right_meta": rmeta,
    }


def store_join(spark, left_dir: str, right_dir: str, on, *,
               how: str = "inner",
               left_columns: "list[str] | None" = None,
               right_columns: "list[str] | None" = None,
               prune: bool = True, runtime_filter="auto",
               rf_max_rows: int = 100_000,
               broadcast_threshold_bytes: int = 64 << 20) -> DataFrame:
    """Equi-join two encoded stores on ``on``, scan-pruned by each other's
    zone intervals. Returns the joined DataFrame (provenance pid/chunk_id
    columns dropped — they collide across stores and mean nothing after a
    join). ``on`` may be one column name or a composite key list — each
    key column prunes the other side's scan independently, and a chunk
    must survive every one. ``left_columns``/``right_columns`` project
    each side (keys are added automatically); non-key output columns
    must not collide.

    ``runtime_filter`` (default ``"auto"``): when one side's kept-row
    estimate is ≤ ``rf_max_rows``, the opposite prunable side decodes via
    ``decode_semijoin`` on the small side's actual keys instead of the
    interval whitelist — point-level zone-IN + dict + bloom pruning,
    which bites even on UNCLUSTERED stores where interval overlap prunes
    nothing (and subsumes the interval test when it does: the keys lie
    inside the small side's intervals). The small side is recomputed for
    the key collect and the final join (it is ≤ rf_max_rows rows by the
    eligibility test, so the second decode is cheap). ``False`` disables.

    ``broadcast_threshold_bytes``: when a side's kept DECODED bytes (raw
    bytes of its projected columns over kept chunks, from metadata) fit
    the threshold AND that side can legally be the build side of ``how``,
    the final join carries an explicit broadcast hint. AQE would reach
    the same join only AFTER materializing both sides' shuffle maps —
    at 100 TB that is a full extra pass of the big side to local disk;
    the hint plans the broadcast up front so the big side never
    shuffles. Bounded by BYTES, not rows: 10^5 rows of long text must
    not be broadcast. ``0`` disables."""
    plan = store_join_plan(spark, left_dir, right_dir, on, how,
                           runtime_filter=runtime_filter,
                           rf_max_rows=rf_max_rows)
    on_cols = _norm_on(on)

    def side(out_dir, columns, keys):
        cols = None
        if columns is not None:
            cols = list(dict.fromkeys([*on_cols, *columns]))
        df = decode_job(spark, out_dir, cols,
                        _chunk_keys=keys if prune else None)
        return df.drop("pid", "chunk_id")

    # an empty kept list is a provable empty scan — but decode_job treats
    # [] the same as a real whitelist, so pass it through unchanged
    left = side(left_dir, left_columns, plan["_left_keys"])
    right = side(right_dir, right_columns, plan["_right_keys"])
    rf_build = plan["runtime_filter_build"] if prune else None
    if rf_build is not None:
        # The runtime filter is a pure pruning aid (the final equi-join is
        # exact either way), so skip it when it cannot beat the interval
        # pruning already applied: the probed side must still be scanning
        # most of its groups (intervals did not bite — the unclustered
        # case the filter exists for) AND more rows than the build side
        # holds (probing a scan already smaller than the build side costs
        # a key-collect job for nothing).
        t_keys, t_zones, t_rows = (
            ("_right_keys", plan["right_total"], plan["right_rows_kept"])
            if rf_build == "left"
            else ("_left_keys", plan["left_total"], plan["left_rows_kept"]))
        kept_t = plan[t_keys]
        build_rows = plan["left_rows_kept" if rf_build == "left"
                          else "right_rows_kept"]
        frac = (1.0 if kept_t is None or not t_zones
                else len(kept_t) / t_zones)
        if (frac <= 0.5
                or (t_rows is not None and build_rows is not None
                    and t_rows <= build_rows)):
            rf_build = None
    if rf_build is not None:
        from .decode import decode_semijoin

        def rf_probe(out_dir, columns, build_df):
            # composite keys: probe on the FIRST key column only — a
            # conservative superset of the true match set (the final
            # equi-join on all keys stays exact)
            k0 = on_cols[0]
            cols = None
            if columns is not None:
                cols = list(dict.fromkeys([*on_cols, *columns]))
            df = decode_semijoin(spark, out_dir, k0, build_df.select(k0),
                                 columns=cols,
                                 max_pushdown_keys=rf_max_rows)
            return df.drop("pid", "chunk_id")

        if rf_build == "left":
            right = rf_probe(right_dir, right_columns, left)
        else:
            left = rf_probe(left_dir, left_columns, right)
    if broadcast_threshold_bytes:
        # legal build sides per join type; "full" broadcasts neither
        can_b_right = how in ("inner", "left", "left_semi", "left_anti")
        can_b_left = how in ("inner", "right")

        def side_bytes(ok, meta, columns, keys, rows):
            # rows*16 is the slack floor: a side that fails on rows alone
            # can never pass. Bytes come from the plan's metadata read
            # (_side_meta) — no Spark job here.
            if not ok or rows is None or rows * 16 > broadcast_threshold_bytes:
                return None
            return _kept_bytes(meta, columns, keys if prune else None, rows)

        lb = side_bytes(can_b_left, plan["_left_meta"], left_columns,
                        plan["_left_keys"], plan["left_rows_kept"])
        rb = side_bytes(can_b_right, plan["_right_meta"], right_columns,
                        plan["_right_keys"], plan["right_rows_kept"])
        cand = [(b, s) for b, s in ((lb, "left"), (rb, "right"))
                if b is not None and b <= broadcast_threshold_bytes]
        if cand:
            if min(cand)[1] == "left":
                left = F.broadcast(left)
            else:
                right = F.broadcast(right)
    if how not in ("left_semi", "left_anti"):
        clash = (set(left.columns) & set(right.columns)) - set(on_cols)
        if clash:
            raise ValueError(
                f"non-key columns {sorted(clash)} exist in both stores; "
                f"project with left_columns/right_columns or rename before "
                f"joining")
    return left.join(right, on=on_cols, how=how)


def store_join_df(spark, store_dir: str, df, on, *, how: str = "inner",
                  store_columns: "list[str] | None" = None,
                  max_pushdown_keys: int = 100_000) -> "DataFrame":
    """Equi-join an encoded store (left side) against an arbitrary
    DataFrame — the mixed form of ``store_join`` for the everyday case
    where one side never was a store (a fresh crawl batch, a driver-built
    dimension, the output of another pipeline stage).

    The DataFrame's observed keys prune the store's SCAN before any
    payload decodes, whenever dropping non-matching store rows is sound
    (``inner`` / ``left_semi``): each key column's distinct values (up to
    ``max_pushdown_keys``, collected exactly like Spark's InSubqueryExec
    runtime filter) become an IN-list ``decode_filtered`` — zone maps,
    dict membership, and per-chunk blooms all apply, so a small batch
    probing a clustered or bloom-equipped 100 TB store touches a chunk
    handful. Composite keys prune per column (conjunction of per-column
    IN-lists — a superset of the composite match; the exact join
    re-applies the tuple equality). Past the cap, or for ``left`` /
    ``left_anti`` (every store row must reach the output), the store
    decodes unpruned — correct, just unfiltered; at that cardinality the
    keys were not going to prune anyway.

    ``left_semi``/``left_anti`` return store rows only; other joins
    return the usual combined frame (non-key column collisions refused,
    as in ``store_join``). Broadcast is left to AQE — the pruned store
    side and the DataFrame side both carry real sizes by join time.
    """
    from .decode import column_arrow_types, decode_filtered, decode_job

    on_cols = [on] if isinstance(on, str) else list(on)
    if not on_cols:
        raise ValueError("store_join_df needs at least one join column")
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"unsupported how={how!r} (store is the left "
                         "side; use inner/left/left_semi/left_anti)")
    types = column_arrow_types(store_dir, include_added=True)
    for c in on_cols:
        if c not in types:
            raise KeyError(f"join column {c!r} not in encoded data")
        if c not in df.columns:
            raise KeyError(f"join column {c!r} not in DataFrame")
    cols = store_columns
    if cols is not None:
        cols = list(cols) + [c for c in on_cols if c not in cols]

    can_prune = how in ("inner", "left_semi")
    filters = []
    if can_prune:
        # two single-pass aggregations however many key columns there are
        # (the probe side may be an expensive upstream pipeline — never
        # re-evaluate it once per column): first a cardinality guard, then
        # the actual distinct sets only if every column fits the cap
        ndv = df.agg(*[F.count_distinct(c).alias(c)
                       for c in on_cols]).collect()[0]
        empty_probe = any(ndv[c] == 0 for c in on_cols)
        if not empty_probe and all(ndv[c] <= max_pushdown_keys
                                   for c in on_cols):
            sets = df.agg(*[F.collect_set(c).alias(c)
                            for c in on_cols]).collect()[0]
            filters = [(c, "in", sorted(sets[c])) for c in on_cols]
    else:
        empty_probe = False
    # cols (projection + keys) — NOT store_columns: decode_filtered would
    # drop filter columns outside its columns=, and the join needs the keys
    store = (decode_filtered(spark, store_dir, filters=filters,
                             columns=cols)
             if filters else decode_job(spark, store_dir, cols))
    if empty_probe:
        # empty (or all-null-key) probe: the inner/semi join is provably
        # empty — keep the schema, scan nothing
        store = store.where(F.lit(False))
    store = store.drop("pid", "chunk_id")
    if how in ("left_semi", "left_anti"):
        return store.join(df.select(*on_cols).distinct(), on=on_cols,
                          how=how)
    clash = (set(store.columns) & set(df.columns)) - set(on_cols)
    if clash:
        raise ValueError(
            f"non-key columns {sorted(clash)} exist in both sides; "
            f"project with store_columns or rename before joining")
    return store.join(df, on=on_cols, how=how)
