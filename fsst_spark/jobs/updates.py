"""Row-level UPDATE on encoded stores: append-then-tombstone,
merge-on-read.

``update_where`` is the Iceberg/Delta merge-on-read UPDATE shape over the
store's existing mutation primitives:

1. decode exactly the matching rows (selective decode — zone/dict/bloom
   pruning, tombstone-aware, so an already-deleted row is never
   resurrected),
2. apply the SET expressions (pure Spark Columns — the plan stays
   JVM-side),
3. APPEND the new versions as fresh partitions (datasource-mode stores
   through ``df.write.format('fsst').mode('append')``, dataframe-mode
   job stores through ``encode_job(pid_offset=...)``),
4. tombstone the originals with ``delete_where(pids=<pre-append pids>)``
   — the pid restriction is what makes append-first safe: the new
   versions usually still satisfy the predicate, but they live in new
   pids the tombstone scan never visits.

Failure atomicity (documented, not hidden): the two visible steps are an
append and a tombstone write, each individually atomic. A crash between
them leaves BOTH versions readable (duplicates, never data loss — the
safer failure mode for a corpus store). Recovery is re-issuing step 4:
the update log entry (``deletes/_log/``, action="update") records the
pre-append pid snapshot and the predicate, so the tombstone re-run is
exact. Re-running the WHOLE update instead would version rows twice —
always recover with the logged tombstone step.

At 100 TB: the decode side is the selective-decode plan (pruned scan,
no shuffle beyond chunk co-location), the append is the normal encode
path (per-partition atomic commits), the tombstone pass re-prunes with
the same metadata stack — the update cost scales with the MATCHED data,
never the store.

Reference tie: engine-level surface with no reference analog
(spiraldb/fsst src/lib.rs:14-17 exports codec types only).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .admin import _on_disk_pids
from .deletes import _log_delete, delete_matching, delete_where
from .encode import _manifest_mode


def _appender(spark, store: str, op: str, hint: str = ""):
    """Refuse a store that is not datasource/dataframe mode, else return
    ``append(df, chunk_bytes, lineage) -> (pids_before, appended_pids)``,
    which appends ``df`` as fresh pids through the ``fsst`` writer or
    ``encode_job`` (``lineage`` is for the latter)."""
    mode = _manifest_mode(store)
    if mode not in ("datasource", "dataframe"):
        raise ValueError(
            f"{op} supports datasource/dataframe-mode stores; "
            f"{store!r} is mode {mode!r}{hint}")

    def append(df, chunk_bytes: int, lineage: dict):
        pids_before = sorted(_on_disk_pids(store))
        if mode == "datasource":
            from ..sources.fsst_source import register

            register(spark)
            (df.write.format("fsst").mode("append")
             .option("chunk_bytes", chunk_bytes).save(store))
        else:
            from .encode import encode_job

            pid_offset = (max(pids_before) + 1) if pids_before else 0
            encode_job(spark, df, store, chunk_bytes=chunk_bytes,
                       resume=False, pre_partitioned=True,
                       pid_offset=pid_offset, lineage=lineage).collect()
        return pids_before, sorted(_on_disk_pids(store) - set(pids_before))

    return append


def update_where(spark, store: str, set_exprs: dict,
                 col: str | None = None, op: str | None = None, value=None,
                 filters: list[tuple] | None = None,
                 any_filters: list[tuple] | None = None,
                 chunk_bytes: int = 16 << 20) -> dict:
    """UPDATE ``store`` SET <set_exprs> WHERE <predicate>; returns
    ``{"updated": n, "appended_pids": [...]}``.

    ``set_exprs`` maps existing column names to Spark Columns or SQL
    expression strings (``{"n_chars": "n_chars + 1", "lang": F.lit("xx")}``);
    expressions see the row's OLD values (standard SQL UPDATE semantics —
    all SETs evaluate against the pre-update row). The updated column's
    type must not change (one store, one schema). Predicate forms mirror
    ``decode_filtered``/``delete_where``."""
    append = _appender(
        spark, store, "update_where", ". For a files-mode store, rewrite "
        "through recluster_store or re-encode.")
    if not set_exprs:
        raise ValueError("update_where needs set_exprs={column: expression}")

    from .decode import decode_filtered

    old = decode_filtered(spark, store, col, op, value,
                          filters=filters, any_filters=any_filters) \
        .drop("pid", "chunk_id")
    for c in set_exprs:
        if c not in old.columns:
            raise KeyError(f"SET column {c!r} not in store schema "
                           f"(has {sorted(old.columns)})")
    # all SETs see the OLD row: build the projection in one select
    updated = old.select(*[
        (F.expr(set_exprs[c]) if isinstance(set_exprs[c], str)
         else set_exprs[c]).alias(c) if c in set_exprs else F.col(c)
        for c in old.columns
    ])
    for f_old, f_new in zip(old.schema.fields, updated.schema.fields):
        if f_old.dataType != f_new.dataType:
            raise TypeError(
                f"SET changes column {f_old.name!r} type "
                f"{f_old.dataType.simpleString()} -> "
                f"{f_new.dataType.simpleString()}; a store has one schema "
                "— cast back explicitly if intended")

    # append FIRST (crash between steps duplicates, never loses — see
    # module docstring). The decode plan's file listing snapshot predates
    # the append, so the self-referential read is safe.
    pids_before, appended = append(updated, chunk_bytes, {"update_of": store})

    flt = list(filters or [])
    if col is not None:
        flt.insert(0, (col, op, value))
    res = delete_where(spark, store, filters=flt or None,
                       any_filters=any_filters, pids=pids_before)
    _log_delete(store, {
        "action": "update",
        "set": {c: str(e) for c, e in set_exprs.items()},
        "filters": [list(f) for f in flt],
        "any_filters": [list(f) for f in (any_filters or [])],
        "pids_before": pids_before, "appended_pids": appended,
        "updated": res["deleted_now"],
    })
    return {"updated": res["deleted_now"], "appended_pids": appended}


def merge_upsert(spark, store: str, source, key_col: str,
                 chunk_bytes: int = 16 << 20) -> dict:
    """MERGE INTO ``store`` USING ``source`` ON ``key_col`` — upsert:
    every store row whose key appears in ``source`` is replaced by the
    source row (WHEN MATCHED THEN UPDATE), every new key inserts (WHEN
    NOT MATCHED THEN INSERT). Returns ``{"tombstoned", "appended_pids"}``.

    Same append-first shape (and same crash semantics) as
    ``update_where``: the WHOLE source appends as fresh partitions, then
    matched keys tombstone via ``delete_matching(pids=<pre-append>)`` —
    pruned IN-list for small key sets, broadcast ``is_in`` scan beyond,
    refused past 10^7 keys (that merge is a rewrite). ``source``'s
    schema must equal the store's visible schema; ``source`` must not
    repeat a key (a multi-version upsert is ambiguous)."""
    append = _appender(spark, store, "merge_upsert")
    from .decode import column_arrow_types

    store_cols = sorted(column_arrow_types(store))
    if sorted(source.columns) != store_cols:
        raise ValueError(
            f"source schema {sorted(source.columns)} != store schema "
            f"{store_cols}; merge replaces whole rows")
    if key_col not in store_cols:
        raise KeyError(f"key column {key_col!r} not in store schema")
    dup = (source.groupBy(key_col).count().where("count > 1").limit(1)
           .collect())
    if dup:
        raise ValueError(
            f"source repeats key {dup[0][key_col]!r}; an upsert needs "
            "one row per key (pre-aggregate the source)")
    # keys snapshot BEFORE the append (reading source twice is fine — the
    # duplicate check above already materialized its shuffle)
    keys = source.select(F.col(key_col).alias("_k"))
    pids_before, appended = append(source, chunk_bytes,
                                   {"merge_into": store, "key": key_col})
    res = delete_matching(spark, store, key_col, keys, pids=pids_before)
    _log_delete(store, {
        "action": "merge", "key": key_col,
        "pids_before": pids_before, "appended_pids": appended,
        "tombstoned": res["deleted_now"],
    })
    return {"tombstoned": res["deleted_now"], "appended_pids": appended}
