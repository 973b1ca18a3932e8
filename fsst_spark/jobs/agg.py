"""Aggregation pushdown over the encoded store: GROUP BY answered from
codec structure instead of a full decode.

The classic columnar-engine trick (cf. the FSST paper's positioning of
FSST *next to* dict/RLE precisely so queries can run on codes): a
``SELECT col, count(*) GROUP BY col`` over a dictionary-coded column
never needs the expanded strings — the per-chunk answer is a bincount of
the small integer code array plus one decode of the (tiny) dictionary
section; an RLE-coded column answers from (run value, run length) pairs
without materializing a single repeated row.

Every job here that needs whole chunks gets them one way: the
driver-side planner (:mod:`jobs.plan`) prunes chunks from metadata, its
surviving files become file tasks, and each task reads its chunks with
the one chunk reader (every column row of a chunk lives in its pid's
chunk file), so no chunk row is ever shuffled. Each chunk reduces to at
most NDV(chunk) partial rows inside its task, so the only shuffle is the
NDV-scale final aggregate, not row-scale: at 10^12 documents a ``GROUP
BY lang`` shuffles a few hundred rows per chunk, not 10^12.
``encoded_group_sum`` extends this to ``GROUP BY k, count(*), sum(v)``
(int sums in exact int64 via ``np.add.at``, never float bincount
weights). The tri-state ``encoded_count_filtered`` and
``encoded_histogram`` classify chunks inside the task from the chunk
file's own zones, row counts and params, and read payloads only for the
chunks their metadata cannot answer.

A ``filters`` WHERE is the one exact row predicate of every read,
:class:`decode.RowFilter`: compiled on the driver (a bad filter, or an
``rlike`` — Java regex, which only ``decode_filtered`` evaluates — raises
before any job) and run on each chunk's lazily decoded filter columns,
with tombstones folded in by :func:`decode.keep_rows`.

Falls back to a full chunk decode (still chunk-local partial aggregation)
for codecs with no structural shortcut (fsst/plain strings, floats).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..kernel.codecs import (
    _bytes_to_arrow,
    _split_sections,
    decode_bytes_like,
    decode_column,
    decode_int_for,
    parse_arrow_type,
)
from .decode import (
    _STRINGY,
    DecodedChunk,
    RowFilter,
    _spark_type,
    column_arrow_types,
    keep_rows,
    zone_all,
)
from .deletes import DeleteMask, has_deletes
from .plan import (
    chunk_job,
    file_meta,
    file_tasks_df,
    plan_chunks,
    planned_files,
    read_chunks,
    task_files,
)

_INT_LIKE = ("int8", "int16", "int32", "int64")


def _strip_validity(params: dict, payload: bytes):
    """Split off the trailing validity bitmap (if any); return the dense
    payload, the boolean validity mask (or None) and the null count."""
    if "n_total" not in params:
        return payload, None, 0
    vlen = params["validity_len"]
    dense, vbits = payload[:vlen], payload[vlen:]
    mask = np.unpackbits(
        np.frombuffer(vbits, dtype=np.uint8), bitorder="little"
    )[: params["n_total"]].astype(bool)
    return dense, mask, int(params["n_total"]) - int(mask.sum())


def _chunk_value_counts(codec: str, params: dict, payload: bytes,
                        t: pa.DataType) -> tuple[pa.Array, np.ndarray]:
    """One chunk -> (distinct values, counts). Nulls appear as a null
    value entry (SQL GROUP BY groups nulls). Dict chunks bincount the
    code array; RLE chunks aggregate (run value, run length) pairs;
    everything else decodes then counts chunk-locally."""
    dense, _mask, n_null = _strip_validity(params, payload)
    if codec == "str_dict":
        cp, up = _split_sections(params, dense)
        codes = decode_bytes_like({**params["codes"], "payload": cp}, kind="int")
        ubuf, uoff = decode_bytes_like({**params["values"], "payload": up}, kind="str")
        counts = np.bincount(codes, minlength=len(uoff) - 1).astype(np.int64)
        values = _bytes_to_arrow(ubuf, uoff, t, None)
        keep = counts > 0
        if not keep.all():
            values = values.filter(pa.array(keep))
            counts = counts[keep]
    elif codec == "int_rle":
        sv, sl = _split_sections(params, dense)
        runs_v = decode_int_for({**params["values"], "payload": sv})
        runs_l = decode_int_for({**params["lengths"], "payload": sl})
        uv, inv = np.unique(runs_v, return_inverse=True)
        counts = np.bincount(inv, weights=runs_l).astype(np.int64)
        values = pa.array(uv, type=pa.int64())
        if pa.types.is_timestamp(t):
            values = values.cast(t)
        elif values.type != t:
            values = values.cast(t)
    else:
        arr = decode_column({"codec": codec, "params": params, "payload": payload})
        dense_arr = arr.drop_null() if arr.null_count else arr
        vc = pc.value_counts(dense_arr)
        values = vc.field("values")
        counts = vc.field("counts").to_numpy(zero_copy_only=False).astype(np.int64)
        n_null = arr.null_count  # decode path re-derives nulls itself
    if n_null:
        values = pa.concat_arrays([values.cast(t), pa.nulls(1, t)])
        counts = np.concatenate([counts, [n_null]])
    return values.cast(t), counts


def _file_zones(path: str, columns) -> dict:
    """``{(pid, chunk_id): {column: (n_rows, zmin, zmax, has_nulls)}}`` of
    one chunk file's rows for ``columns``, from its metadata columns and
    params (the key ``"n_total"`` is written only when a chunk has nulls);
    no payload read."""
    m = file_meta(path).columns(("params",))
    zones: dict = {}
    for pid, cid, col, n, lo, hi, pj in zip(
            m["pid"], m["chunk_id"], m["column"], m["n_rows"],
            m["zmin_long"], m["zmax_long"], m["params"]):
        if col in columns:
            zones.setdefault((pid, cid), {})[col] = (n, lo, hi, '"n_total"' in pj)
    return zones


def _chunk_key_codes(kenc: dict, kt: pa.DataType,
                     karr: pa.Array | None) -> tuple[np.ndarray, pa.Array, int]:
    """Per-row int64 group codes for one chunk's key column -> (codes with
    K meaning null, dictionary values, K). Dict-coded null-free key chunks
    use their stored CODE array directly — the expanded key strings are
    never materialized; everything else decodes then dictionary-encodes."""
    if karr is None and kenc["codec"] == "str_dict" and "n_total" not in kenc["params"]:
        p = kenc["params"]
        cp, up = _split_sections(p, kenc["payload"])
        codes = decode_bytes_like({**p["codes"], "payload": cp}, kind="int").astype(np.int64)
        ubuf, uoff = decode_bytes_like({**p["values"], "payload": up}, kind="str")
        return codes, _bytes_to_arrow(ubuf, uoff, kt, None), len(uoff) - 1
    return _group_codes(karr if karr is not None else decode_column(kenc))


def _group_partial(kenc: dict, kt: pa.DataType, mask: np.ndarray | None,
                   karr: pa.Array | None = None, varr: pa.Array | None = None,
                   int_sum: bool | None = None,
                   dmask=None, key=None) -> pa.RecordBatch:
    """One chunk -> per-key partial rows (value, cnt[, sum_val]) under an
    optional row mask, less chunk ``key``'s tombstones in ``dmask``
    (:func:`decode.keep_rows`). Dict-coded null-free key chunks group on
    the CODE array — the expanded key strings are never materialized."""
    codes, dictv, k = _chunk_key_codes(kenc, kt, karr)
    if dmask is not None:
        mask = keep_rows(mask, len(codes), dmask, key)
    mcodes = codes if mask is None else codes[mask]
    cnt = np.bincount(mcodes, minlength=k + 1).astype(np.int64)
    values = pa.concat_arrays([dictv.cast(kt), pa.nulls(1, kt)])
    keep = cnt > 0
    arrays = [values.filter(pa.array(keep)), pa.array(cnt[keep], type=pa.int64())]
    names = ["value", "cnt"]
    if varr is not None:
        valid = pc.is_valid(varr).to_numpy(zero_copy_only=False).astype(bool)
        if mask is not None:
            valid &= mask
        vnp = varr.fill_null(0).to_numpy(zero_copy_only=False)
        acc = np.zeros(k + 1, dtype=np.int64 if int_sum else np.float64)
        np.add.at(acc, codes[valid],
                  vnp[valid].astype(np.int64 if int_sum else np.float64))
        arrays.append(pa.array(acc[keep], type=pa.int64() if int_sum else pa.float64()))
        names.append("sum_val")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def _group_agg(spark, out_dir: str, key_col: str, val_col: str | None,
               filters: list[tuple]) -> DataFrame:
    """Shared path of the filtered encoded_group_count and of
    encoded_group_sum: zone/dict/bloom pruning drops definite-miss chunks
    before any payload read, file tasks read the surviving chunks whole,
    the exact row mask and the per-key partials happen chunk-locally, and
    the one shuffle is NDV-scale."""
    types = column_arrow_types(out_dir)
    needed = [key_col] + ([val_col] if val_col and val_col != key_col else [])
    needed += [c for c in dict.fromkeys(f[0] for f in filters)
               if c not in needed]
    for c in needed:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    kt = parse_arrow_type(types[key_col])
    int_sum = val_col is not None and types[val_col] in _INT_LIKE
    if val_col is not None and not int_sum and types[val_col] not in ("float", "double"):
        raise ValueError(f"sum column must be int or float, got {types[val_col]}")

    where = RowFilter(types, filters)

    def partials(chunks, dmask) -> Iterator[pa.RecordBatch]:
        for key, cols in chunks:
            decoded = DecodedChunk(cols)
            mask = where(decoded)
            if mask is not None and not mask.any():
                continue
            yield _group_partial(
                cols[key_col], kt, mask, karr=decoded.get(key_col),
                varr=decoded[val_col] if val_col else None,
                int_sum=int_sum, dmask=dmask, key=key)

    ddl = f"value {_spark_type(types[key_col])}, cnt bigint"
    aggs = [F.sum("cnt").alias("cnt")]
    if val_col is not None:
        ddl += f", sum_val {'bigint' if int_sum else 'double'}"
        aggs.append(F.sum("sum_val").alias("sum_val"))
    return (chunk_job(spark, out_dir, needed, partials, ddl,
                      filters=filters, types=types)
            .groupBy("value").agg(*aggs))


def encoded_group_count(spark, out_dir: str, column: str,
                        filters: list[tuple] | None = None) -> DataFrame:
    """``SELECT column AS value, count(*) AS cnt GROUP BY column`` over an
    encoded store, decoding only codec structure (dict codes +
    dictionary, RLE runs) wherever the codec allows.

    Scan tasks emit per-chunk (value, cnt) partials — the shuffle moves
    NDV-scale rows, never row-scale data.

    ``filters=[(col, op, value), ...]`` adds a conjunctive WHERE: zone maps
    and dict dictionaries prune definite-miss chunks before any payload
    read, the exact row mask applies chunk-locally, and the shuffle stays
    NDV-scale — ``SELECT col, count(*) WHERE ... GROUP BY col`` without
    ever materializing the table.

    Delete-aware: chunks carrying row tombstones group on their code
    array minus the tombstoned positions (per-task pushed-pid reads of
    the deletes parquet); tombstone-free chunks keep the pure
    codec-structural fast path."""
    if filters:
        return _group_agg(spark, out_dir, column, None, filters)
    types = column_arrow_types(out_dir, [column])
    arrow_name = types[column]
    t = parse_arrow_type(arrow_name)
    out_schema = pa.schema([("value", t), ("cnt", pa.int64())])

    def partials(chunks, dmask) -> Iterator[pa.RecordBatch]:
        for key, cols in chunks:
            enc = cols[column]
            if dmask is None or dmask.positions(*key) is None:
                # tombstone-free chunk: codec-structural counts (dict
                # codes bincount / RLE run pairs), no row expansion
                values, counts = _chunk_value_counts(
                    enc["codec"], enc["params"], enc["payload"], t)
                yield pa.RecordBatch.from_arrays(
                    [values, pa.array(counts, type=pa.int64())],
                    schema=out_schema)
            else:
                # tombstoned chunk: per-position mask needed — group
                # on the (dict-fast-path) code array minus tombstones
                yield _group_partial(enc, t, None, dmask=dmask, key=key)

    return (chunk_job(spark, out_dir, [column], partials,
                      f"value {_spark_type(arrow_name)}, cnt bigint")
            .groupBy("value").agg(F.sum("cnt").alias("cnt")))


def _group_codes(karr: pa.Array) -> tuple[np.ndarray, pa.Array, int]:
    """Dictionary-encode a decoded key array -> (dense int codes with K
    meaning null, dictionary values, K)."""
    denc = pc.dictionary_encode(karr)
    k = len(denc.dictionary)
    codes = denc.indices.fill_null(k).to_numpy(zero_copy_only=False).astype(np.int64)
    return codes, denc.dictionary, k


def encoded_group_sum(spark, out_dir: str, key_col: str, val_col: str,
                      filters: list[tuple] | None = None) -> DataFrame:
    """``SELECT key, count(*) AS cnt, sum(val) AS sum_val GROUP BY key``
    over an encoded store. ``val_col`` must be an integer or float
    column; sums over ints stay in exact int64 (no float bincount
    weights). Null keys form their own group; null values count toward
    ``cnt`` but not ``sum_val`` (SQL semantics). ``filters`` adds a
    conjunctive WHERE with zone/dict chunk pruning (see
    ``encoded_group_count``).

    Both column rows of a chunk are written into the same chunk file by
    every encode job, so each scan task sees complete chunks; partial
    aggregation happens chunk-locally and the shuffle is NDV-scale. A
    dict-coded key column uses its code array directly — the expanded
    key strings are never materialized. Delete-aware: tombstoned
    positions drop out of both cnt and sum_val chunk-locally."""
    return _group_agg(spark, out_dir, key_col, val_col, list(filters or []))


def encoded_count_filtered(spark, out_dir: str,
                           filters: list[tuple],
                           any_filters: list[tuple] | None = None) -> DataFrame:
    """``SELECT count(*) WHERE <conjunction>`` answered tri-state from the
    encoded store: chunks whose zone maps prove NO row matches are pruned
    (no payload read), chunks whose zone maps prove EVERY row matches
    contribute their metadata ``n_rows`` (no payload read — a chunk with
    nulls in a filter column never qualifies, detected from its params
    without decoding), and only BOUNDARY chunks decode — and then only the
    filter columns. On a store clustered by the filter column a range
    count touches O(1) boundary chunks regardless of table size.

    Returns one row: ``n_rows`` plus observability counts
    (chunks_total/pruned/metadata_only/decoded).

    The planner prunes on zones alone (its counts give ``chunks_total``
    and ``chunks_pruned``); each file task classifies its surviving chunks
    from the file's own metadata and reads payloads only when a boundary
    chunk is left.

    Delete-aware (the one fast path that stays exact under row
    tombstones): full-match chunks subtract their per-chunk tombstone
    count (the task's tombstone cache — still no payload read), boundary
    chunks subtract tombstoned-AND-matching positions in-task. Pruned
    chunks need no correction — zero rows match, deleted or not.

    ``any_filters`` adds one OR clause — the count of ``AND(filters) AND
    OR(any_filters)``, CNF like ``decode_filtered``. Tri-state logic per
    chunk: PRUNED when the conjunction prunes or EVERY branch's zones
    prune; METADATA-ONLY when the conjunction full-matches and SOME
    branch full-matches every row (a sound under-approximation — a chunk
    that satisfies the OR only as a mixture of branches is conservatively
    demoted to the decode path, which is exact); BOUNDARY otherwise."""
    flt = list(filters)
    any_flt = list(any_filters or [])
    if not flt and not any_flt:
        raise ValueError("encoded_count_filtered needs filters=[(col, op, "
                         "value), ...] and/or any_filters=[...]")
    types = column_arrow_types(out_dir)
    where = RowFilter(types, flt, any_flt)
    fcols = where.columns
    plan = plan_chunks(out_dir, fcols, flt, any_flt, dict_prune=False,
                       types=types)
    conj = [(c, zone_all(types[c], op, v)) for c, op, v in flt]
    disj = [(c, zone_all(types[c], op, v)) for c, op, v in any_flt]
    deletes_on = has_deletes(out_dir)

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dmask = DeleteMask(out_dir) if deletes_on else None
        for path, keys in task_files(batches):
            zones = _file_zones(path, fcols)
            n = n_meta = 0
            boundary = []
            for key in map(tuple, keys):
                z = zones[key]
                if (all(_proves_all(z, c, t) for c, t in conj)
                        and (not disj
                             or any(_proves_all(z, c, t) for c, t in disj))):
                    n_meta += 1
                    n_rows = next(iter(z.values()))[0]
                    pos = dmask.positions(*key) if dmask is not None else None
                    n += n_rows - (0 if pos is None else len(pos))
                else:
                    boundary.append(key)
            for key, cols in read_chunks(path, boundary, fcols):
                mask = where(DecodedChunk(cols))
                n += int(keep_rows(mask, len(mask), dmask, key).sum())
            yield pa.RecordBatch.from_pydict(
                {"n": [n], "meta": [n_meta], "dec": [len(boundary)]})

    def total(col):  # 0, not NULL, when every chunk is pruned
        return F.coalesce(F.sum(col), F.lit(0))

    counts = plan.counts
    part = file_tasks_df(spark, [(fp.path, fp.keys) for fp in plan.files]) \
        .mapInArrow(task, "n bigint, meta bigint, dec bigint")
    return part.agg(
        total("n").alias("n_rows"),
        F.lit(counts["chunks_total"]).cast("bigint").alias("chunks_total"),
        F.lit(counts["chunks_total"] - counts["chunks_kept"]).cast("bigint")
        .alias("chunks_pruned"),
        total("meta").alias("chunks_metadata_only"),
        total("dec").alias("chunks_decoded"))


def _proves_all(zones: dict, col: str, test) -> bool:
    """Do a chunk's zone rows (``_file_zones``) prove that every row of
    ``col`` passes the ``zone_all`` test? A column with nulls never does."""
    z = zones.get(col)
    return z is not None and not z[3] and test(z[1], z[2])


def encoded_group_strlen(spark, out_dir: str, key_col: str, str_col: str,
                         filters: list[tuple] | None = None) -> DataFrame:
    """``SELECT key, count(*) AS n_rows, count(str) AS n_values,
    sum(octet_length(str)) AS sum_bytes, avg/min/max(octet_length(str))
    GROUP BY key`` over an encoded store — the string column is NEVER
    decoded.

    Per-group size accounting is the first thing a crawl-budget or
    token-budget pipeline asks of a web corpus ("bytes of text per
    language / per host"), and it needs only the DECODED LENGTH of each
    value: ``kernel.codecs.decoded_strlens`` recovers per-row byte lengths
    from codec structure alone (str_fsst runs the decoder's parse phase
    and skips the byte-scatter passes and the Arrow string build; dict /
    front / plain read their stored length streams). The key column keeps
    the dict-code fast path of :func:`encoded_group_count`. Each chunk
    reduces to NDV-scale partial rows in the scan task, so the one shuffle
    is NDV-scale — at 10^12 documents a ``GROUP BY lang`` over text bytes
    ships a few dozen ints per chunk.

    SQL semantics throughout: null keys form their own group; null string
    values count toward ``n_rows`` but not ``n_values``; ``sum/avg/min/max``
    are NULL for a group with no non-null values. ``filters`` adds a
    conjunctive WHERE with the shared zone/dict/bloom chunk pruning.
    Delete-aware: tombstoned positions drop out of every aggregate
    chunk-locally."""
    types = column_arrow_types(out_dir)
    for c in (key_col, str_col):
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    if types[str_col] not in _STRINGY:
        raise ValueError(
            f"octet_length stats are for string/binary columns; "
            f"column {str_col!r} is {types[str_col]}")
    from ..kernel.codecs import decoded_strlens

    def strlen_values(cols, decoded, n):
        lens, vmask = decoded_strlens(cols[str_col])
        valid = np.ones(n, dtype=bool) if vmask is None else vmask
        full = np.zeros(n, dtype=np.int64)
        full[valid] = lens
        return full, valid

    return _group_value_stats(spark, out_dir, key_col, str_col,
                              list(filters or []), types, strlen_values,
                              suffix="bytes")


def _group_value_stats(spark, out_dir: str, key_col: str, val_col: str,
                       flt: list[tuple], types: dict, value_fn,
                       suffix: str) -> DataFrame:
    """Shared engine of ``encoded_group_strlen``/``encoded_group_stats``:
    per-chunk (key-code × int64 value) reduction to NDV-scale partial rows
    ``(value, n_rows, n_values, sum, min, max)``, then one NDV-scale
    shuffle. ``value_fn(cols, decoded, n) -> (int64[n], valid bool[n])``
    supplies the per-row values (decoded lengths, decoded ints, ...)."""
    kt = parse_arrow_type(types[key_col])
    where = RowFilter(types, flt)
    needed = list(dict.fromkeys([key_col, val_col, *where.columns]))

    def partials(chunks, dmask) -> Iterator[pa.RecordBatch]:
        for key, cols in chunks:
            decoded = DecodedChunk(cols)
            mask = where(decoded)
            if mask is not None and not mask.any():
                continue
            codes, dictv, k = _chunk_key_codes(
                cols[key_col], kt, decoded.get(key_col))
            n = len(codes)
            full, valid = value_fn(cols, decoded, n)
            keep = keep_rows(mask, n, dmask, key)
            if not keep.any():
                continue
            sel = keep & valid
            n_rows = np.bincount(codes[keep], minlength=k + 1).astype(np.int64)
            n_vals = np.bincount(codes[sel], minlength=k + 1).astype(np.int64)
            s = np.zeros(k + 1, dtype=np.int64)
            np.add.at(s, codes[sel], full[sel])
            mn = np.full(k + 1, np.iinfo(np.int64).max, dtype=np.int64)
            mx = np.full(k + 1, np.iinfo(np.int64).min, dtype=np.int64)
            np.minimum.at(mn, codes[sel], full[sel])
            np.maximum.at(mx, codes[sel], full[sel])
            present = n_rows > 0
            has_v = n_vals > 0
            values = pa.concat_arrays([dictv.cast(kt), pa.nulls(1, kt)])
            yield pa.RecordBatch.from_arrays(
                [values.filter(pa.array(present)),
                 pa.array(n_rows[present], type=pa.int64()),
                 pa.array(n_vals[present], type=pa.int64()),
                 pa.array(s[present], type=pa.int64()),
                 pa.array([int(v) if h else None
                           for v, h in zip(mn[present], has_v[present])],
                          type=pa.int64()),
                 pa.array([int(v) if h else None
                           for v, h in zip(mx[present], has_v[present])],
                          type=pa.int64())],
                names=["value", "n_rows", "n_values", "s", "mn", "mx"])

    ddl = (f"value {_spark_type(types[key_col])}, n_rows bigint, "
           "n_values bigint, s bigint, mn bigint, mx bigint")
    part = chunk_job(spark, out_dir, needed, partials, ddl, filters=flt,
                     types=types)
    agg = part.groupBy("value").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_values").alias("n_values"),
        F.sum("s").alias("_s"),
        F.min("mn").alias(f"min_{suffix}"),
        F.max("mx").alias(f"max_{suffix}"))
    nv = F.col("n_values")
    return agg.select(
        "value", "n_rows", "n_values",
        F.when(nv > 0, F.col("_s")).alias(f"sum_{suffix}"),
        F.when(nv > 0, F.col("_s") / nv).alias(f"avg_{suffix}"),
        f"min_{suffix}", f"max_{suffix}")


def encoded_group_stats(spark, out_dir: str, key_col: str, val_col: str,
                        filters: list[tuple] | None = None) -> DataFrame:
    """``SELECT key, count(*), count(val), sum(val), avg(val), min(val),
    max(val) GROUP BY key`` over an encoded store — the complete per-group
    aggregate set for an int column in one chunk-local pass.

    Same engine as :func:`encoded_group_strlen` (dict-code key grouping,
    NDV-scale partials, one NDV-scale shuffle, exact int64 accumulation,
    SQL null semantics, delete-aware, ``filters`` WHERE with zone/dict/
    bloom pruning) with the values read by a plain int decode — cheap:
    int chunks decode with a handful of numpy passes and no string build.
    Restricted to int columns so min/max/sum have exact integer semantics
    DuckDB and Spark agree on (floats would drag NaN-ordering differences
    into min/max; use a full decode for those)."""
    types = column_arrow_types(out_dir)
    for c in (key_col, val_col):
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    if types[val_col] not in _INT_LIKE:
        raise ValueError(
            f"encoded_group_stats needs an int value column; {val_col!r} "
            f"is {types[val_col]}")

    def int_values(cols, decoded, n):
        arr = decoded[val_col]
        valid = pc.is_valid(arr).to_numpy(zero_copy_only=False).astype(bool)
        full = (arr.cast(pa.int64()).fill_null(0)
                .to_numpy(zero_copy_only=False).astype(np.int64))
        return full, valid

    return _group_value_stats(spark, out_dir, key_col, val_col,
                              list(filters or []), types, int_values,
                              suffix="val")


def _group_distinct_pairs(spark, out_dir: str, key_col: str, val_col: str,
                          filters: list[tuple] | None = None) -> DataFrame:
    """(value, val) frame of per-chunk DISTINCT key/value pairs plus one
    key-presence row (val NULL) per key per chunk — the shared partial for
    the exact-distinct group aggregates (`encoded_group_ndv`,
    `encoded_group_minmax`).

    Each scan task reduces a chunk to its DISTINCT (key, value) pairs
    before anything shuffles: both columns go through the dict-code fast
    path when available (a dict-coded chunk contributes at most
    |key dict| x |val dict| pairs and usually far fewer), others decode
    chunk-locally then unique. The shuffle therefore carries per-chunk
    distinct pairs — for a ``GROUP BY lang`` over 10^12 rows that is a
    few dozen pairs per chunk; for a genuinely high-NDV value column
    (urls) it honestly degrades toward row scale, which is what EXACT
    distinct costs on any engine.

    SQL semantics downstream: null keys form their own group; null values
    appear only as key-presence rows (ndv ignores them, min/max skip
    them). ``filters`` adds a conjunctive WHERE with zone/dict/bloom
    chunk pruning; delete tombstones drop chunk-locally."""
    types = column_arrow_types(out_dir)
    for c in (key_col, val_col):
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    kt = parse_arrow_type(types[key_col])
    vt = parse_arrow_type(types[val_col])
    flt = list(filters or [])
    where = RowFilter(types, flt)
    needed = list(dict.fromkeys([key_col, val_col, *where.columns]))

    def partials(chunks, dmask) -> Iterator[pa.RecordBatch]:
        for key, cols in chunks:
            decoded = DecodedChunk(cols)
            mask = where(decoded)
            if mask is not None and not mask.any():
                continue
            kcodes, kdict, k = _chunk_key_codes(
                cols[key_col], kt, decoded.get(key_col))
            if val_col == key_col:
                vcodes, vdict, kv = kcodes, kdict, k
            else:
                vcodes, vdict, kv = _chunk_key_codes(
                    cols[val_col], vt, decoded.get(val_col))
            keep = keep_rows(mask, len(kcodes), dmask, key)
            if not keep.any():
                continue
            kvals = pa.concat_arrays([kdict.cast(kt), pa.nulls(1, kt)])
            # distinct (key, value) code pairs of this chunk, then expand
            # codes back to values — pairs only, never the row stream;
            # null values never count toward ndv
            sel = keep & (vcodes < kv)
            pair = kcodes[sel] * np.int64(kv) + vcodes[sel]
            upair = np.unique(pair)
            uk = (upair // kv).astype(np.int64)
            uv = (upair % kv).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [kvals.take(pa.array(uk, type=pa.int64())),
                 vdict.cast(vt).take(pa.array(uv, type=pa.int64()))],
                names=["value", "val"])
            # key-presence rows: a group whose values are all null must
            # still appear (with ndv = 0) — countDistinct ignores null val
            yield pa.RecordBatch.from_arrays(
                [kvals.take(pa.array(np.unique(kcodes[keep]), type=pa.int64())),
                 pa.nulls(int(len(np.unique(kcodes[keep]))), vt)],
                names=["value", "val"])

    ddl = (f"value {_spark_type(types[key_col])}, "
           f"val {_spark_type(types[val_col])}")
    return chunk_job(spark, out_dir, needed, partials, ddl, filters=flt,
                     types=types)


def encoded_group_ndv(spark, out_dir: str, key_col: str, val_col: str,
                      filters: list[tuple] | None = None) -> DataFrame:
    """Exact ``SELECT key, count(DISTINCT val) AS ndv GROUP BY key`` over
    an encoded store: the shared distinct-pair partials
    (:func:`_group_distinct_pairs` — dict fast path both sides, NDV-scale
    shuffle) finished by Spark's built-in two-phase distinct aggregate.
    A group with only null values reports ndv 0 (countDistinct ignores
    the key-presence NULL rows)."""
    pairs = _group_distinct_pairs(spark, out_dir, key_col, val_col, filters)
    return pairs.groupBy("value").agg(F.count_distinct("val").alias("ndv"))


def encoded_group_minmax(spark, out_dir: str, key_col: str, val_col: str,
                         filters: list[tuple] | None = None) -> DataFrame:
    """Exact ``SELECT key, min(val), max(val) GROUP BY key`` for ANY value
    column type (the string/binary sibling of ``encoded_group_stats``'s
    int-only min/max): min/max over the shared distinct-pair partials —
    a chunk's distinct values bound its min/max, so the shuffle stays
    pair-scale. SQL semantics: min/max ignore nulls; an all-null group
    survives via its key-presence row with NULL min/max."""
    pairs = _group_distinct_pairs(spark, out_dir, key_col, val_col, filters)
    return pairs.groupBy("value").agg(F.min("val").alias("min_val"),
                                      F.max("val").alias("max_val"))


def encoded_group_topk(spark, out_dir: str, key_col: str, val_col: str,
                       k: int = 10,
                       filters: list[tuple] | None = None) -> DataFrame:
    """Per-group heavy hitters over an encoded store: the top ``k`` most
    frequent ``val_col`` values within each ``key_col`` group (e.g. top
    hosts per language over a 10^12-row crawl), without decoding rows
    wherever the codecs allow.

    Scan tasks reduce each chunk to DISTINCT (key, value) code pairs WITH
    COUNTS before anything shuffles (dict-code fast path via
    ``_chunk_key_codes``): the shuffle carries per-chunk pair partials —
    dictionary-scale, never row-scale. Spark then sums partials per
    (key, value) and takes ``row_number() <= k`` per key ordered by
    (cnt DESC, val ASC) — the deterministic tie rule, so results are
    reproducible and oracle-comparable.

    SQL semantics: null keys form their own group; null values are not
    ranked (count(val) semantics). ``filters`` adds a conjunctive WHERE
    with zone/dict/bloom chunk pruning; tombstoned rows drop chunk-locally.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be a positive int")
    types = column_arrow_types(out_dir)
    for c in (key_col, val_col):
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    kt = parse_arrow_type(types[key_col])
    vt = parse_arrow_type(types[val_col])
    flt = list(filters or [])
    where = RowFilter(types, flt)
    needed = list(dict.fromkeys([key_col, val_col, *where.columns]))

    def partials(chunks, dmask) -> Iterator[pa.RecordBatch]:
        for key, cols in chunks:
            decoded = DecodedChunk(cols)
            mask = where(decoded)
            if mask is not None and not mask.any():
                continue
            kcodes, kdict, kk = _chunk_key_codes(
                cols[key_col], kt, decoded.get(key_col))
            if val_col == key_col:
                vcodes, vdict, kv = kcodes, kdict, kk
            else:
                vcodes, vdict, kv = _chunk_key_codes(
                    cols[val_col], vt, decoded.get(val_col))
            keep = keep_rows(mask, len(kcodes), dmask, key)
            sel = keep & (vcodes < kv)  # null values are not ranked
            if not sel.any():
                continue
            pair = kcodes[sel] * np.int64(kv) + vcodes[sel]
            upair, counts = np.unique(pair, return_counts=True)
            uk = (upair // kv).astype(np.int64)
            uv = (upair % kv).astype(np.int64)
            kvals = pa.concat_arrays([kdict.cast(kt), pa.nulls(1, kt)])
            yield pa.RecordBatch.from_arrays(
                [kvals.take(pa.array(uk, type=pa.int64())),
                 vdict.cast(vt).take(pa.array(uv, type=pa.int64())),
                 pa.array(counts.astype(np.int64), type=pa.int64())],
                names=["value", "val", "cnt"])

    ddl = (f"value {_spark_type(types[key_col])}, "
           f"val {_spark_type(types[val_col])}, cnt bigint")
    partial = chunk_job(spark, out_dir, needed, partials, ddl, filters=flt,
                         types=types)
    totals = partial.groupBy("value", "val").agg(F.sum("cnt").alias("cnt"))

    def local_prune(pdfs):
        # per-partition combiner ahead of the global rank window: a row
        # can only final-rank <= k if, within its partition and key, fewer
        # than k rows have a strictly higher count — so dropping rows
        # below the in-partition k-th count is exact regardless of tie
        # order, and the window's per-key fan-in is capped at
        # ~k x shuffle-partitions instead of the key's full value-NDV.
        for pdf in pdfs:
            if len(pdf) <= k:
                yield pdf
                continue
            thr = pdf.groupby("value", dropna=False)["cnt"].transform(
                lambda s: s.nlargest(min(k, len(s))).min())
            yield pdf[pdf["cnt"] >= thr]

    totals = totals.mapInPandas(local_prune, ddl)
    w = Window.partitionBy("value").orderBy(F.desc("cnt"), F.asc("val"))
    return (totals.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def encoded_histogram(spark, out_dir: str, column: str, bucket_width: int,
                      filters: list[tuple] | None = None,
                      any_filters: list[tuple] | None = None) -> DataFrame:
    """Exact equi-width histogram ``SELECT floor(col / w) AS bucket,
    count(*) AS cnt GROUP BY bucket`` over an int column of an encoded
    store, answered tri-state from zone metadata wherever possible.

    A null-free chunk whose exact zone bounds satisfy
    ``zmin // w == zmax // w`` lies ENTIRELY inside one bucket — it
    contributes ``(bucket, n_rows)`` from metadata with no payload read.
    Only bucket-straddling (or null-carrying) chunks decode, and then only
    this column. On a store clustered by ``column`` almost every chunk is
    single-bucket, so a 100 TB histogram reads a handful of boundary
    payloads — the same shape as ``encoded_count_filtered`` but for the
    whole distribution at once.

    SQL semantics: the null bucket appears as a NULL row (GROUP BY groups
    nulls); floor division rounds toward -inf (matches SQL
    ``floor(x / w)`` for positive ``w``). Delete-aware: a full-bucket
    chunk subtracts its tombstone count from metadata (every tombstoned
    row was in that same bucket); decoded chunks mask positions. With
    ``filters`` (and/or the OR clause ``any_filters``, CNF like
    ``decode_filtered``) the metadata arm is skipped (every surviving
    chunk decodes — the predicates need exact row masks anyway), but
    zone/dict/bloom CHUNK pruning still applies per branch."""
    if bucket_width <= 0:
        raise ValueError("bucket_width must be a positive int")
    types = column_arrow_types(out_dir)
    if column not in types:
        raise KeyError(f"column {column!r} not in encoded data")
    if (types[column] not in _INT_LIKE
            and not types[column].startswith("timestamp[")):
        raise ValueError(
            f"encoded_histogram needs an int or timestamp column; "
            f"{column!r} is {types[column]} (use encoded_group_count for "
            "categoricals)")
    # timestamps bucket over their storage-unit ticks (timestamp[us] with
    # w=3_600_000_000 = hourly crawl counts) — zones already store ticks
    flt = list(filters or [])
    any_flt = list(any_filters or [])
    where = RowFilter(types, flt, any_flt)
    needed = list(dict.fromkeys([column, *where.columns]))
    files = planned_files(out_dir, needed, flt, any_flt, types=types)
    meta_arm = not flt and not any_flt
    deletes_on = has_deletes(out_dir)
    w = int(bucket_width)

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        dmask = DeleteMask(out_dir) if deletes_on else None
        for path, keys in task_files(batches):
            if meta_arm:
                # single-bucket chunks answer from metadata; the rest decode
                keys, out_b, out_c = [], [], []
                for key, z in _file_zones(path, [column]).items():
                    n, lo, hi, has_nulls = z[column]
                    if lo is None or has_nulls or lo // w != hi // w:
                        keys.append(key)
                        continue
                    pos = dmask.positions(*key) if dmask is not None else None
                    out_b.append(lo // w)
                    out_c.append(n - (0 if pos is None else len(pos)))
                if out_b:
                    yield pa.RecordBatch.from_pydict(
                        {"bucket": out_b, "cnt": out_c}, schema=_HIST_SCHEMA)
            for key, cols in read_chunks(path, keys, needed):
                decoded = DecodedChunk(cols)
                mask = where(decoded)
                arr = decoded[column]
                keep = keep_rows(mask, len(arr), dmask, key)
                if not keep.any():
                    continue
                valid = pc.is_valid(arr).to_numpy(zero_copy_only=False).astype(bool)
                vals = arr.cast(pa.int64()).fill_null(0).to_numpy(zero_copy_only=False)
                sel = keep & valid
                buckets = np.floor_divide(vals[sel], np.int64(w))
                ub, cnts = np.unique(buckets, return_counts=True)
                out_b = [int(b) for b in ub]
                out_c = [int(c) for c in cnts]
                n_null = int((keep & ~valid).sum())
                if n_null:
                    out_b.append(None)
                    out_c.append(n_null)
                yield pa.RecordBatch.from_pydict(
                    {"bucket": out_b, "cnt": out_c}, schema=_HIST_SCHEMA)

    return (file_tasks_df(spark, files)
            .mapInArrow(task, "bucket bigint, cnt bigint")
            .groupBy("bucket").agg(F.sum("cnt").alias("cnt")))


_HIST_SCHEMA = pa.schema([("bucket", pa.int64()), ("cnt", pa.int64())])
