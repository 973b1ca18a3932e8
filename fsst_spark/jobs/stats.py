"""Stats-only queries answered from encode-time metadata — no payload
reads, no decode — plus exact min/max for string/float columns by decoding
ONLY the zone-boundary chunks.

The chunk table stores exact per-chunk min/max for integer and timestamp
columns (``encode._zone_bounds``) and per-chunk row counts; min/max/count
over the whole store is therefore a pure metadata aggregation over the
narrow (column, n_rows, zmin, zmax) projection — the parquet scan never
touches a payload byte. At 100 TB this answers ``SELECT count(*),
min(c), max(c)`` in seconds from footers instead of a full decode — the
standard lakehouse stats-pushdown shape, here against our own chunk
format.
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from .decode import (_chunks_df, _spark_type, column_arrow_types,
                     deterministic_sample)
from .deletes import require_no_deletes as _require_no_deletes

_EXACT_ZONE_TYPES = ("int8", "int16", "int32", "int64")


def encoded_column_stats(spark, out_dir: str, columns: list[str]) -> DataFrame:
    """(column, n_rows, n_nonnull_min... ) -> one row per requested column
    with exact ``n_rows``, ``min_long`` and ``max_long`` recovered from
    chunk metadata only.

    Supported for integer and timestamp columns (their zones are exact
    value bounds; timestamps report in storage-unit ticks). String prefix
    zones and float total-order keys are conservative/encoded bounds, not
    exact values — asking for such a column raises rather than returning
    a lookalike number. All-null chunks carry null zones and are excluded
    from min/max (they contribute no values), matching SQL min/max
    semantics; a store written before zone maps existed has no zone
    columns at all and also raises."""
    _require_no_deletes(out_dir, 'encoded_column_stats')
    types = column_arrow_types(spark, out_dir)
    for c in columns:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
        t = types[c]
        if t not in _EXACT_ZONE_TYPES and not t.startswith("timestamp["):
            raise ValueError(
                f"exact metadata stats need int/timestamp zones; column {c!r} "
                f"is {t} (string/float zones are conservative bounds only)")
    chunks = _chunks_df(spark, out_dir, list(columns))
    # column-presence check BEFORE the projection: selecting a missing
    # column raises AnalysisException first, making a post-select guard dead
    if "zmin_long" not in chunks.columns:
        raise ValueError("store has no zone maps (pre-zone encode)")
    chunks = chunks.select("column", "n_rows", "zmin_long", "zmax_long")
    return (
        chunks.groupBy("column")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.min("zmin_long").alias("min_long"),
            F.max("zmax_long").alias("max_long"),
        )
        .orderBy("column")
    )


def encoded_column_minmax(spark, out_dir: str, column: str) -> dict:
    """EXACT min/max of any zoned column (string/binary/float/int/ts) from
    an encoded store, decoding only the zone-BOUNDARY chunks.

    String prefix zones and float total-order keys are conservative, but
    they still locate the extremes: the store's minimum value lives in a
    chunk whose ``zmin_long`` equals the global minimum zone key (its
    packed prefix IS that chunk's zmin), and symmetrically for the max. So:
    a driver-side read of the chunk metadata (the planner's,
    :mod:`jobs.plan`) finds the extreme keys, the chunks achieving them
    become candidates (ties on the 8-byte prefix keep several — a
    constant-prefix column keeps all, correct but unselective; cluster by a
    selective key to bound it), and ONE file-granular Spark job decodes
    only those candidates, reducing each to a per-chunk min/max that the
    driver folds. On a clustered 100 TB store ``min(url)`` /
    ``max(price)`` reads ~2 chunks instead of everything.

    Returns ``{"min", "max", "n_rows", "n_chunks_total",
    "n_chunks_decoded"}`` (min/max are Python scalars; None when the
    column is all null). Float min/max follow Spark/DuckDB NaN ordering
    (NaN greatest; min/max never return NaN unless every value is NaN).
    """
    from .plan import chunk_files, file_tasks_df, read_file_meta, task_chunks

    _require_no_deletes(out_dir, 'encoded_column_minmax')
    types = column_arrow_types(spark, out_dir)
    if column not in types:
        raise KeyError(f"column {column!r} not in encoded data")
    arrow_name = types[column]
    rows = []  # (path, key, zmin, zmax, n_rows) of the column's chunks
    for _, path in chunk_files(out_dir):
        pf, m = read_file_meta(path)
        if "zmin_long" not in pf.schema_arrow.names:
            raise ValueError("store has no zone maps (pre-zone encode)")
        rows += [(path, (p, c), lo, hi, n) for p, c, col, lo, hi, n in zip(
            m["pid"], m["chunk_id"], m["column"], m["zmin_long"],
            m["zmax_long"], m["n_rows"]) if col == column]
    out = {"n_rows": sum(r[4] for r in rows), "n_chunks_total": len(rows),
           "n_chunks_decoded": 0, "min": None, "max": None}
    zmins = [r[2] for r in rows if r[2] is not None]
    if not zmins:  # every chunk all-null
        return out
    gmin, gmax = min(zmins), max(r[3] for r in rows if r[3] is not None)
    if arrow_name in _EXACT_ZONE_TYPES or arrow_name.startswith("timestamp["):
        # int/timestamp zones ARE the exact bounds (ts in storage ticks)
        out["min"], out["max"] = gmin, gmax
        return out
    # boundary candidates: chunks whose zone touches a global extreme
    cand: dict[str, list] = {}
    for path, key, lo, hi, _ in rows:
        if lo == gmin or hi == gmax:
            cand.setdefault(path, []).append(key)
    spark_t = _spark_type(arrow_name)
    is_float = arrow_name in ("float", "double")
    out_schema = pa.schema([("mn", _PA_BY_SPARK[spark_t]),
                            ("mx", _PA_BY_SPARK[spark_t])])

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow.compute as pc

        from ..kernel.codecs import decode_column

        mns, mxs = [], []
        for _, cols in task_chunks(batches, [column]):
            arr = decode_column(cols[column]).drop_null()
            if len(arr) == 0:
                continue
            if is_float:
                # Spark/DuckDB ordering: NaN greatest, so a chunk with any
                # NaN has max NaN; min is NaN only when all-NaN
                v = arr.to_numpy(zero_copy_only=False).astype(np.float64)
                finite = v[~np.isnan(v)]
                if len(finite) == 0:
                    mns.append(float("nan"))
                    mxs.append(float("nan"))
                else:
                    mns.append(float(finite.min()))
                    mxs.append(float("nan") if len(finite) < len(v)
                               else float(finite.max()))
            else:
                mm = pc.min_max(arr)
                mns.append(mm["min"].as_py())
                mxs.append(mm["max"].as_py())
        if mns:
            yield pa.RecordBatch.from_pylist(
                [{"mn": a, "mx": b} for a, b in zip(mns, mxs)],
                schema=out_schema)

    per_chunk = (file_tasks_df(spark, list(cand.items()))
                 .mapInArrow(task, f"mn {spark_t}, mx {spark_t}").collect())
    if per_chunk:
        # NaN sorts greatest (Spark/DuckDB); other types compare natively
        order = (lambda v: (v != v, v)) if is_float else None  # noqa: E731
        out["min"] = min((r["mn"] for r in per_chunk), key=order)
        out["max"] = max((r["mx"] for r in per_chunk), key=order)
    out["n_chunks_decoded"] = len(per_chunk)
    return out


def encoded_column_sum(spark, out_dir: str, column: str) -> dict:
    """EXACT ``sum`` / ``count(col)`` / ``avg`` of an int column, answered
    from chunk metadata wherever possible.

    The encode job stores a per-chunk ``zsum_long`` (exact int64 sum) for
    every NULL-FREE int chunk, so on a typical store the whole answer is
    one payload-free metadata aggregation — ``sum(n_chars)`` over 100 TB
    reads parquet footers and two narrow columns. Chunks that cannot
    answer from metadata decode individually and exactly: chunks with
    nulls (their non-null count is not in metadata), chunks carrying
    delete tombstones (the deleted rows' values must be subtracted), and
    chunks from pre-``zsum`` stores or whose sum overflowed int64. The
    store-wide sum accumulates in Python int on the driver from per-arm
    partials, so it is exact even past int64.

    Returns ``{"sum", "n_values", "avg", "n_chunks_total",
    "n_chunks_decoded"}`` (sum/avg None when the column is all null)."""
    types = column_arrow_types(spark, out_dir)
    if column not in types:
        raise KeyError(f"column {column!r} not in encoded data")
    if types[column] not in _EXACT_ZONE_TYPES:
        raise ValueError(
            f"encoded_column_sum needs an int column; {column!r} is "
            f"{types[column]}")
    meta = _chunks_df(spark, out_dir, [column])
    if "zsum_long" not in meta.columns:
        raise ValueError("store has no chunk sums (pre-zsum encode); "
                         "re-encode or use a full decode")
    from .deletes import _deletes_dir, has_deletes

    if has_deletes(out_dir):
        tomb = (spark.read.parquet(_deletes_dir(out_dir))
                .select("pid", "chunk_id").distinct()
                .withColumn("_tomb", F.lit(True)))
        meta = (meta.join(F.broadcast(tomb), ["pid", "chunk_id"], "left")
                .na.fill({"_tomb": False}))
    else:
        meta = meta.withColumn("_tomb", F.lit(False))
    # all-null chunks (zmin null AND zsum null) contribute nothing; chunks
    # with a stored sum and no tombstones answer from metadata; the rest
    # decode. The metadata arm projects NO payload bytes.
    can_meta = F.col("zsum_long").isNotNull() & ~F.col("_tomb")
    is_allnull = (F.col("zsum_long").isNull() & F.col("zmin_long").isNull()
                  & ~F.col("_tomb"))
    agg = meta.agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.when(can_meta, F.col("zsum_long"))).alias("meta_sum"),
        F.sum(F.when(can_meta, F.col("n_rows"))).alias("meta_n"),
        F.sum(F.when(~can_meta & ~is_allnull, 1).otherwise(0)).alias("n_dec"),
    ).collect()[0]
    total = int(agg["meta_sum"]) if agg["meta_sum"] is not None else 0
    n_values = int(agg["meta_n"]) if agg["meta_n"] is not None else 0
    out = {"n_chunks_total": agg["n_chunks"],
           "n_chunks_decoded": int(agg["n_dec"] or 0)}
    if agg["n_dec"]:
        sub = (meta.filter(~can_meta & ~is_allnull)
               .select("pid", "chunk_id", "codec", "params", "payload"))
        deletes_on = has_deletes(out_dir)

        def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            import numpy as np

            from ..kernel.codecs import decode_column
            from .deletes import DeleteMask

            dmask = DeleteMask(out_dir) if deletes_on else None
            for batch in batches:
                rows = []
                for row in batch.to_pylist():
                    arr = decode_column(
                        {"codec": row["codec"],
                         "params": json.loads(row["params"]),
                         "payload": row["payload"]})
                    valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(bool)
                    if dmask is not None:
                        pos = dmask.positions(row["pid"], row["chunk_id"])
                        if pos is not None and len(pos):
                            valid[pos[pos < len(valid)]] = False
                    v = arr.fill_null(0).to_numpy(zero_copy_only=False)
                    s = int(np.sum(v[valid], dtype=object)) if valid.any() else 0
                    if not -(1 << 63) <= s < (1 << 63):
                        # same contract as the stored zsum: refuse loudly
                        # rather than wrap (Spark's non-ANSI sum would)
                        raise OverflowError(
                            f"chunk ({row['pid']},{row['chunk_id']}) sum "
                            "exceeds int64")
                    rows.append({"s": s, "n": int(valid.sum())})
                yield pa.RecordBatch.from_pylist(
                    rows, schema=pa.schema([("s", pa.int64()),
                                            ("n", pa.int64())]))

        part = (sub.mapInArrow(task, "s bigint, n bigint")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()[0])
        total += int(part["s"] or 0)
        n_values += int(part["n"] or 0)
    out["n_values"] = n_values
    out["sum"] = total if n_values else None
    out["avg"] = (total / n_values) if n_values else None
    return out


_STRLEN_TYPES = ("string", "large_string", "binary", "large_binary")


def encoded_strlen_stats(spark, out_dir: str, columns: list[str]) -> DataFrame:
    """Exact ``octet_length`` aggregates (count / sum / avg / min / max of
    the DECODED byte length) for string/binary columns, WITHOUT decoding.

    Every string codec stores (or implies) value lengths more cheaply than
    values — str_plain outright, str_fsst via the parse phase only (roles +
    symbol-length gather + cumsum, no byte scatter), str_dict via the tiny
    dictionary's lengths gathered by code, str_front as stored prefix lens
    plus suffix recursion (``codecs.decoded_strlens``). So a
    ``sum(octet_length(text))`` over a 100 TB store reads the same chunk
    payloads a decode would but skips the two scatter passes AND the Arrow
    string build — the dominant costs — and ships back four ints per chunk
    instead of the chunk's text. Per-chunk partials aggregate JVM-side.

    Returns one row per column: ``(column, n_values, sum_bytes, avg_bytes,
    min_bytes, max_bytes)`` with SQL semantics (nulls excluded; min/max
    null on an all-null column; avg a double)."""
    _require_no_deletes(out_dir, "encoded_strlen_stats")
    types = column_arrow_types(spark, out_dir)
    for c in columns:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
        if types[c] not in _STRLEN_TYPES:
            raise ValueError(
                f"octet_length stats are for string/binary columns; "
                f"column {c!r} is {types[c]}")
    chunks = _chunks_df(spark, out_dir, list(columns)).select(
        "column", "codec", "params", "payload")
    out_schema = pa.schema([("column", pa.string()), ("n", pa.int64()),
                            ("s", pa.int64()), ("mn", pa.int64()),
                            ("mx", pa.int64())])

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..kernel.codecs import decoded_strlens

        for batch in batches:
            names = batch.column("column").to_pylist()
            codecs_ = batch.column("codec").to_pylist()
            params_ = batch.column("params").to_pylist()
            payloads = batch.column("payload")
            rows = []
            for i in range(batch.num_rows):
                lens, _ = decoded_strlens(
                    {"codec": codecs_[i], "params": json.loads(params_[i]),
                     "payload": payloads[i].as_py()})
                n = int(len(lens))
                rows.append({"column": names[i], "n": n,
                             "s": int(lens.sum()) if n else 0,
                             "mn": int(lens.min()) if n else None,
                             "mx": int(lens.max()) if n else None})
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    per_chunk = chunks.mapInArrow(
        task, "column string, n bigint, s bigint, mn bigint, mx bigint")
    return (
        per_chunk.groupBy("column")
        .agg(F.sum("n").alias("n_values"),
             F.sum("s").alias("sum_bytes"),
             (F.sum("s") / F.sum("n")).alias("avg_bytes"),
             F.min("mn").alias("min_bytes"),
             F.max("mx").alias("max_bytes"))
        .orderBy("column")
    )


# mapInArrow batches must match the declared DDL exactly (a large_string
# against DDL 'string' crashes the JVM ArrowColumnVector)
_PA_BY_SPARK = {
    "string": pa.string(), "binary": pa.binary(),
    "float": pa.float32(), "double": pa.float64(),
}


def _spark_us(arr: pa.Array) -> pa.Array:
    """Spark's Arrow bridge only accepts microsecond timestamps; decoded
    chunks restore the encode-time unit, so normalize before yielding."""
    if pa.types.is_timestamp(arr.type) and arr.type.unit != "us":
        return arr.cast(pa.timestamp("us", tz=arr.type.tz))
    return arr


def encoded_topk(spark, out_dir: str, column: str, k: int,
                 ascending: bool = False,
                 observer: dict | None = None) -> DataFrame:
    """``SELECT col ORDER BY col [DESC] LIMIT k`` (nulls ignored) answered
    by decoding only the chunks the zone maps cannot rule out.

    Zone-guided pruning with a *guarantee threshold*: sorted by
    ``zmin_long`` descending (mirrored for ascending), each chunk
    guarantees ``n_rows`` values ≥ its zmin when its params prove it
    null-free, else ≥1 (the zone itself is a witness value); accumulating
    guarantees until they cover ``k`` yields a threshold T that is provably
    ≤ the true k-th value's zone key, so every chunk with ``zmax_long < T``
    can be skipped without reading a payload byte. The string 8-byte-prefix
    and float total-order keys are monotone, so the same comparison is
    safe for every zoned type. On a store clustered by ``column`` a top-k
    touches O(k / rows-per-chunk) chunks at any table size; the threshold
    scan itself is a distributed sort-limit over chunk METADATA (never a
    single-reducer window, never a payload read).

    Survivor chunks reduce to ≤k rows each inside the scan task (per-chunk
    top-k), then one global sort-limit — TakeOrdered over ≤ k·candidates
    rows. Float ordering follows Spark/DuckDB semantics (NaN greatest).

    Returns a one-column DataFrame ``val`` with the k extreme values
    (multiset-deterministic under ties). ``observer``, if given, is filled
    with ``n_chunks_total`` / ``n_chunks_decoded`` for pruning assertions.
    """
    _require_no_deletes(out_dir, 'encoded_topk')
    if not 1 <= int(k) <= 100_000:
        raise ValueError("k must be in [1, 100000]; larger top-k should "
                         "go through decode_job + a regular sort")
    k = int(k)
    types = column_arrow_types(spark, out_dir)
    if column not in types:
        raise KeyError(f"column {column!r} not in encoded data")
    arrow_name = types[column]
    meta = _chunks_df(spark, out_dir, [column])
    has_zones = "zmin_long" in meta.columns
    if has_zones:
        # all-null chunks (null zones) contribute no values: always pruned
        zoned = meta.filter(F.col("zmin_long").isNotNull())
        guard = zoned.select(
            "n_rows", "zmin_long", "zmax_long",
            F.col("params").contains('"n_total"').alias("has_nulls"))
        edge = "zmin_long" if not ascending else "zmax_long"
        order = (F.col(edge).desc() if not ascending else F.col(edge).asc())
        head = guard.select(edge, "n_rows", "has_nulls") \
            .orderBy(order).limit(k).collect()
        thresh, cum = None, 0
        for r in head:
            cum += 1 if r["has_nulls"] else r["n_rows"]
            if cum >= k:
                thresh = r[edge]
                break
        if thresh is None:
            cand = zoned  # fewer guaranteed values than k: no safe cutoff
        elif ascending:
            cand = zoned.filter(F.col("zmin_long") <= F.lit(thresh))
        else:
            cand = zoned.filter(F.col("zmax_long") >= F.lit(thresh))
    else:
        cand = meta
    if observer is not None:
        observer["n_chunks_total"] = meta.count()
        observer["n_chunks_decoded"] = cand.count()

    spark_t = _spark_type(arrow_name)
    is_float = arrow_name in ("float", "double")
    asc = bool(ascending)
    kk = k

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow.compute as pc

        from ..kernel.codecs import decode_column

        for batch in batches:
            for row in batch.to_pylist():
                arr = decode_column(
                    {"codec": row["codec"], "params": json.loads(row["params"]),
                     "payload": row["payload"]}).drop_null()
                if len(arr) == 0:
                    continue
                if is_float:
                    v = arr.to_numpy(zero_copy_only=False)
                    nan = v[np.isnan(v)]
                    fin = np.sort(v[~np.isnan(v)])
                    # Spark/DuckDB order: NaN greatest
                    full = np.concatenate([fin, nan])
                    top = full[:kk] if asc else full[::-1][:kk]
                    out = pa.array(top, type=arr.type)
                else:
                    idx = pc.array_sort_indices(
                        arr, order="ascending" if asc else "descending")
                    out = arr.take(idx[:kk])
                yield pa.RecordBatch.from_arrays([_spark_us(out)],
                                                 names=["val"])

    vals = cand.select("codec", "params", "payload") \
        .mapInArrow(task, f"val {spark_t}")
    order = F.col("val").asc() if asc else F.col("val").desc()
    return vals.orderBy(order).limit(k)


def encoded_distinct(spark, out_dir: str, column: str,
                     observer: dict | None = None) -> DataFrame:
    """``SELECT DISTINCT col`` over an encoded store, reading as little as
    the codecs allow.

    ``str_dict`` chunks contribute ONLY their dictionary section: the
    per-chunk dictionary is built by factorizing the chunk's own non-null
    values, so it IS the chunk's distinct set — the (much larger) code
    array stays encoded and unread. Every other codec decodes its chunk
    and reduces to a per-chunk ``unique()`` INSIDE the scan task. Either
    way the one shuffle moves per-chunk distinct sets (NDV-scale), never
    rows — on a categorical 100 TB column this is a near-metadata query,
    and on any column the shuffle is bounded by sum of chunk NDVs.

    Null semantics match SQL DISTINCT: a null row appears iff some chunk
    holds a null (the encode appends validity bits only then, so presence
    is read from ``params`` without decoding). ``observer`` reports
    ``n_dict_chunks`` / ``n_decoded_chunks`` for pruning assertions.
    """
    _require_no_deletes(out_dir, 'encoded_distinct')
    types = column_arrow_types(spark, out_dir)
    if column not in types:
        raise KeyError(f"column {column!r} not in encoded data")
    spark_t = _spark_type(types[column])
    meta = _chunks_df(spark, out_dir, [column])
    if observer is not None:
        by_codec = {r["codec"]: r["n"] for r in
                    meta.groupBy("codec").agg(F.count("*").alias("n")).collect()}
        observer["n_dict_chunks"] = by_codec.get("str_dict", 0)
        observer["n_decoded_chunks"] = sum(
            n for c, n in by_codec.items() if c != "str_dict")

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..kernel.codecs import (_bytes_to_arrow, _split_sections,
                                     decode_bytes_like, decode_column,
                                     parse_arrow_type)

        for batch in batches:
            for row in batch.to_pylist():
                p = json.loads(row["params"])
                has_null = "n_total" in p
                if row["codec"] == "str_dict":
                    payload = row["payload"]
                    if has_null:  # strip appended validity bits
                        payload = payload[: p["validity_len"]]
                    _, up = _split_sections(p, payload)
                    buf, off = decode_bytes_like(
                        {"codec": p["values"]["codec"],
                         "params": p["values"]["params"], "payload": up},
                        kind="str")
                    out = _bytes_to_arrow(
                        buf, off, parse_arrow_type(p["arrow_type"]), None)
                    if has_null:
                        out = pa.concat_arrays(
                            [out, pa.nulls(1, type=out.type)])
                else:
                    out = decode_column(
                        {"codec": row["codec"], "params": p,
                         "payload": row["payload"]}).unique()
                yield pa.RecordBatch.from_arrays([_spark_us(out)],
                                                 names=["val"])

    vals = meta.select("codec", "params", "payload") \
        .mapInArrow(task, f"val {spark_t}")
    return vals.distinct()


def encoded_ndv(spark, out_dir: str, columns: list[str]) -> dict:
    """Approximate distinct counts from per-chunk HyperLogLog sketches —
    a metadata-only query: no payload byte is read or decoded.

    HLL merge is an elementwise register max (associative/commutative),
    so the plan is a tree reduction: each scan partition folds its chunks'
    ~1 KiB blobs into one partial per column inside ``mapInArrow``, the
    driver merges the ≤ #partitions partials and runs the bias-corrected
    estimator (``kernel.hll.hll_estimate``, ~3.2% standard error at
    p=10). At 100 TB that's KBs to the driver regardless of table size —
    the exact shape warehouse NDV statistics use.

    Returns ``{column: estimated_ndv}`` (non-null values). Raises if any
    requested column has a chunk without a sketch (hll-disabled encode,
    unsupported type, pre-sketch store): a partial merge would silently
    under-count, which is worse than telling the caller to decode.
    """
    _require_no_deletes(out_dir, 'encoded_ndv')
    types = column_arrow_types(spark, out_dir)
    for c in columns:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    meta = _chunks_df(spark, out_dir, list(columns))
    if "hll" not in meta.columns:
        raise ValueError("store has no HLL sketches (pre-sketch encode)")
    return _ndv_from_src(meta.select("column", "hll"), columns, types)


def _ndv_from_src(src: DataFrame, columns: list[str],
                  types: dict[str, str]) -> dict:
    """Tree-reduce (column, hll) sketch rows into per-column NDV
    estimates — the shared tail of ``encoded_ndv`` (one store) and
    ``stores_ndv`` (a shard family; HLL merge is associative, so sketches
    from different stores fold exactly like chunks of one store)."""
    from ..kernel.hll import hll_estimate, hll_merge

    # schema must match the DDL exactly (large_binary would crash the
    # JVM ArrowColumnVector against a declared 'binary')
    out_schema = pa.schema([("column", pa.string()), ("hll", pa.binary()),
                            ("missing", pa.bool_())])

    def partial_merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: dict[str, bytes | None] = {}
        missing: set[str] = set()
        for batch in batches:
            for col_s, blob_s in zip(batch.column("column"),
                                     batch.column("hll")):
                col = col_s.as_py()
                blob = blob_s.as_py()
                if blob is None:
                    missing.add(col)
                    continue
                prev = acc.get(col)
                acc[col] = blob if prev is None else hll_merge([prev, blob])
        rows = [{"column": c, "hll": b, "missing": c in missing}
                for c, b in acc.items()]
        rows += [{"column": c, "hll": None, "missing": True}
                 for c in missing if c not in acc]
        yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    partials = src.mapInArrow(
        partial_merge, "column string, hll binary, missing boolean").collect()
    merged: dict[str, bytes | None] = {}
    incomplete: set[str] = set()
    for r in partials:
        if r["missing"]:
            incomplete.add(r["column"])
        if r["hll"] is not None:
            prev = merged.get(r["column"])
            merged[r["column"]] = (r["hll"] if prev is None
                                   else hll_merge([prev, r["hll"]]))
    result: dict[str, int] = {}
    for c in columns:
        if c in incomplete or merged.get(c) is None:
            raise ValueError(
                f"column {c!r} has chunks without HLL sketches "
                f"({types[c]}; hll-disabled or pre-sketch encode) — "
                f"estimate would under-count; decode instead")
        result[c] = hll_estimate(merged[c])
    return result


def global_cumsum(df: DataFrame, val_col: str, order_col: str,
                  num_shards: int | None = None,
                  out_col: str = "cum_before") -> DataFrame:
    """``out_col`` = exact sum of ``val_col`` over all rows strictly before
    this one in ``order_col`` order (first row gets 0), plus a ``shard``
    column (the range-partition id, kept for shard-local consumers).

    ``order_col`` must be unique (ties could split across range
    partitions, making "strictly before" ambiguous). Nulls in ``val_col``
    count as 0. One range shuffle + one #shards-row collect."""
    spark = df.sparkSession
    num_shards = num_shards or spark.sparkContext.defaultParallelism
    d = (df.repartitionByRange(num_shards, F.col(order_col))
           .withColumn("shard", F.spark_partition_id()))
    w = (Window.partitionBy("shard").orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    # double, not long: fractional weights (e.g. quantile-sketch n/k) must
    # not truncate; integer weights stay exact far past any token count
    # (2^53) and the final cast below restores a long when safe
    val = F.coalesce(F.col(val_col).cast("double"), F.lit(0.0))
    d = d.withColumn("_local_before",
                     F.coalesce(F.sum(val).over(w), F.lit(0.0)))
    # per-shard totals: #shards rows — metadata-scale by construction.
    # RangePartitioner ids are ordered by key range, so a running sum over
    # ids IS the global prefix at each shard boundary.
    totals = (d.groupBy("shard").agg(F.sum(val).alias("_tot"))
              .orderBy("shard").collect())
    offsets, run = [], 0.0
    for r in totals:
        offsets.append((r["shard"], run))
        run += r["_tot"] or 0.0
    off = F.broadcast(
        spark.createDataFrame(offsets, "shard int, _shard_offset double"))
    return (
        d.join(off, "shard")
        .withColumn(out_col, (F.col("_local_before") + F.col("_shard_offset")))
        .drop("_local_before", "_shard_offset")
    )


def encoded_quantiles(spark, out_dir: str, column: str, qs: list[float],
                      num_shards: int | None = None,
                      observer: dict | None = None) -> DataFrame:
    """Percentiles of a numeric column from per-chunk quantile sketches —
    payload-free: only the narrow ``qsketch`` metadata column is read.

    Each chunk stores a sorted equi-spaced ``k``-point sample of its own
    values (``kernel.qsample``), so the store-wide quantile is a weighted
    rank selection: every stored point carries weight ``n_chunk/k``, the
    points sort globally by value (a range shuffle over #chunks×k narrow
    rows — distributed, never one task), an exact prefix sum of weights
    comes from ``global_cumsum``, and the answer for
    target rank ``t = q·N`` is the lowest value whose weight interval
    covers ``t``. Rank error is bounded by 2·N/k total (equi-depth bound:
    one sample spacing plus one weight interval);
    when every chunk has ≤ k values the sketches ARE the sorted data and
    the result is EXACT — the driver gate pins that case against DuckDB.

    N (non-null count) comes exactly from chunk params metadata, not from
    summing float weights. Returns a DataFrame (q double, val <coltype>);
    ints/timestamps stay int64-exact (ticks for timestamps), floats follow
    NaN-greatest ordering (NaNs sort last in each chunk's sample).
    ``observer`` gets ``n_values`` and ``exact`` (every chunk complete).
    Raises for string columns, sketch-less stores, and chunks with values
    but no sketch (a partial merge would silently mis-rank)."""
    _require_no_deletes(out_dir, 'encoded_quantiles')
    if not qs or not all(0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs must be fractions in [0, 1], got {qs!r}")
    types = column_arrow_types(spark, out_dir)
    if column not in types:
        raise KeyError(f"column {column!r} not in encoded data")
    arrow_name = types[column]
    is_int = arrow_name in _EXACT_ZONE_TYPES or arrow_name.startswith("timestamp[")
    if not is_int and arrow_name not in ("float", "double"):
        raise ValueError(
            f"quantile sketches cover numeric/timestamp columns; {column!r} "
            f"is {arrow_name}")
    meta = _chunks_df(spark, out_dir, [column])
    if "qsketch" not in meta.columns:
        raise ValueError("store has no quantile sketches (pre-qsample encode)")
    # a chunk with non-null values (non-null zones) must carry a sketch
    n_bad = meta.filter(F.col("qsketch").isNull()
                        & F.col("zmin_long").isNotNull()).count()
    if n_bad:
        raise ValueError(
            f"{n_bad} chunks of {column!r} lack quantile sketches "
            "(qsample-disabled encode) — merged ranks would be wrong; "
            "decode instead")
    n_vals = F.get_json_object("params", "$.n").cast("long")
    n_total = F.get_json_object("params", "$.n_total").cast("long")
    stats = meta.agg(
        (F.sum("n_rows") - F.sum(F.coalesce(n_total - n_vals, F.lit(0))))
        .alias("n")).collect()[0]
    n_values = int(stats["n"] or 0)
    val_t = "bigint" if is_int else "double"

    def points(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..kernel.qsample import qsample_parse

        for batch in batches:
            vals, ws, fulls = [], [], []
            for blob_s in batch.column("qsketch"):
                blob = blob_s.as_py()
                if blob is None:
                    continue  # all-null chunk
                _, n, pts = qsample_parse(blob)
                vals.extend(pts.tolist())
                w = n / len(pts)
                ws.extend([w] * len(pts))
                fulls.extend([len(pts) == n] * len(pts))
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, type=pa.int64() if is_int else pa.float64()),
                 pa.array(ws, type=pa.float64()),
                 pa.array(fulls, type=pa.bool_())],
                names=["val", "w", "full"])

    pts = meta.select("qsketch").mapInArrow(
        points, f"val {val_t}, w double, full boolean")
    if observer is not None:
        observer["n_values"] = n_values
        observer["exact"] = bool(
            pts.agg(F.min("full")).collect()[0][0]) if n_values else True
    if n_values == 0:
        return spark.createDataFrame(
            [(float(q), None) for q in sorted(qs)], f"q double, val {val_t}")
    # exact global weighted prefix sums by value (ties are interchangeable
    # for rank selection: tied rows share the value the rank resolves to)
    cum = global_cumsum(pts.select("val", "w"), "w", "val", num_shards)
    targets = spark.createDataFrame(
        [(float(q), max(q * n_values, 1e-9)) for q in sorted(set(qs))],
        "q double, t double")
    hit = (
        cum.crossJoin(F.broadcast(targets))
        .where((F.col("cum_before") < F.col("t"))
               & (F.col("t") <= F.col("cum_before") + F.col("w")))
        .groupBy("q").agg(F.min("val").alias("val"))
        .orderBy("q")
    )
    return hit


def encoded_profile(spark, out_dir: str,
                    columns: list[str] | None = None) -> DataFrame:
    """Column profile of an encoded store from metadata alone — the
    ``DESCRIBE``/profiling pass a pipeline runs before deciding layouts,
    filters, and codecs, answered without reading a payload byte.

    One payload-free scan of the chunk table (parquet prunes to the
    narrow metadata columns) aggregates per column:

      n_rows, n_nulls   exact (null counts come from each chunk's params:
                        ``n_total`` is written only for null-bearing
                        chunks and ``n`` is its non-null count)
      n_chunks, codecs  chunk count + distinct codec mix (sorted csv)
      raw_bytes, enc_bytes, ratio_x100   exact compression accounting
      zmin_long, zmax_long   zone-key bounds (exact values for ints/
                        timestamps; order-preserving keys otherwise)

    Pair with ``encoded_ndv`` (HLL sketches) for distinct counts and
    ``encoded_column_minmax`` for exact string/float extremes — both stay
    metadata-light, so the full profile of a 100 TB store is seconds of
    footer reads."""
    _require_no_deletes(out_dir, 'encoded_profile')
    types = column_arrow_types(spark, out_dir)
    for c in columns or []:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    meta = _chunks_df(spark, out_dir, list(columns) if columns else None)
    has_zones = "zmin_long" in meta.columns
    n_vals = F.get_json_object("params", "$.n").cast("long")
    n_total = F.get_json_object("params", "$.n_total").cast("long")
    agg = [
        F.first(F.get_json_object("params", "$.arrow_type")).alias("arrow_type"),
        F.sum("n_rows").alias("n_rows"),
        F.sum(F.coalesce(n_total - n_vals, F.lit(0))).alias("n_nulls"),
        F.count("*").alias("n_chunks"),
        F.concat_ws(",", F.array_sort(F.collect_set("codec"))).alias("codecs"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
        (F.sum("raw_bytes") * 100 / F.greatest(F.sum("enc_bytes"), F.lit(1)))
        .cast("bigint").alias("ratio_x100"),
    ]
    if has_zones:
        agg += [F.min("zmin_long").alias("zmin_long"),
                F.max("zmax_long").alias("zmax_long")]
    return meta.groupBy("column").agg(*agg).orderBy("column")


def advise_layout(spark, out_dir: str,
                  columns: list[str] | None = None) -> DataFrame:
    """Layout advisor: per-column ZONE SELECTIVITY from metadata alone —
    the number a user needs before choosing ``--cluster-by``.

    For each column the chunk zone keys give ``span_frac_x1000`` = mean
    chunk zone width / global zone range (×1000, integer for stable
    comparison). That single number is also the expected fraction of
    chunks a uniform point lookup on the column must scan: P(v ∈
    [zmin_i, zmax_i]) summed over chunks / n_chunks = mean width / range.
    So ``span_frac_x1000 ≈ 1000`` means zones are useless (every chunk
    spans everything — the column is scattered; cluster by it to fix),
    and ``≈ 1000 / n_chunks`` means the layout is already near-perfect
    for that column. ``clustered`` flags columns whose span fraction is
    within 4× of that ideal. String zones are 8-byte-prefix keys and
    float zones total-order keys, so the fraction is a faithful proxy for
    exactly the pruning ``decode_filtered`` would achieve.

    One payload-free metadata aggregation (same scan shape as
    ``encoded_profile``): seconds against a 100 TB store. Constant
    columns (zero global range) prune perfectly by equality already and
    report span 0 / clustered true."""
    _require_no_deletes(out_dir, 'advise_layout')
    types = column_arrow_types(spark, out_dir)
    for c in columns or []:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    meta = _chunks_df(spark, out_dir, list(columns) if columns else None)
    if "zmin_long" not in meta.columns:
        raise ValueError("store has no zone maps (pre-zone encode); "
                         "advise_layout reads zone keys")
    # columns whose chunks carry no zone keys can't be advised — drop
    # their rows rather than reporting a fake perfect score
    meta = meta.where(F.col("zmin_long").isNotNull()
                      & F.col("zmax_long").isNotNull())
    rng = F.greatest(F.max("zmax_long") - F.min("zmin_long"), F.lit(0))
    span = (F.avg(F.col("zmax_long") - F.col("zmin_long")) * 1000
            / F.greatest(rng, F.lit(1))).cast("bigint")
    per = meta.groupBy("column").agg(
        F.count("*").alias("n_chunks"),
        F.when(rng == 0, F.lit(0)).otherwise(span).alias("span_frac_x1000"),
    )
    ideal = F.lit(1000) / F.col("n_chunks")
    return (per
            .withColumn("est_chunks_scanned_per_point",
                        F.greatest(
                            (F.col("span_frac_x1000") * F.col("n_chunks")
                             / 1000).cast("bigint"), F.lit(1)))
            .withColumn("clustered",
                        F.col("span_frac_x1000") <= 4 * ideal)
            .orderBy("span_frac_x1000", "column"))


def stores_column_stats(spark, out_dirs: "list[str]",
                        columns: list[str]) -> DataFrame:
    """``encoded_column_stats`` over a FAMILY of shard stores: per-store
    metadata aggregates (payload-free) re-reduced into one row per
    column — sum of row counts, min of zone minima, max of zone maxima.
    Exactness follows from each store's own guarantee (exact int/ts
    zones); a shard missing the column, lacking zones, or carrying
    deletes raises exactly as the single-store form does."""
    if not out_dirs:
        raise ValueError("stores_column_stats needs at least one store")
    out = encoded_column_stats(spark, out_dirs[0], columns)
    for d in out_dirs[1:]:
        out = out.unionByName(encoded_column_stats(spark, d, columns))
    return (
        out.groupBy("column")
        .agg(F.sum("n_rows").alias("n_rows"),
             F.min("min_long").alias("min_long"),
             F.max("max_long").alias("max_long"))
        .orderBy("column")
    )


def stores_column_minmax(spark, out_dirs: "list[str]", column: str) -> dict:
    """Exact whole-family min/max of any zoned column: each shard decodes
    only its OWN zone-boundary chunks (``encoded_column_minmax``), the
    per-shard scalars reduce driver-side. A year of daily shards answers
    ``min(url)`` by decoding ~2 chunks per shard, payloads untouched
    everywhere else."""
    if not out_dirs:
        raise ValueError("stores_column_minmax needs at least one store")
    parts = [encoded_column_minmax(spark, d, column) for d in out_dirs]
    vals_min = [p["min"] for p in parts if p["min"] is not None]
    vals_max = [p["max"] for p in parts if p["max"] is not None]
    return {
        "min": min(vals_min) if vals_min else None,
        "max": max(vals_max) if vals_max else None,
        "n_rows": sum(p["n_rows"] for p in parts),
        "n_chunks_total": sum(p["n_chunks_total"] for p in parts),
        "n_chunks_decoded": sum(p["n_chunks_decoded"] for p in parts),
    }


def stores_ndv(spark, out_dirs: "list[str]", columns: list[str]) -> dict:
    """Whole-family approximate distinct counts from sketches only: every
    shard's per-chunk HLL blobs union into one metadata frame and
    tree-reduce exactly like chunks of a single store (register max is
    associative across stores). Values repeated across shards — the same
    url re-crawled on many days — count ONCE, matching
    ``COUNT(DISTINCT)`` over the unioned family: that's HLL's set-union
    semantics, not an assumption of shard disjointness. No payload byte
    is read anywhere. Shards must agree on the column's type (a drifted
    shard hashes the same logical value differently, which would
    over-count) and every chunk must carry a sketch."""
    if not out_dirs:
        raise ValueError("stores_ndv needs at least one store")
    seen: dict[str, tuple[str, str]] = {}
    metas = []
    for d in out_dirs:
        _require_no_deletes(d, 'stores_ndv')
        types = column_arrow_types(spark, d)
        for c in columns:
            if c not in types:
                raise KeyError(f"column {c!r} not in encoded data at {d}")
            if c in seen and seen[c][0] != types[c]:
                raise TypeError(
                    f"column {c!r} is {seen[c][0]} in {seen[c][1]} but "
                    f"{types[c]} in {d}; NDV sketches only merge within "
                    f"one type — cast and re-encode the drifted store")
            seen.setdefault(c, (types[c], d))
        meta = _chunks_df(spark, d, list(columns))
        if "hll" not in meta.columns:
            raise ValueError(f"store {d} has no HLL sketches "
                             f"(pre-sketch encode)")
        metas.append(meta.select("column", "hll"))
    src = metas[0]
    for m in metas[1:]:
        src = src.unionByName(m)
    return _ndv_from_src(src, columns, {c: t for c, (t, _) in seen.items()})


def advise_codecs(df: DataFrame, columns: list[str] | None = None,
                  sample_rows: int = 20_000,
                  key_col: str | None = None) -> list[dict]:
    """Pre-encode codec advisor: predict each column's codec choice and
    compression ratio from a SAMPLE, before paying for the full encode
    job — the write-side sibling of :func:`advise_layout` (which reads a
    store's metadata after the fact).

    The sample runs the real selector (``kernel.codecs.chunk_stats`` +
    ``encode_column``) driver-side on one sample-sized chunk per column,
    so the prediction is the encoder's own arithmetic, not a model. With
    ``key_col`` the sample is content-keyed (``deterministic_sample``:
    engine-reproducible, unbiased under any clustering) at fraction
    ``~sample_rows / count``; without it the plain ``limit(sample_rows)``
    head is used — cheaper (no count, no full scan) but unrepresentative
    when the input is value-clustered, exactly like the in-encoder NDV
    sampling caveat (``chunk_stats``).

    Caveats the report carries implicitly: the full job selects PER
    CHUNK (a heterogeneous column may mix codecs; the sample predicts
    the dominant choice); FSST tables retrain per partition (sample
    ratio ≈ one partition's table on sample-sized data); and ORDER-
    SENSITIVE codecs (delta, RLE) predict relative to the sample's row
    order — a job that hash-repartitions or re-clusters changes the
    order and therefore the achieved ratio (the codec choice itself is
    far more stable). Accuracy against a real encode is test-pinned to
    ±20% for order-insensitive columns on the synthetic web corpus.
    """
    if sample_rows <= 0:
        raise ValueError(f"sample_rows must be positive, got {sample_rows}")
    from ..kernel.codecs import chunk_stats, encode_column
    from .encode import raw_size_of

    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"columns not in DataFrame: {missing}")
    proj = df.select(*cols)
    if key_col is not None:
        if key_col not in df.columns:
            raise KeyError(f"key_col {key_col!r} not in DataFrame")
        n = df.count()
        frac = min(1.0, 1.25 * sample_rows / max(n, 1))
        proj = df.select(*dict.fromkeys([*cols, key_col]))
        sample = (deterministic_sample(proj, frac, key_col=key_col,
                                       salt="advise")
                  .limit(2 * sample_rows).toArrow())
    else:
        sample = proj.limit(sample_rows).toArrow()
    out = []
    for c in cols:
        arr = sample.column(c).combine_chunks()
        stats = chunk_stats(arr)
        raw = raw_size_of(arr)
        if len(arr) == 0 or raw == 0:
            out.append({"column": c, "type": str(arr.type),
                        "codec": None, "sample_rows": len(arr),
                        "raw_bytes": raw, "enc_bytes": 0,
                        "predicted_ratio": None})
            continue
        enc = encode_column(arr, stats)
        out.append({
            "column": c,
            "type": str(arr.type),
            "codec": enc["codec"],
            "sample_rows": len(arr),
            "raw_bytes": raw,
            "enc_bytes": len(enc["payload"]),
            "predicted_ratio": round(raw / max(len(enc["payload"]), 1), 3),
        })
    return out
