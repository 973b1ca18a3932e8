"""Stats, sketch and extreme-value answers over an encoded store, read
the way every reader reads: through the driver-side planner
(:mod:`jobs.plan`).

The chunk table stores per-chunk row counts, zone bounds (exact min/max
for integer and timestamp columns, ``encode._zone_bounds``), sums of
null-free int chunks, HLL and quantile sketches, and each chunk's params
(null counts, codec, arrow type). Answers that need nothing more — column
stats, profiles, layout advice, NDV, quantiles, top-k thresholds, the
metadata arm of a sum — fold the planner's pyarrow metadata read
(``plan.store_meta``) on the driver and start no Spark job; a DataFrame
answer is a local Arrow table (a ``LocalTableScan``). Answers that need
payloads — exact string/float min/max, octet-length stats, top-k
candidates, distinct sets, the chunks a sum cannot answer from metadata —
run file tasks (``plan.chunk_job``) that read only those chunks through
the one chunk reader, so no chunk row is shuffled.
"""

from __future__ import annotations

import json
from operator import add
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from .decode import (_spark_type, column_arrow_types, deterministic_sample,
                     dict_section)
from .deletes import require_no_deletes as _require_no_deletes
from .plan import chunk_job, keep_sets, store_meta

_EXACT_ZONE_TYPES = ("int8", "int16", "int32", "int64")


def _local_df(spark, schema: pa.Schema, rows: list[tuple]) -> DataFrame:
    """A driver-side answer as a DataFrame: a local Arrow table, which
    Spark plans as a ``LocalTableScan`` and runs without a job (a list of
    Python rows would become a pickled RDD and a job)."""
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema))


def _fold(op, acc, v):
    """One step of the SQL aggregate ``op`` (min, max, add): nulls are
    skipped, and only all-null input folds to null."""
    return v if acc is None else acc if v is None else op(acc, v)


def _n_nulls(params: str) -> int:
    """A chunk's null count from its params: ``n_total`` (rows) is written
    only for null-bearing chunks, beside ``n`` (non-null values)."""
    p = json.loads(params)
    return p["n_total"] - p["n"] if "n_total" in p and "n" in p else 0


_STRLEN_SCHEMA = pa.schema([
    ("column", pa.string()), ("n_values", pa.int64()), ("sum_bytes", pa.int64()),
    ("avg_bytes", pa.float64()), ("min_bytes", pa.int64()),
    ("max_bytes", pa.int64())])
_STATS_SCHEMA = pa.schema([("column", pa.string()), ("n_rows", pa.int64()),
                           ("min_long", pa.int64()), ("max_long", pa.int64())])


def _zone_stats(spark, out_dirs: "list[str]", columns: list[str]) -> DataFrame:
    """``encoded_column_stats`` folded over one store or a shard family."""
    out: dict = {}  # column -> [n_rows, min_long, max_long]
    for d in out_dirs:
        _require_no_deletes(d, 'encoded_column_stats')
        types = column_arrow_types(d, columns)
        for c in columns:
            t = types[c]
            if t not in _EXACT_ZONE_TYPES and not t.startswith("timestamp["):
                raise ValueError(
                    f"exact metadata stats need int/timestamp zones; column "
                    f"{c!r} is {t} (string/float zones are conservative "
                    "bounds only)")
        meta, missing = store_meta(d, columns)
        if "zmin_long" in missing:
            raise ValueError("store has no zone maps (pre-zone encode)")
        for col, n, lo, hi in zip(meta["column"], meta["n_rows"],
                                  meta["zmin_long"], meta["zmax_long"]):
            acc = out.setdefault(col, [0, None, None])
            acc[0] += n
            acc[1], acc[2] = _fold(min, acc[1], lo), _fold(max, acc[2], hi)
    return _local_df(spark, _STATS_SCHEMA,
                     [(c, *out[c]) for c in sorted(out)])


def encoded_column_stats(spark, out_dir: str, columns: list[str]) -> DataFrame:
    """(column, n_rows, min_long, max_long) -> one row per requested column
    with exact ``n_rows``, ``min_long`` and ``max_long`` recovered from
    chunk metadata only, on the driver (no Spark job).

    Supported for integer and timestamp columns (their zones are exact
    value bounds; timestamps report in storage-unit ticks). String prefix
    zones and float total-order keys are conservative/encoded bounds, not
    exact values — asking for such a column raises rather than returning
    a lookalike number. All-null chunks carry null zones and are excluded
    from min/max (they contribute no values), matching SQL min/max
    semantics; a store written before zone maps existed has no zone
    columns at all and also raises."""
    return _zone_stats(spark, [out_dir], columns)


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
    _require_no_deletes(out_dir, 'encoded_column_minmax')
    arrow_name = column_arrow_types(out_dir, [column])[column]
    m, missing = store_meta(out_dir, [column])
    if "zmin_long" in missing:
        raise ValueError("store has no zone maps (pre-zone encode)")
    out = {"n_rows": sum(m["n_rows"]), "n_chunks_total": len(m["n_rows"]),
           "n_chunks_decoded": 0, "min": None, "max": None}
    zmins = [lo for lo in m["zmin_long"] if lo is not None]
    if not zmins:  # every chunk all-null
        return out
    gmin = min(zmins)
    gmax = max(hi for hi in m["zmax_long"] if hi is not None)
    if arrow_name in _EXACT_ZONE_TYPES or arrow_name.startswith("timestamp["):
        # int/timestamp zones ARE the exact bounds (ts in storage ticks)
        out["min"], out["max"] = gmin, gmax
        return out
    # boundary candidates: chunks whose zone touches a global extreme
    cand = [i for i, (lo, hi) in enumerate(zip(m["zmin_long"], m["zmax_long"]))
            if lo == gmin or hi == gmax]
    spark_t = _spark_type(arrow_name)
    is_float = arrow_name in ("float", "double")
    out_schema = pa.schema([("mn", _PA_BY_SPARK[spark_t]),
                            ("mx", _PA_BY_SPARK[spark_t])])

    def partials(chunks, _dmask) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        from ..kernel.codecs import decode_column

        mns, mxs = [], []
        for _, cols in chunks:
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

    per_chunk = chunk_job(spark, out_dir, [column], partials,
                          f"mn {spark_t}, mx {spark_t}",
                          files=keep_sets(m, cand)).collect()
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
    a driver-side fold of the planner's metadata read — ``sum(n_chars)``
    over 100 TB reads parquet footers and narrow columns, and starts no
    Spark job. Chunks that cannot answer from metadata decode individually
    and exactly in file tasks: chunks with nulls (their non-null count is
    not in metadata), chunks carrying delete tombstones (the deleted rows'
    values must be subtracted; the tombstoned chunk keys come from a
    pyarrow read of the deletes parquet), and chunks from pre-``zsum``
    stores or whose sum overflowed int64. The store-wide sum accumulates
    in Python int on the driver from per-chunk partials, so it is exact
    even past int64.

    Returns ``{"sum", "n_values", "avg", "n_chunks_total",
    "n_chunks_decoded"}`` (sum/avg None when the column is all null)."""
    from .deletes import tombstoned_chunks

    types = column_arrow_types(out_dir, [column])
    if types[column] not in _EXACT_ZONE_TYPES:
        raise ValueError(
            f"encoded_column_sum needs an int column; {column!r} is "
            f"{types[column]}")
    m, missing = store_meta(out_dir, [column], ("zsum_long",))
    if "zsum_long" in missing:
        raise ValueError("store has no chunk sums (pre-zsum encode); "
                         "re-encode or use a full decode")
    tomb = tombstoned_chunks(out_dir)
    total = n_values = 0
    dec = []  # chunks without a usable stored sum, all-null ones aside
    for i, (pid, cid, n, lo, zsum) in enumerate(zip(
            m["pid"], m["chunk_id"], m["n_rows"], m["zmin_long"],
            m["zsum_long"])):
        if (pid, cid) in tomb or (zsum is None and lo is not None):
            dec.append(i)
        elif zsum is not None:
            total += zsum
            n_values += n
    out = {"n_chunks_total": len(m["pid"]), "n_chunks_decoded": len(dec)}
    if dec:
        out_schema = pa.schema([("s", pa.int64()), ("n", pa.int64())])

        def partials(chunks, dmask) -> Iterator[pa.RecordBatch]:
            from ..kernel.codecs import decode_column

            rows = []
            for key, cols in chunks:
                arr = decode_column(cols[column])
                valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(bool)
                pos = dmask.positions(*key) if dmask is not None else None
                if pos is not None:
                    valid[pos[pos < len(valid)]] = False
                v = arr.fill_null(0).to_numpy(zero_copy_only=False)
                s = int(np.sum(v[valid], dtype=object)) if valid.any() else 0
                if not -(1 << 63) <= s < (1 << 63):
                    # same contract as the stored zsum: refuse loudly
                    # rather than wrap
                    raise OverflowError(f"chunk {key} sum exceeds int64")
                rows.append({"s": s, "n": int(valid.sum())})
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

        for r in chunk_job(spark, out_dir, [column], partials,
                           "s bigint, n bigint",
                           files=keep_sets(m, dec)).collect():
            total += r["s"]
            n_values += r["n"]
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
    instead of the chunk's text. File tasks read the chunks (one Spark
    job); the per-chunk partials fold on the driver into a local table.

    Returns one row per column: ``(column, n_values, sum_bytes, avg_bytes,
    min_bytes, max_bytes)`` with SQL semantics (nulls excluded; min/max
    null on an all-null column; avg a double)."""
    _require_no_deletes(out_dir, "encoded_strlen_stats")
    types = column_arrow_types(out_dir, columns)
    for c in columns:
        if types[c] not in _STRLEN_TYPES:
            raise ValueError(
                f"octet_length stats are for string/binary columns; "
                f"column {c!r} is {types[c]}")
    out_schema = pa.schema([("column", pa.string()), ("n", pa.int64()),
                            ("s", pa.int64()), ("mn", pa.int64()),
                            ("mx", pa.int64())])

    def partials(chunks, _dmask) -> Iterator[pa.RecordBatch]:
        from ..kernel.codecs import decoded_strlens

        rows = []
        for _, cols in chunks:
            for col, enc in cols.items():
                lens, _ = decoded_strlens(enc)
                n = int(len(lens))
                rows.append({"column": col, "n": n,
                             "s": int(lens.sum()) if n else 0,
                             "mn": int(lens.min()) if n else None,
                             "mx": int(lens.max()) if n else None})
        yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    per_chunk = chunk_job(
        spark, out_dir, list(columns), partials,
        "column string, n bigint, s bigint, mn bigint, mx bigint").toArrow()
    acc: dict[str, list] = {}
    for col, n, s, mn, mx in zip(*(per_chunk.column(c).to_pylist()
                                   for c in out_schema.names)):
        a = acc.setdefault(col, [0, 0, None, None])
        a[:] = (a[0] + n, a[1] + s, _fold(min, a[2], mn), _fold(max, a[3], mx))
    return _local_df(spark, _STRLEN_SCHEMA, [
        (col, n, s, s / n if n else None, mn, mx)
        for col, (n, s, mn, mx) in sorted(acc.items())])


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
    scan itself is a driver-side sort of the planner's chunk METADATA
    (never a payload read, no Spark job).

    Survivor chunks reduce to ≤k rows each inside their file task
    (per-chunk top-k), then one global sort-limit — TakeOrdered over ≤
    k·candidates rows. Float ordering follows Spark/DuckDB semantics (NaN
    greatest).

    Returns a one-column DataFrame ``val`` with the k extreme values
    (multiset-deterministic under ties). ``observer``, if given, is filled
    with ``n_chunks_total`` / ``n_chunks_decoded`` for pruning assertions.
    """
    _require_no_deletes(out_dir, 'encoded_topk')
    if not 1 <= int(k) <= 100_000:
        raise ValueError("k must be in [1, 100000]; larger top-k should "
                         "go through decode_job + a regular sort")
    k = int(k)
    arrow_name = column_arrow_types(out_dir, [column])[column]
    m, missing = store_meta(out_dir, [column], ("params",))
    cand = range(len(m["pid"]))
    if "zmin_long" not in missing:
        # all-null chunks (null zones) contribute no values: always pruned
        zmin, zmax = m["zmin_long"], m["zmax_long"]
        cand = [i for i in cand if zmin[i] is not None]
        edge = zmax if ascending else zmin
        thresh, cum = None, 0
        for i in sorted(cand, key=edge.__getitem__, reverse=not ascending):
            cum += 1 if '"n_total"' in m["params"][i] else m["n_rows"][i]
            if cum >= k:
                thresh = edge[i]
                break
        # fewer guaranteed values than k: no safe cutoff
        if thresh is not None and ascending:
            cand = [i for i in cand if zmin[i] <= thresh]
        elif thresh is not None:
            cand = [i for i in cand if zmax[i] >= thresh]
    if observer is not None:
        observer["n_chunks_total"] = len(m["pid"])
        observer["n_chunks_decoded"] = len(cand)

    spark_t = _spark_type(arrow_name)
    is_float = arrow_name in ("float", "double")
    asc = bool(ascending)

    def partials(chunks, _dmask) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        from ..kernel.codecs import decode_column

        for _, cols in chunks:
            arr = decode_column(cols[column]).drop_null()
            if len(arr) == 0:
                continue
            if is_float:
                v = arr.to_numpy(zero_copy_only=False)
                nan = v[np.isnan(v)]
                fin = np.sort(v[~np.isnan(v)])
                # Spark/DuckDB order: NaN greatest
                full = np.concatenate([fin, nan])
                top = full[:k] if asc else full[::-1][:k]
                out = pa.array(top, type=arr.type)
            else:
                idx = pc.array_sort_indices(
                    arr, order="ascending" if asc else "descending")
                out = arr.take(idx[:k])
            yield pa.RecordBatch.from_arrays([_spark_us(out)], names=["val"])

    vals = chunk_job(spark, out_dir, [column], partials, f"val {spark_t}",
                     files=keep_sets(m, cand))
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
    and reduces to a per-chunk ``unique()`` INSIDE its file task. Either
    way the one shuffle moves per-chunk distinct sets (NDV-scale), never
    rows — on a categorical 100 TB column this is a near-metadata query,
    and on any column the shuffle is bounded by sum of chunk NDVs.

    Null semantics match SQL DISTINCT: a null row appears iff some chunk
    holds a null (the encode appends validity bits only then, so presence
    is read from ``params`` without decoding). ``observer`` reports
    ``n_dict_chunks`` / ``n_decoded_chunks`` for pruning assertions,
    counted from the planner's metadata read.
    """
    _require_no_deletes(out_dir, 'encoded_distinct')
    spark_t = _spark_type(column_arrow_types(out_dir, [column])[column])
    if observer is not None:
        codecs = store_meta(out_dir, [column])[0]["codec"]
        observer["n_dict_chunks"] = codecs.count("str_dict")
        observer["n_decoded_chunks"] = len(codecs) - codecs.count("str_dict")

    def partials(chunks, _dmask) -> Iterator[pa.RecordBatch]:
        from ..kernel.codecs import (_bytes_to_arrow, decode_column,
                                     parse_arrow_type)

        for _, cols in chunks:
            enc = cols[column]
            p = enc["params"]
            if enc["codec"] == "str_dict":
                out = _bytes_to_arrow(*dict_section(p, enc["payload"]),
                                      parse_arrow_type(p["arrow_type"]), None)
                if "n_total" in p:
                    out = pa.concat_arrays([out, pa.nulls(1, type=out.type)])
            else:
                out = decode_column(enc).unique()
            yield pa.RecordBatch.from_arrays([_spark_us(out)], names=["val"])

    return chunk_job(spark, out_dir, [column], partials,
                     f"val {spark_t}").distinct()


def _ndv(out_dirs: "list[str]", columns: list[str], op: str) -> dict:
    """``{column: estimated_ndv}`` from the HLL sketches of every chunk of
    one store or a shard family, merged on the driver (register max is
    associative, so sketches from different stores fold exactly like
    chunks of one store)."""
    from ..kernel.hll import hll_estimate, hll_merge

    seen: dict[str, tuple[str, str]] = {}  # column -> (type, first store)
    blobs: dict[str, list] = {}
    for d in out_dirs:
        _require_no_deletes(d, op)
        types = column_arrow_types(d, columns)
        for c in columns:
            if c in seen and seen[c][0] != types[c]:
                raise TypeError(
                    f"column {c!r} is {seen[c][0]} in {seen[c][1]} but "
                    f"{types[c]} in {d}; NDV sketches only merge within "
                    f"one type — cast and re-encode the drifted store")
            seen.setdefault(c, (types[c], d))
        m, missing = store_meta(d, columns, ("hll",))
        if "hll" in missing:
            raise ValueError(f"store {d} has no HLL sketches "
                             f"(pre-sketch encode)")
        for col, blob in zip(m["column"], m["hll"]):
            blobs.setdefault(col, []).append(blob)
    result: dict[str, int] = {}
    for c in columns:
        merged = hll_merge(blobs.get(c, []))  # None if any chunk lacks one
        if merged is None:
            raise ValueError(
                f"column {c!r} has chunks without HLL sketches "
                f"({seen[c][0]}; hll-disabled or pre-sketch encode) — "
                f"estimate would under-count; decode instead")
        result[c] = hll_estimate(merged)
    return result


def encoded_ndv(spark, out_dir: str, columns: list[str]) -> dict:
    """Approximate distinct counts from per-chunk HyperLogLog sketches —
    a metadata-only query: no payload byte is read or decoded, and no
    Spark job starts.

    HLL merge is an elementwise register max (associative/commutative),
    so the driver folds the ~1 KiB blobs of the planner's metadata read
    per column and runs the bias-corrected estimator
    (``kernel.hll.hll_estimate``, ~3.2% standard error at p=10) — the
    exact shape warehouse NDV statistics use.

    Returns ``{column: estimated_ndv}`` (non-null values). Raises if any
    requested column has a chunk without a sketch (hll-disabled encode,
    unsupported type, pre-sketch store): a partial merge would silently
    under-count, which is worse than telling the caller to decode.
    """
    return _ndv([out_dir], columns, "encoded_ndv")


def encoded_quantiles(spark, out_dir: str, column: str, qs: list[float],
                      observer: dict | None = None) -> DataFrame:
    """Percentiles of a numeric column from per-chunk quantile sketches —
    payload-free: only the ``qsketch`` metadata column (and the narrow
    planner columns) is read, and the merge runs on the driver without a
    Spark job.

    Each chunk stores a sorted equi-spaced ``k``-point sample of its own
    values (``kernel.qsample``), so the store-wide quantile is a weighted
    rank selection: every stored point carries weight ``n_chunk/k``, the
    #chunks×k points (k = 256 by default: 256k points, a few MB of numpy
    arrays, at 1k chunks) sort by value with numpy, a prefix sum of their
    weights gives
    each point's rank interval, and the answer for target rank ``t = q·N``
    is the value whose interval covers ``t``. Rank error is bounded by
    2·N/k total (equi-depth bound: one sample spacing plus one weight
    interval); when every chunk has ≤ k values the sketches ARE the sorted
    data and the result is EXACT — the driver gate pins that case against
    DuckDB.

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
    arrow_name = column_arrow_types(out_dir, [column])[column]
    is_int = arrow_name in _EXACT_ZONE_TYPES or arrow_name.startswith("timestamp[")
    if not is_int and arrow_name not in ("float", "double"):
        raise ValueError(
            f"quantile sketches cover numeric/timestamp columns; {column!r} "
            f"is {arrow_name}")
    m, missing = store_meta(out_dir, [column], ("params", "qsketch"))
    if "qsketch" in missing:
        raise ValueError("store has no quantile sketches (pre-qsample encode)")
    # a chunk with non-null values (non-null zones) must carry a sketch
    n_bad = sum(1 for blob, lo in zip(m["qsketch"], m["zmin_long"])
                if blob is None and lo is not None)
    if n_bad:
        raise ValueError(
            f"{n_bad} chunks of {column!r} lack quantile sketches "
            "(qsample-disabled encode) — merged ranks would be wrong; "
            "decode instead")
    n_values = sum(m["n_rows"]) - sum(map(_n_nulls, m["params"]))
    from ..kernel.qsample import qsample_parse

    pts, ws, exact = [], [], True
    for blob in m["qsketch"]:
        if blob is None:
            continue  # all-null chunk
        _, n, p = qsample_parse(blob)
        pts.append(p)
        ws.append(np.full(len(p), n / len(p)))
        exact &= len(p) == n
    if observer is not None:
        observer["n_values"] = n_values
        observer["exact"] = exact
    val_t = pa.int64() if is_int else pa.float64()
    schema = pa.schema([("q", pa.float64()), ("val", val_t)])
    if n_values == 0:
        return _local_df(spark, schema, [(float(q), None) for q in sorted(qs)])
    vals = np.concatenate(pts)
    order = np.argsort(vals, kind="stable")  # NaN sorts last (greatest)
    vals = vals[order]
    cum = np.cumsum(np.concatenate(ws)[order])
    # the point whose rank interval (cum - w, cum] covers each target rank
    # (ties are interchangeable: tied points share the value)
    targets = sorted(set(float(q) for q in qs))
    hit = np.searchsorted(cum, [max(q * n_values, 1e-9) for q in targets])
    # with weights n/k not dyadic (k not a power of two) the summed total
    # can round below N, past which t = N would find no point
    hit = np.minimum(hit, len(vals) - 1)
    return _local_df(spark, schema,
                     [(q, vals[i].item()) for q, i in zip(targets, hit)])


_PROFILE_SCHEMA = pa.schema(
    [("column", pa.string()), ("arrow_type", pa.string()),
     ("n_rows", pa.int64()), ("n_nulls", pa.int64()),
     ("n_chunks", pa.int64()), ("codecs", pa.string()),
     ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()),
     ("ratio_x100", pa.int64()), ("zmin_long", pa.int64()),
     ("zmax_long", pa.int64())])


def encoded_profile(spark, out_dir: str,
                    columns: list[str] | None = None) -> DataFrame:
    """Column profile of an encoded store from metadata alone — the
    ``DESCRIBE``/profiling pass a pipeline runs before deciding layouts,
    filters, and codecs, answered without reading a payload byte.

    One driver-side fold of the planner's metadata read (no Spark job)
    gives per column:

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
    column_arrow_types(out_dir, columns)
    m, missing = store_meta(out_dir, columns or None, ("raw_bytes", "params"))
    per: dict = {}
    for col, codec, n, enc, raw, lo, hi, params in zip(
            m["column"], m["codec"], m["n_rows"], m["enc_bytes"],
            m["raw_bytes"], m["zmin_long"], m["zmax_long"], m["params"]):
        if col not in per:
            per[col] = [json.loads(params).get("arrow_type"), 0, 0, 0, set(),
                        None, None, None, None]
        acc = per[col]
        acc[1] += n
        acc[2] += _n_nulls(params)
        acc[3] += 1
        acc[4].add(codec)
        acc[5], acc[6] = _fold(add, acc[5], raw), _fold(add, acc[6], enc)
        acc[7], acc[8] = _fold(min, acc[7], lo), _fold(max, acc[8], hi)
    rows = []
    for col in sorted(per):
        atype, n, nulls, chunks, codecs, raw, enc, lo, hi = per[col]
        # Spark's arithmetic: double division, then truncation to bigint
        ratio = None if raw is None else int(
            float(raw * 100) / float(max(enc or 1, 1)))
        rows.append((col, atype, n, nulls, chunks,
                     ",".join(sorted(c for c in codecs if c is not None)),
                     raw, enc, ratio, lo, hi))
    df = _local_df(spark, _PROFILE_SCHEMA, rows)
    # a store written before zone maps reports no zone columns
    return df.drop("zmin_long", "zmax_long") if "zmin_long" in missing else df


_ADVICE_SCHEMA = pa.schema(
    [("column", pa.string()), ("n_chunks", pa.int64()),
     ("span_frac_x1000", pa.int64()),
     ("est_chunks_scanned_per_point", pa.int64()),
     ("clustered", pa.bool_())])


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

    One driver-side fold of the planner's metadata read (same read as
    ``encoded_profile``, no Spark job): seconds against a 100 TB store.
    Widths and ranges are exact Python ints, so zone keys spanning more
    than the int64 range cannot overflow. Constant columns (zero global
    range) prune perfectly by equality already and report span 0 /
    clustered true."""
    _require_no_deletes(out_dir, 'advise_layout')
    column_arrow_types(out_dir, columns)
    m, missing = store_meta(out_dir, columns or None)
    if "zmin_long" in missing:
        raise ValueError("store has no zone maps (pre-zone encode); "
                         "advise_layout reads zone keys")
    per: dict = {}  # column -> [n_chunks, sum of widths, zmin, zmax]
    for col, lo, hi in zip(m["column"], m["zmin_long"], m["zmax_long"]):
        # columns whose chunks carry no zone keys can't be advised — skip
        # their rows rather than reporting a fake perfect score
        if lo is None or hi is None:
            continue
        acc = per.setdefault(col, [0, 0.0, lo, hi])
        acc[0] += 1
        acc[1] += float(hi - lo)  # Spark's avg sums doubles
        acc[2], acc[3] = min(acc[2], lo), max(acc[3], hi)
    rows = []
    for col, (n, widths, lo, hi) in per.items():
        rng = max(hi - lo, 0)
        span = 0 if rng == 0 else int(widths / n * 1000 / max(rng, 1))
        rows.append((col, n, span, max(int(span * n / 1000), 1),
                     span <= 4 * (1000 / n)))
    rows.sort(key=lambda r: (r[2], r[0]))
    return _local_df(spark, _ADVICE_SCHEMA, rows)


def stores_column_stats(spark, out_dirs: "list[str]",
                        columns: list[str]) -> DataFrame:
    """``encoded_column_stats`` over a FAMILY of shard stores: per-store
    metadata folds (payload-free, no Spark job) re-reduced into one row
    per column — sum of row counts, min of zone minima, max of zone
    maxima. Exactness follows from each store's own guarantee (exact
    int/ts zones); a shard missing the column, lacking zones, or carrying
    deletes raises exactly as the single-store form does."""
    if not out_dirs:
        raise ValueError("stores_column_stats needs at least one store")
    return _zone_stats(spark, out_dirs, columns)


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
    shard's per-chunk HLL blobs merge on the driver exactly like chunks of
    a single store (register max is associative across stores). Values
    repeated across shards — the same url re-crawled on many days — count
    ONCE, matching ``COUNT(DISTINCT)`` over the unioned family: that's
    HLL's set-union semantics, not an assumption of shard disjointness.
    No payload byte is read anywhere, and no Spark job starts. Shards must
    agree on the column's type (a drifted shard hashes the same logical
    value differently, which would over-count) and every chunk must carry
    a sketch."""
    if not out_dirs:
        raise ValueError("stores_ndv needs at least one store")
    return _ndv(out_dirs, columns, "stores_ndv")


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
