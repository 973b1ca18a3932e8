"""In-memory encode->decode round-trip operators, driven from Spark.

These power the correctness-gate queries: every codec round-trips inside a
``mapInArrow`` task and emits per-row match flags (or per-chunk codec
metrics) that Spark aggregates. A mismatch anywhere shows up as
``n_match < n_rows`` — the bit-identical gate as a query result.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..kernel.codecs import chunk_stats, decode_column, encode_column


def _eq_flags(a: pa.Array, b: pa.Array) -> pa.Array:
    if pa.types.is_nested(a.type):
        # pc.equal has no list kernels; Array.equals is a buffer-level
        # compare — exactly the bit-identical gate (NaNs compare by bits).
        # Per-row fallback only runs on mismatch (bug-diagnosis path).
        import numpy as np

        if a.equals(b):
            return pa.array(np.ones(len(a), dtype=np.int32))
        return pa.array(
            [int(x == y) for x, y in zip(a.to_pylist(), b.to_pylist())],
            type=pa.int32())
    eq = pc.fill_null(pc.equal(a, b), False)
    if pa.types.is_floating(a.type):
        # Bit-identical NaN round-trips must count as equal (NaN != NaN
        # under pc.equal would falsely fail the gate on float columns).
        both_nan = pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False)
        eq = pc.or_(eq, both_nan)
    both_null = pc.and_(pc.is_null(a), pc.is_null(b))
    return pc.cast(pc.or_(eq, both_null), pa.int32())


def roundtrip_flags(df: DataFrame, value_col: str, keep_cols: list[str] | None = None) -> DataFrame:
    """DataFrame of keep_cols + ``ok int`` (1 iff decode(encode(v)) == v)."""
    keep_cols = keep_cols or []
    sel_cols = keep_cols + ([value_col] if value_col not in keep_cols else [])
    val_idx = sel_cols.index(value_col)
    keep_idx = [sel_cols.index(c) for c in keep_cols]
    ddl = ", ".join(
        [f"{c} {t}" for c, t in df.select(*keep_cols).dtypes] + ["ok int"]
    ) if keep_cols else "ok int"

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            arr = batch.column(val_idx)
            enc = encode_column(arr)
            dec = decode_column(enc)
            flags = _eq_flags(arr.cast(dec.type) if arr.type != dec.type else arr, dec)
            arrays = [batch.column(i) for i in keep_idx] + [flags]
            yield pa.RecordBatch.from_arrays(arrays, names=[*keep_cols, "ok"])

    return df.select(*sel_cols).mapInArrow(run, ddl)


CODEC_SUMMARY_DDL = (
    "column string, codec string, n_rows bigint, raw_bytes bigint, "
    "enc_bytes bigint, n_match bigint"
)


def codec_summary(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Per (column, codec) totals: rows, raw/encoded bytes, row matches."""
    from .encode import raw_size_of

    cols = columns or df.columns

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            for name in cols:
                arr = batch.column(name)
                enc = encode_column(arr, chunk_stats(arr))
                dec = decode_column(enc)
                ok = pc.sum(_eq_flags(arr, dec)).as_py() or 0
                rows.append(
                    {"column": name, "codec": enc["codec"], "n_rows": len(arr),
                     "raw_bytes": raw_size_of(arr), "enc_bytes": len(enc["payload"]),
                     "n_match": int(ok)}
                )
            yield pa.RecordBatch.from_pylist(rows, schema=_SUMMARY_SCHEMA)

    out = df.select(*cols).mapInArrow(run, CODEC_SUMMARY_DDL)
    return (
        out.groupBy("column", "codec")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum("n_match").alias("n_match"),
        )
        .withColumn("ratio", F.round(F.col("raw_bytes") / F.greatest(F.col("enc_bytes"), F.lit(1)), 3))
        .orderBy("column", "codec")
    )


_SUMMARY_SCHEMA = pa.schema(
    [("column", pa.string()), ("codec", pa.string()), ("n_rows", pa.int64()),
     ("raw_bytes", pa.int64()), ("enc_bytes", pa.int64()), ("n_match", pa.int64())]
)
