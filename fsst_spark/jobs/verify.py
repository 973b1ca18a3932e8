"""Verification jobs: bit-identical round-trip gates.

Two independent gates (SURVEY.md sec 3.4):

1. ``verify_chunks`` — self-contained: decode every chunk and compare the
   recomputed canonical checksum against the checksum recorded at encode
   time (reference round-trip semantics, tests/correctness.rs). Needs no
   access to the source table, so it runs anywhere the encoded data lives.

2. ``verify_against_source`` — order-insensitive multiset equality between
   the decoded table and the original DataFrame: per-row xxhash64 over all
   columns, compared via count + sum + xor-like aggregate. No join, one
   aggregate per side — O(rows) with a single reduce, no shuffle of data.
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..kernel.codecs import decode_column
from .encode import canonical_bytes


def verify_chunks(spark, out_dir: str) -> DataFrame:
    """Per-chunk checksum verification. Returns (pid, chunk_id, column, ok).

    File tasks (``plan.file_tasks_df``) over the store's chunk files, one
    pyarrow read per file: the check touches exactly the columns it needs
    and no payload byte crosses the JVM. Raises FileNotFoundError when the
    store has no chunk file."""
    from .plan import chunk_files, file_tasks_df, task_files

    read = ["pid", "chunk_id", "column", "codec", "params", "payload",
            "n_rows", "checksum"]

    def check_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for path, _ in task_files(batches):
            out = []
            for row in pq.read_table(path, columns=read).to_pylist():
                arr = decode_column(
                    {"codec": row["codec"], "params": json.loads(row["params"]),
                     "payload": row["payload"]})
                out.append(
                    {"pid": row["pid"], "chunk_id": row["chunk_id"],
                     "column": row["column"], "n_rows": row["n_rows"],
                     "ok": canonical_bytes(arr) == row["checksum"]})
            if out:
                yield pa.RecordBatch.from_pylist(out, schema=_CHECK_SCHEMA)

    files = [(path, None) for _, path in chunk_files(out_dir)]
    return file_tasks_df(spark, files).mapInArrow(
        check_files,
        "pid int, chunk_id int, column string, n_rows bigint, ok boolean")


_CHECK_SCHEMA = pa.schema(
    [("pid", pa.int32()), ("chunk_id", pa.int32()), ("column", pa.string()),
     ("n_rows", pa.int64()), ("ok", pa.bool_())]
)


def _row_fingerprint(df: DataFrame, columns: list[str]):
    return df.select(F.xxhash64(*[F.col(c) for c in columns]).alias("h"))


def verify_against_source(original: DataFrame, decoded: DataFrame,
                          columns: list[str] | None = None) -> dict:
    """Order-insensitive multiset compare of decoded vs source rows.

    Aggregates per side: count, sum(h), sum(h*h mod p) — a collision on all
    three simultaneously is cryptographically unlikely for table-sized data.
    """
    columns = columns or [c for c in original.columns]
    p1, p2 = 2147483647, 2147483629  # 31-bit moduli: sums stay in int64 range

    def agg(df: DataFrame):
        h = _row_fingerprint(df, columns)
        row = h.agg(
            F.count("h").alias("n"),
            F.sum(F.pmod(F.col("h"), F.lit(p1))).alias("s1"),
            F.sum(F.pmod(F.xxhash64(F.col("h"), F.lit(7)), F.lit(p2))).alias("s2"),
        ).collect()[0]
        return (row["n"], row["s1"], row["s2"])

    a = agg(original.select(*columns))
    b = agg(decoded.select(*columns))
    return {"rows_source": a[0], "rows_decoded": b[0], "match": a == b,
            "fingerprint_source": a, "fingerprint_decoded": b}


def roundtrip_summary(spark, out_dir: str) -> DataFrame:
    """One-line-per-column summary joining manifest metrics + chunk checks."""
    checks = verify_chunks(spark, out_dir)
    return (
        checks.groupBy("column")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        )
        .withColumn("all_ok", F.col("n_ok") == F.col("n_chunks"))
    )
