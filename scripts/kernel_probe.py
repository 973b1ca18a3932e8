#!/usr/bin/env python3
"""Single-core microbench of the native FSST encode/decode kernels.

Isolates the C match loop from the Spark/Arrow envelope (guide §1.4): loads
one web-corpus file's text columns, trains tables once, then times
``encode_chunk_native`` / ``decode_chunk_native`` over warm repetitions.
Prints min/median MB/s per kernel. Not read by the driver.

Usage: python scripts/kernel_probe.py [--reps 9] [--file N]
"""
from __future__ import annotations

import argparse
import glob
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=9)
    ap.add_argument("--file", type=int, default=0)
    ap.add_argument("--corpus", default=None)
    args = ap.parse_args()

    from fsst_spark.kernel import fsst as fsst_mod
    from fsst_spark.kernel import native

    corpus = args.corpus or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH", "webcorpus_cache", "sf0.1")
    f = sorted(glob.glob(os.path.join(corpus, "*.parquet")))[args.file]
    tbl = pq.read_table(f)
    lib = native.get_lib()
    if lib is None:
        print("no compiler; native kernel unavailable")
        return

    total_results = {}
    for col in tbl.column_names:
        arr = tbl.column(col).combine_chunks()
        if not (pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type)):
            continue
        vals = [v.as_py().encode() if v.is_valid else b"" for v in arr]
        raw = b"".join(vals)
        if len(raw) < 1 << 20:
            continue
        data = np.frombuffer(raw, dtype=np.uint8)
        offs = np.zeros(len(vals) + 1, dtype=np.int64)
        np.cumsum(np.fromiter((len(v) for v in vals), dtype=np.int64,
                              count=len(vals)), out=offs[1:])
        from fsst_spark.kernel.fsst_vec import EncoderTables

        comp = fsst_mod.train(vals)
        tabs = EncoderTables.from_compressor(comp)

        enc_walls, dec_walls = [], []
        enc = native.encode_chunk_native(data, offs, tabs)
        codes, coffs = enc
        sym_mat, sym_lens = tabs.sym_mat, tabs.sym_lens
        for _ in range(args.reps):
            t0 = time.perf_counter()
            native.encode_chunk_native(data, offs, tabs)
            enc_walls.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            native.decode_chunk_native(codes, coffs, sym_mat, sym_lens)
            dec_walls.append(time.perf_counter() - t0)
        mb = len(raw) / 1e6
        res = {
            "raw_mb": round(mb, 2),
            "enc_mb_s_best": round(mb / min(enc_walls), 1),
            "enc_mb_s_med": round(mb / statistics.median(enc_walls), 1),
            "dec_mb_s_best": round(mb / min(dec_walls), 1),
            "dec_mb_s_med": round(mb / statistics.median(dec_walls), 1),
        }
        total_results[col] = res
        print(col, res, flush=True)
    if total_results:
        for k in ("enc_mb_s_best", "dec_mb_s_best"):
            tot_mb = sum(r["raw_mb"] for r in total_results.values())
            tot_s = sum(r["raw_mb"] / r[k] for r in total_results.values())
            print(f"aggregate {k}: {tot_mb / tot_s:.1f} MB/s")


if __name__ == "__main__":
    main()
