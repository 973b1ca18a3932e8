"""spark-submit entry point for the fsst_spark jobs.

Usage (cluster):
    zip -r fsst_spark.zip fsst_spark
    spark-submit --py-files fsst_spark.zip fsst_spark/jobs/cli.py \
        encode --input s3://corpus/webpages --out s3://encoded/v1 \
        --partitions 4096 --group-by lang

    spark-submit --py-files fsst_spark.zip fsst_spark/jobs/cli.py \
        verify --data s3://encoded/v1
    spark-submit --py-files fsst_spark.zip fsst_spark/jobs/cli.py \
        decode --data s3://encoded/v1 --out s3://decoded/v1

Local (this sandbox): ``python -m fsst_spark.jobs.cli <cmd> ...`` with
SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS controlling the local master.

Resume: re-running ``encode`` with the same --out skips partitions that
already committed a manifest row (idempotent, per-partition checkpointing).
"""

from __future__ import annotations

import argparse
import json
import sys


def _split_top_level(raw: str) -> list[str]:
    """Split on commas OUTSIDE parentheses: ``zorder(a,b), lang`` ->
    ``['zorder(a,b)', 'lang']``."""
    out, depth, cur = [], 0, []
    for ch in raw:
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
            continue
        depth += (ch == "(") - (ch == ")")
        cur.append(ch)
    out.append("".join(cur).strip())
    return [e for e in out if e]


def _parse_cluster_by(raw: str | None):
    """--cluster-by grammar: comma-separated entries, each a plain column
    name, ``url_sort_key(COL)``, or ``zorder(COL1,COL2,...)``. Returns
    (names, exprs): ``exprs`` is non-empty iff any entry is an expression,
    in which case ALL entries are returned as factories ``df -> Column``
    (expressions force the DataFrame-scan path — the file-granular path
    sorts pyarrow-side and takes names only; zorder additionally needs the
    frame to sample its quantile bucket boundaries)."""
    if not raw:
        return [], []
    import re

    entries = _split_top_level(raw)
    has_expr = any("(" in e for e in entries)
    if not has_expr:
        return entries, []
    from pyspark.sql import functions as F

    from fsst_spark.jobs.layout import url_sort_key

    exprs = []
    for e in entries:
        m = re.fullmatch(r"url_sort_key\(\s*([A-Za-z0-9_]+)\s*\)", e)
        z = re.fullmatch(r"zorder\(\s*([A-Za-z0-9_,\s]+?)\s*\)", e)
        if m:
            col = m.group(1)
            exprs.append(lambda df, c=col: url_sort_key(F.col(c)))
        elif z:
            zcols = [c.strip() for c in z.group(1).split(",") if c.strip()]
            if len(zcols) < 2:
                raise ValueError("zorder(...) needs at least two columns")

            def _zk(df, cs=tuple(zcols)):
                from fsst_spark.jobs.layout import zorder_key

                return zorder_key(df, list(cs))

            exprs.append(_zk)
        elif "(" in e:
            raise ValueError(
                f"unsupported --cluster-by expression {e!r}: only "
                "url_sort_key(COL), zorder(COL,...) or plain column names "
                "are accepted")
        else:
            exprs.append(lambda df, c=e: F.col(c))
    return [], exprs


def _coerce_where(arrow_name: str, raw: str):
    """CLI --where VALUE -> the filter column's type category."""
    if arrow_name.startswith("int"):
        return int(raw)
    if arrow_name in ("float", "double"):
        return float(raw)
    if arrow_name.startswith("timestamp["):
        # raw int = storage-unit ticks; else ISO-8601 (decode parses it)
        return int(raw) if raw.lstrip("-").isdigit() else raw
    return raw  # string/binary columns keep the text verbatim


def _parse_where(spark, data_dir: str, where: list[str]) -> list[tuple]:
    """COL:OP:VALUE clauses -> typed (col, op, value) filters.

    Each VALUE is coerced by the COLUMN's stored type, not by whether the
    text looks numeric: zero-padded string ids must stay strings (an int
    against pack8 prefix zones would prune every chunk and silently
    return nothing)."""
    from fsst_spark.jobs.decode import column_arrow_types

    types = column_arrow_types(data_dir)
    filters = []
    for clause in where:
        col, op, raw = clause.split(":", 2)
        if col not in types:
            raise KeyError(f"column {col!r} not in encoded data")
        val = ([_coerce_where(types[col], v) for v in raw.split(",")]
               if op == "in" else _coerce_where(types[col], raw))
        filters.append((col, op, val))
    return filters


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="fsst_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="encode a table into chunks + manifest")
    enc.add_argument("--input", required=True,
                     help="input parquet path or iceberg:<catalog.db.table>")
    enc.add_argument("--out", required=True, help="output dir (chunks/ + manifest/)")
    enc.add_argument("--partitions", type=int, default=None)
    enc.add_argument("--group-by", default=None, help="comma-separated skew group cols (e.g. lang)")
    enc.add_argument("--unique-col", default="url")
    enc.add_argument("--chunk-mb", type=int, default=32)
    enc.add_argument("--columns", default=None, help="comma-separated column subset")
    enc.add_argument("--cluster-by", default=None,
                     help="comma-separated layout sort keys applied before "
                          "encoding — makes zone maps selective for "
                          "selective decode. Plain column names, or "
                          "url_sort_key(COL) for the scheme-stripped "
                          "host-reversed URL key (e.g. "
                          "--cluster-by 'url_sort_key(url)')")
    enc.add_argument("--no-resume", action="store_true")
    enc.add_argument("--bloom-bits", type=int, default=10, metavar="N",
                     help="bloom filter bits per value for ==/IN chunk "
                          "pruning (0 disables; default 10 ≈ 1%% fp)")
    enc.add_argument("--hll-p", type=int, default=10, metavar="P",
                     help="HLL register bits for metadata NDV "
                          "(0 disables; default 10 ≈ 3%% error, 1 KiB/chunk)")

    dec = sub.add_parser("decode", help="decode chunks back to a parquet table")
    dec.add_argument("--data", required=True,
                     help="store dir, or a comma-separated shard FAMILY "
                          "(unioned with per-store pruning; composes with "
                          "--where/--where-any/--columns)")
    dec.add_argument("--out", default=None,
                     help="output dir (required unless --plan-only)")
    dec.add_argument("--plan-only", action="store_true",
                     help="print the scan plan (chunks/rows/bytes kept vs "
                          "total after zone+dict+bloom pruning) as one "
                          "JSON line and decode nothing — metadata-only, "
                          "interactive even against a 100 TB store")
    dec.add_argument("--columns", default=None)
    dec.add_argument("--where", action="append", default=None, metavar="COL:OP:VALUE",
                     help="selective decode via zone maps, e.g. doc_id:>=:1000 "
                          "or lang:in:de,fr; repeatable (conjunction: every "
                          "predicate must hold). Ops: >= > <= < == in "
                          "(comma-separated values) prefix (string LIKE "
                          "'VALUE%%') contains suffix (string LIKE "
                          "'%%VALUE') rlike (Java regex, "
                          "dictionary-pruned when the pattern is "
                          "alignment-safe). VALUE is coerced to the "
                          "COLUMN's type (int/float/timestamp-ISO/string) — a "
                          "string column keeps numeric-looking text as text")
    dec.add_argument("--where-any", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="disjunctive predicates (at least ONE must hold); "
                          "same grammar as --where; combines with --where "
                          "as AND(--where) AND OR(--where-any)")
    dec.add_argument("--as-of", type=int, default=None, metavar="N",
                     help="time travel: decode the store as of commit log "
                          "entry N (entries 0..N; the store needs a commit "
                          "log — datasource writes log automatically, job "
                          "stores via log_commit_snapshot)")
    dec.add_argument("--since", type=int, default=None, metavar="N",
                     help="incremental read: decode only rows appended by "
                          "commit entries N+1..--until (CDC-style; -1 reads "
                          "from the first entry). Composes with --where; "
                          "mutually exclusive with --as-of")
    dec.add_argument("--until", type=int, default=None, metavar="M",
                     help="upper commit entry for --since (default: latest)")
    dec.add_argument("--limit", type=int, default=None, metavar="N",
                     help="LIMIT pushdown: return N rows decoding only the "
                          "chunks the limit needs (composes with --where)")
    dec.add_argument("--ordered", action="store_true",
                     help="write the decoded rows in global (pid, chunk_id"
                          ", row) order — cluster-key order on a clustered "
                          "store — tasks read chunk files in pid order, "
                          "no shuffle or row-level sort (plain full decode "
                          "only: excludes --where/--limit/--sample/"
                          "--since)")
    dec.add_argument("--sample", type=int, default=None, metavar="N",
                     help="uniform deterministic row sample of ~N rows "
                          "decoding only the chunks the sample needs "
                          "(two-stage content-keyed selection; needs "
                          "--sample-key; excludes --where/--limit/"
                          "--since/--as-of)")
    dec.add_argument("--sample-key", default=None, metavar="COL",
                     help="distinct-per-row column keying the row stage "
                          "of --sample")
    dec.add_argument("--partition-by", default=None, metavar="COL[,COL]",
                     help="write the decoded parquet partitioned by these "
                          "columns (hive layout: <out>/col=value/...)")

    ver = sub.add_parser("verify", help="chunk checksum round-trip verification")
    ver.add_argument("--data", required=True)

    dlt = sub.add_parser(
        "delete",
        help="tombstone rows matching a predicate (merge-on-read position "
             "deletes; reads apply them, metadata fast paths refuse until "
             "materialized)")
    dlt.add_argument("--data", required=True)
    dlt.add_argument("--where", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="conjunctive predicates (same grammar as decode "
                          "--where); repeatable")
    dlt.add_argument("--where-any", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="disjunctive predicates (same grammar); combines "
                          "with --where as AND(--where) AND OR(--where-any)")

    upd = sub.add_parser(
        "update",
        help="UPDATE rows matching a predicate (merge-on-read: append new "
             "versions, tombstone originals)")
    upd.add_argument("--data", required=True)
    upd.add_argument("--set", action="append", required=True,
                     metavar="COL=EXPR", dest="set_exprs",
                     help="SET clause, repeatable; EXPR is a Spark SQL "
                          "expression over the OLD row, e.g. "
                          "--set 'n_chars=n_chars + 1'")
    upd.add_argument("--where", action="append", default=None,
                     metavar="COL:OP:VALUE")
    upd.add_argument("--where-any", action="append", default=None,
                     metavar="COL:OP:VALUE")
    upd.add_argument("--chunk-bytes", type=int, default=16 << 20)

    cdl = sub.add_parser(
        "compact-deletes",
        help="merge the tombstone dataset into few (pid,chunk_id,pos)-"
             "sorted files — restores read-side delete overhead after "
             "many delete/update calls, no payload touched")
    cdl.add_argument("--data", required=True)
    cdl.add_argument("--rows-per-file", type=int, default=50_000_000)

    mat = sub.add_parser(
        "materialize-deletes",
        help="fold tombstones into a NEW store (decode -> re-encode); "
             "restores every metadata/sketch fast path")
    mat.add_argument("--data", required=True)
    mat.add_argument("--out", required=True)
    mat.add_argument("--unique-col", default=None,
                     help="rebalance on this column while rewriting "
                          "(default: shuffle-free per-partition rewrite)")
    mat.add_argument("--num-partitions", type=int, default=None)
    mat.add_argument("--chunk-bytes", type=int, default=16 << 20)

    drp = sub.add_parser(
        "drop-column",
        help="hide a column from every reader in O(1) (metadata-only "
             "schema evolution; payloads untouched, undo with "
             "undrop-column, physical purge on any recluster)")
    drp.add_argument("--data", required=True)
    drp.add_argument("--column", required=True)
    udr = sub.add_parser("undrop-column",
                         help="restore a dropped column")
    udr.add_argument("--data", required=True)
    udr.add_argument("--column", required=True)

    adc = sub.add_parser(
        "add-column",
        help="ADD COLUMN in O(1) (metadata-only): decode readers see it "
             "immediately as NULL for pre-add chunks; appends must carry "
             "it; fast-path aggregates see it after a rewrite")
    adc.add_argument("--data", required=True)
    adc.add_argument("--column", required=True)
    adc.add_argument("--type", required=True,
                     help="arrow type name: int64, string, double, "
                          "timestamp[us], ...")

    rbk = sub.add_parser(
        "rollback",
        help="undo every append after commit entry N: retired chunk/"
             "manifest files move to <store>/trash (--hard unlinks), "
             "their tombstone rows drop, the commit log truncates")
    rbk.add_argument("--data", required=True)
    rbk.add_argument("--to", type=int, required=True, metavar="N",
                     help="last commit entry to KEEP (-1 empties the store)")
    rbk.add_argument("--hard", action="store_true",
                     help="unlink retired files instead of trashing them")

    vac = sub.add_parser(
        "vacuum",
        help="garbage-collect chunk/manifest files no commit entry names "
             "(aborted-write leftovers; datasource/stream stores only)")
    vac.add_argument("--data", required=True)
    vac.add_argument("--hard", action="store_true")
    vac.add_argument("--empty-trash", action="store_true",
                     help="also permanently delete <store>/trash")

    hst = sub.add_parser(
        "history",
        help="full audit timeline: every commit, mutation (delete/update/"
             "merge/rollback/vacuum/compaction) and schema entry "
             "(driver-side, no cluster)")
    hst.add_argument("--data", required=True)

    fsk = sub.add_parser(
        "fsck",
        help="structural integrity audit: chunk/manifest pairing, commit "
             "log contiguity, dangling tombstones (driver-side, no "
             "cluster; --deep opens footers for row-count cross-checks — "
             "payload checksums are the cluster `verify` job)")
    fsk.add_argument("--data", required=True,
                     help="store dir, or a comma-separated shard family "
                          "(each store audits independently; exit 3 if "
                          "any has damage)")
    fsk.add_argument("--deep", action="store_true")

    sts = sub.add_parser(
        "status",
        help="one-line store status: schema, mode, files/bytes, commits, "
             "tombstones, recent mutations (driver-side, no cluster)")
    sts.add_argument("--data", required=True)

    adv = sub.add_parser(
        "advise",
        help="layout advisor: per-column zone selectivity from metadata "
             "(span fraction = expected share of chunks a point lookup "
             "scans); pick --cluster-by keys from the scattered columns")
    adv.add_argument("--data", required=True)
    adv.add_argument("--columns", default=None, help="comma-separated subset")

    adc = sub.add_parser(
        "advise-codecs",
        help="pre-encode codec advisor: predict per-column codec choice "
             "and compression ratio from a sample (the encoder's own "
             "selector on sample data) before running the full job")
    adc.add_argument("--input", required=True,
                     help="input parquet path or iceberg:<catalog.db.table>")
    adc.add_argument("--columns", default=None, help="comma-separated subset")
    adc.add_argument("--sample-rows", type=int, default=20000)
    adc.add_argument("--key-col", default=None,
                     help="content-keyed unbiased sampling on this column "
                          "(default: head sample — cheaper, but biased "
                          "under value clustering)")

    sta = sub.add_parser("stats",
                         help="column stats from an encoded store: count/min/max "
                              "from chunk metadata (zero payload reads for "
                              "int/timestamp; --exact-minmax also answers "
                              "string/float by decoding only the zone-boundary "
                              "chunks)")
    sta.add_argument("--data", required=True)
    sta.add_argument("--columns", required=True, help="comma-separated")
    sta.add_argument("--exact-minmax", action="store_true")
    sta.add_argument("--sum", action="store_true",
                     help="exact sum/count/avg for int columns from per-"
                          "chunk stored sums — payload-free except chunks "
                          "with nulls or tombstones, which decode "
                          "individually")
    sta.add_argument("--strlen", action="store_true",
                     help="octet_length aggregates for string/binary columns "
                          "(count/sum/avg/min/max of decoded byte lengths) "
                          "parsed from the encoded form without decoding")

    prf = sub.add_parser("profile",
                         help="column profile from metadata alone: rows, "
                              "nulls, chunks, codec mix, bytes, ratio, "
                              "zone bounds (no payload reads)")
    prf.add_argument("--data", required=True)
    prf.add_argument("--columns", default=None, help="comma-separated; "
                     "default all")

    ndv = sub.add_parser("ndv",
                         help="approx distinct counts from per-chunk HLL "
                              "sketches — metadata-only, no payload reads "
                              "(~3% standard error)")
    ndv.add_argument("--data", required=True)
    ndv.add_argument("--columns", required=True, help="comma-separated")

    qtl = sub.add_parser("quantiles",
                         help="approx percentiles from per-chunk quantile "
                              "sketches — metadata-only, no payload reads "
                              "(exact when chunks hold <= k values)")
    qtl.add_argument("--data", required=True)
    qtl.add_argument("--column", required=True)
    qtl.add_argument("--q", default="0.25,0.5,0.75",
                     help="comma-separated fractions in [0,1]")

    tpk = sub.add_parser("topk",
                         help="ORDER BY col [DESC] LIMIT k from an encoded "
                              "store — zone maps bound the k-th value and "
                              "only candidate chunks decode")
    tpk.add_argument("--data", required=True)
    tpk.add_argument("--column", required=True)
    tpk.add_argument("-k", type=int, default=10)
    tpk.add_argument("--ascending", action="store_true",
                     help="bottom-k instead of top-k")

    dst = sub.add_parser("distinct",
                         help="SELECT DISTINCT col from an encoded store — "
                              "dict chunks answer from dictionary sections "
                              "alone, codes stay encoded")
    dst.add_argument("--data", required=True)
    dst.add_argument("--column", required=True)

    cpt = sub.add_parser("compact",
                         help="merge many small chunk files into few (payloads "
                              "copied verbatim — no decode; checksums/zones "
                              "preserved, layout order kept)")
    cpt.add_argument("--data", required=True, help="existing encoded store")
    cpt.add_argument("--out", required=True, help="compacted store (new dir)")
    cpt.add_argument("--target-files", type=int, default=None,
                     help="output chunk-file count, at most the input's "
                          "(default: input/8)")

    rcl = sub.add_parser("recluster",
                         help="re-layout an encoded store on a cluster key "
                              "(decode -> range-sort -> re-encode) so zone "
                              "maps prune on that key")
    rcl.add_argument("--data", required=True, help="existing encoded store")
    rcl.add_argument("--out", required=True, help="re-clustered store (new dir)")
    rcl.add_argument("--cluster-by", required=True,
                     help="same grammar as encode --cluster-by")
    rcl.add_argument("--partitions", type=int, default=None)

    mrg = sub.add_parser("merge",
                         help="consolidate a shard family (store-per-day "
                              "layout) into one store, optionally "
                              "re-clustered")
    mrg.add_argument("--inputs", required=True,
                     help="comma-separated source store dirs")
    mrg.add_argument("--out", required=True, help="merged store (new dir)")
    mrg.add_argument("--cluster-by", default=None,
                     help="same grammar as encode --cluster-by")
    mrg.add_argument("--partitions", type=int, default=None)
    mrg.add_argument("--unique-col", default="url",
                     help="skew-salting key for the re-encode")

    grp = sub.add_parser("group-stats",
                         help="GROUP BY over an encoded store answered from "
                              "codec structure (dict codes / RLE runs) — "
                              "count per key, optionally sum of a column")
    grp.add_argument("--data", required=True)
    grp.add_argument("--key", required=True, help="group-by column")
    grp.add_argument("--sum", default=None, help="int/float column to sum")
    grp.add_argument("--strlen", default=None, metavar="COL",
                     help="string/binary column: per-key count/sum/avg/"
                          "min/max of decoded byte lengths (octet_length) "
                          "parsed from the encoded form — the column is "
                          "never decoded")
    grp.add_argument("--stats", default=None, metavar="COL",
                     help="int column: the complete per-key aggregate set "
                          "count(*)/count(col)/sum/avg/min/max in one "
                          "chunk-local pass")
    grp.add_argument("--ndv", default=None, metavar="COL",
                     help="exact count(DISTINCT COL) per key: chunks "
                          "reduce to their distinct (key, value) pairs "
                          "before the shuffle (dict codes on both sides "
                          "where available)")
    grp.add_argument("--minmax", default=None, metavar="COL",
                     help="exact min/max of COL per key for ANY column "
                          "type (strings included): min/max over per-chunk "
                          "distinct (key, value) pairs")
    grp.add_argument("--topk", default=None, metavar="COL",
                     help="top-K most frequent COL values per key "
                          "(heavy hitters): chunk-local pair counts, "
                          "dictionary-scale shuffle, deterministic "
                          "(cnt DESC, val ASC) tie rule")
    grp.add_argument("-k", type=int, default=10,
                     help="K for --topk (default 10)")
    grp.add_argument("--limit", type=int, default=50)
    grp.add_argument("--where", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="conjunctive WHERE before the GROUP BY; zone maps "
                          "and dict dictionaries prune non-matching chunks "
                          "before any payload read (same syntax as decode)")

    cnt = sub.add_parser("count",
                         help="count(*) WHERE ... answered tri-state from "
                              "zone metadata: fully-matching chunks count "
                              "from n_rows without decoding; only boundary "
                              "chunks decode (filter columns only)")
    cnt.add_argument("--data", required=True)
    cnt.add_argument("--where", action="append", default=None,
                     metavar="COL:OP:VALUE")
    cnt.add_argument("--where-any", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="disjunctive predicates (at least ONE must "
                          "hold); combines with --where as "
                          "AND(--where) AND OR(--where-any)")

    hst = sub.add_parser("histogram",
                         help="exact equi-width histogram of an int column "
                              "answered tri-state from zone metadata: "
                              "null-free chunks inside one bucket count "
                              "from n_rows without decoding; only bucket-"
                              "straddling chunks decode")
    hst.add_argument("--data", required=True)
    hst.add_argument("--column", required=True)
    hst.add_argument("--width", type=int, required=True,
                     help="bucket width (bucket = floor(value / width))")
    hst.add_argument("--where", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="conjunctive WHERE (disables the metadata arm; "
                          "every surviving chunk decodes)")
    hst.add_argument("--where-any", action="append", default=None,
                     metavar="COL:OP:VALUE",
                     help="disjunctive predicates; combines with --where "
                          "as AND(--where) AND OR(--where-any)")

    stm = sub.add_parser("stream-encode",
                         help="Structured-Streaming encode: drain new files into chunks+manifest")
    stm.add_argument("--input", required=True, help="table location watched for new files")
    stm.add_argument("--out", required=True)
    stm.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    stm.add_argument("--chunk-mb", type=int, default=32)
    stm.add_argument("--continuous", action="store_true",
                     help="keep running (default: availableNow drain + exit)")
    stm.add_argument("--max-files-per-trigger", type=int, default=None)

    jin = sub.add_parser(
        "join", help="equi-join two encoded stores (two-sided zone "
                     "pruning, runtime filter, small-side broadcast) "
                     "into a parquet table")
    jin.add_argument("--left", required=True, help="left store dir")
    jin.add_argument("--right", default=None, help="right store dir")
    jin.add_argument("--right-parquet", default=None, metavar="PATH",
                     help="join the left STORE against a plain parquet "
                          "table instead of a second store "
                          "(store_join_df: the parquet side's keys prune "
                          "the store's scan for inner/left_semi; how is "
                          "limited to inner/left/left_semi/left_anti)")
    jin.add_argument("--on", required=True,
                     help="join key column (comma-separate a composite key)")
    jin.add_argument("--how", default="inner",
                     choices=["inner", "left", "right", "full",
                              "left_semi", "left_anti"])
    jin.add_argument("--left-columns", default=None,
                     help="comma-separated projection of the left store")
    jin.add_argument("--right-columns", default=None,
                     help="comma-separated projection of the right store")
    jin.add_argument("--out", default=None, help="output parquet dir")
    jin.add_argument("--no-prune", action="store_true",
                     help="disable zone pruning and the runtime filter")
    jin.add_argument("--plan-only", action="store_true",
                     help="print kept/total chunk counts, row estimates "
                          "and the runtime-filter build side; run nothing")

    syn = sub.add_parser("synth", help="write a deterministic synthetic web corpus")
    syn.add_argument("--rows", type=int, required=True)
    syn.add_argument("--out", required=True)
    syn.add_argument("--seed", type=int, default=42)

    args = p.parse_args(argv)

    # pure-metadata admin commands: no Spark session (sub-second on a
    # laptop against a store of any size — they never read payload)
    if args.cmd == "status":
        from fsst_spark.jobs.schema import store_status

        print(json.dumps(store_status(args.data)))
        return 0
    if args.cmd == "history":
        from fsst_spark.jobs.schema import store_history

        print(json.dumps(store_history(args.data)))
        return 0
    if args.cmd == "fsck":
        from fsst_spark.jobs.admin import fsck_store

        dirs = [d for d in args.data.split(",") if d]
        if len(dirs) == 1:
            res = fsck_store(dirs[0], deep=args.deep)
        else:  # shard family: audit each store, aggregate the verdict
            per = [fsck_store(d, deep=args.deep) for d in dirs]
            res = {"ok": all(r["ok"] for r in per),
                   "stores": len(per),
                   "n_issues": sum(r["n_issues"] for r in per),
                   "per_store": per}
        print(json.dumps(res))
        return 0 if res["ok"] else 3
    if args.cmd == "rollback":
        from fsst_spark.jobs.admin import rollback_store

        print(json.dumps(rollback_store(args.data, args.to, hard=args.hard)))
        return 0
    if args.cmd == "vacuum":
        from fsst_spark.jobs.admin import empty_trash, vacuum_store

        res = vacuum_store(args.data, hard=args.hard)
        if args.empty_trash:
            res["emptied"] = empty_trash(args.data)
        print(json.dumps(res))
        return 0

    from fsst_spark.jobs.session import get_spark

    spark = get_spark(app_name=f"fsst_spark_{args.cmd}")
    try:
        if args.cmd == "encode":
            import os

            from fsst_spark.jobs.encode import (encode_files_job, encode_job,
                                                read_manifest)
            from fsst_spark.sources import read_table

            cols = args.columns.split(",") if args.columns else None
            sort_names, sort_exprs = _parse_cluster_by(args.cluster_by)
            plain_parquet = (os.path.isdir(args.input)
                             and not args.input.startswith("iceberg:"))
            if (plain_parquet and not args.group_by and not args.partitions
                    and not sort_exprs):
                # Fast path: file-granular columnar encode (pyarrow reads in
                # the task, no JVM row<->Arrow hop, no shuffle) — >2x the
                # DataFrame-scan arm on the same input. The scan arm stays
                # for --group-by / --partitions (need a repartition) and for
                # expression cluster keys (need Spark-side sort).
                metrics = encode_files_job(
                    spark, args.input, args.out, columns=cols,
                    chunk_bytes=args.chunk_mb << 20,
                    resume=not args.no_resume,
                    sort_key=sort_names or None,
                    bloom_bits_per_value=args.bloom_bits, hll_p=args.hll_p,
                    lineage={"source": args.input, "cli": True},
                ).collect()
            else:
                df_in = read_table(spark, args.input)
                metrics = encode_job(
                    spark,
                    df_in,
                    args.out,
                    columns=cols,
                    num_partitions=args.partitions,
                    group_cols=args.group_by.split(",") if args.group_by else None,
                    unique_col=args.unique_col,
                    chunk_bytes=args.chunk_mb << 20,
                    resume=not args.no_resume,
                    sort_key=([f(df_in) for f in sort_exprs]
                              if sort_exprs else (sort_names or None)),
                    bloom_bits_per_value=args.bloom_bits, hll_p=args.hll_p,
                    lineage={"source": args.input, "cli": True},
                ).collect()
            from pyspark.sql import functions as F

            m = read_manifest(spark, args.out).agg(
                F.count("*"), F.sum("raw_bytes"), F.sum("enc_bytes"), F.sum("n_rows")
            ).collect()[0]
            print(json.dumps({
                "encoded_partitions_this_run": len(metrics),
                "total_partitions": m[0], "raw_bytes": m[1], "enc_bytes": m[2],
                "rows": m[3], "ratio": round(m[1] / max(m[2], 1), 3),
            }))
        elif args.cmd == "decode":
            from fsst_spark.jobs.decode import (column_arrow_types,
                                                decode_changes,
                                                decode_filtered, decode_job)

            cols = args.columns.split(",") if args.columns else None
            if "," in args.data:
                # shard family: --data store1,store2,... unions per-store
                # selective decodes (decode_stores); snapshot/limit flags
                # are single-store concepts
                if args.since is not None or args.as_of is not None \
                        or args.limit is not None:
                    raise SystemExit("multi-store decode composes with "
                                     "--where/--where-any/--columns only")
                if not args.out and not args.plan_only:
                    raise SystemExit("decode needs --out (or --plan-only)")
                from fsst_spark.jobs.decode import decode_stores

                dirs = [d for d in args.data.split(",") if d]
                filters = (_parse_where(spark, dirs[0], args.where)
                           if args.where else None)
                any_flt = (_parse_where(spark, dirs[0], args.where_any)
                           if args.where_any else None)
                if args.plan_only:
                    from fsst_spark.jobs.decode import decode_stores_plan

                    print(json.dumps(decode_stores_plan(
                        spark, dirs, columns=cols, filters=filters,
                        any_filters=any_flt)))
                    return 0
                df = decode_stores(spark, dirs, columns=cols,
                                   filters=filters, any_filters=any_flt)
                w = df.write.mode("overwrite")
                if args.partition_by:
                    w = w.partitionBy(*args.partition_by.split(","))
                w.parquet(args.out)
                print(json.dumps({"decoded_to": args.out,
                                  "stores": len(dirs),
                                  "where": args.where,
                                  "where_any": args.where_any,
                                  "partition_by": args.partition_by}))
                return 0
            if args.since is not None and args.as_of is not None:
                raise SystemExit("pass --since OR --as-of, not both")
            if args.until is not None and args.since is None:
                raise SystemExit("--until needs --since")
            filters = (_parse_where(spark, args.data, args.where)
                       if args.where else None)
            any_flt = (_parse_where(spark, args.data, args.where_any)
                       if args.where_any else None)
            if args.plan_only:
                if args.since is not None or args.limit is not None:
                    raise SystemExit("--plan-only composes with --where/"
                                     "--where-any/--columns/--as-of only")
                from fsst_spark.jobs.decode import decode_plan

                print(json.dumps(decode_plan(
                    spark, args.data, columns=cols, filters=filters,
                    any_filters=any_flt, as_of=args.as_of)))
                return 0
            if not args.out:
                raise SystemExit("decode needs --out (or --plan-only)")
            if args.sample is not None:
                from fsst_spark.jobs.decode import decode_sample

                if (filters or any_flt or args.limit is not None
                        or args.since is not None or args.as_of is not None
                        or args.ordered):
                    raise SystemExit("--sample composes with --columns/"
                                     "--partition-by only")
                if not args.sample_key:
                    raise SystemExit("--sample needs --sample-key COL")
                df = decode_sample(spark, args.data, args.sample,
                                   args.sample_key, columns=cols)
            elif args.limit is not None:
                from fsst_spark.jobs.decode import decode_head

                if args.since is not None or args.as_of is not None \
                        or any_flt or args.ordered:
                    raise SystemExit("--limit composes with --where only")
                df = decode_head(spark, args.data, args.limit,
                                 columns=cols, filters=filters)
            elif args.since is not None:
                if args.ordered:
                    raise SystemExit("--ordered is a plain full decode "
                                     "(no --since)")
                df = decode_changes(spark, args.data, args.since, args.until,
                                    columns=cols, filters=filters,
                                    any_filters=any_flt)
            elif filters or any_flt:
                if args.ordered:
                    raise SystemExit("--ordered is a plain full decode "
                                     "(no --where/--where-any)")
                df = decode_filtered(spark, args.data, columns=cols,
                                     filters=filters, any_filters=any_flt,
                                     as_of=args.as_of)
            else:
                df = decode_job(spark, args.data, cols, as_of=args.as_of)
            w = df.drop("pid", "chunk_id").write.mode("overwrite")
            if args.partition_by:
                w = w.partitionBy(*args.partition_by.split(","))
            w.parquet(args.out)
            print(json.dumps({"decoded_to": args.out, "where": args.where,
                              "where_any": args.where_any,
                              "as_of": args.as_of, "since": args.since,
                              "until": args.until,
                              "partition_by": args.partition_by}))
        elif args.cmd == "delete":
            from fsst_spark.jobs.deletes import delete_where

            if not args.where and not args.where_any:
                raise SystemExit("delete needs --where and/or --where-any")
            filters = (_parse_where(spark, args.data, args.where)
                       if args.where else None)
            any_flt = (_parse_where(spark, args.data, args.where_any)
                       if args.where_any else None)
            res = delete_where(spark, args.data, filters=filters,
                               any_filters=any_flt)
            print(json.dumps({"store": args.data, "where": args.where,
                              "where_any": args.where_any, **res}))
        elif args.cmd == "update":
            from fsst_spark.jobs.updates import update_where

            if not args.where and not args.where_any:
                raise SystemExit("update needs --where and/or --where-any")
            set_exprs = {}
            for s in args.set_exprs:
                if "=" not in s:
                    raise SystemExit(f"--set needs COL=EXPR, got {s!r}")
                c, e = s.split("=", 1)
                set_exprs[c.strip()] = e.strip()
            filters = (_parse_where(spark, args.data, args.where)
                       if args.where else None)
            any_flt = (_parse_where(spark, args.data, args.where_any)
                       if args.where_any else None)
            res = update_where(spark, args.data, set_exprs, filters=filters,
                               any_filters=any_flt,
                               chunk_bytes=args.chunk_bytes)
            print(json.dumps({"store": args.data, "set": args.set_exprs,
                              "where": args.where, **res}))
        elif args.cmd == "compact-deletes":
            from fsst_spark.jobs.deletes import compact_deletes

            print(json.dumps(compact_deletes(
                spark, args.data, rows_per_file=args.rows_per_file)))
        elif args.cmd == "materialize-deletes":
            from fsst_spark.jobs.deletes import materialize_deletes

            rows = materialize_deletes(
                spark, args.data, args.out, unique_col=args.unique_col,
                num_partitions=args.num_partitions,
                chunk_bytes=args.chunk_bytes).collect()
            print(json.dumps({"store": args.out,
                              "partitions": len(rows),
                              "rows": sum(r["n_rows"] for r in rows)}))
        elif args.cmd == "add-column":
            from fsst_spark.jobs.schema import add_column, added_columns

            add_column(args.data, args.column, args.type)
            print(json.dumps({"store": args.data, "column": args.column,
                              "action": "add-column",
                              "added": added_columns(args.data)}))
        elif args.cmd in ("drop-column", "undrop-column"):
            from fsst_spark.jobs.schema import (
                drop_column,
                dropped_columns,
                undrop_column,
            )

            if args.cmd == "drop-column":
                drop_column(args.data, args.column)
            else:
                undrop_column(args.data, args.column)
            print(json.dumps({"store": args.data, "column": args.column,
                              "action": args.cmd,
                              "dropped": sorted(dropped_columns(args.data))}))
        elif args.cmd == "verify":
            from pyspark.sql import functions as F

            from fsst_spark.jobs.verify import roundtrip_summary

            rows = roundtrip_summary(spark, args.data).collect()
            ok = all(r["all_ok"] for r in rows)
            print(json.dumps({
                "ok": ok,
                "columns": {r["column"]: {"chunks": r["n_chunks"], "rows": r["n_rows"],
                                          "ok": r["n_ok"]} for r in rows},
            }))
            return 0 if ok else 2
        elif args.cmd == "advise":
            from fsst_spark.jobs.stats import advise_layout

            cols = args.columns.split(",") if args.columns else None
            out = [r.asDict() for r in
                   advise_layout(spark, args.data, cols).collect()]
            print(json.dumps(out))
        elif args.cmd == "advise-codecs":
            from fsst_spark.jobs.stats import advise_codecs
            from fsst_spark.sources import read_table

            cols = args.columns.split(",") if args.columns else None
            df = read_table(spark, args.input)
            print(json.dumps(advise_codecs(
                df, columns=cols, sample_rows=args.sample_rows,
                key_col=args.key_col)))
        elif args.cmd == "stats":
            from fsst_spark.jobs.stats import (encoded_column_minmax,
                                               encoded_column_stats,
                                               encoded_column_sum,
                                               encoded_strlen_stats)

            cols = args.columns.split(",")
            if args.sum:
                out = {c: encoded_column_sum(spark, args.data, c)
                       for c in cols}
            elif args.strlen:
                out = {r["column"]: {"n_values": r["n_values"],
                                     "sum_bytes": r["sum_bytes"],
                                     "avg_bytes": r["avg_bytes"],
                                     "min_bytes": r["min_bytes"],
                                     "max_bytes": r["max_bytes"]}
                       for r in encoded_strlen_stats(spark, args.data,
                                                     cols).collect()}
            elif args.exact_minmax:
                out = {c: encoded_column_minmax(spark, args.data, c)
                       for c in cols}
            else:
                out = {r["column"]: {"n_rows": r["n_rows"],
                                     "min": r["min_long"],
                                     "max": r["max_long"]}
                       for r in encoded_column_stats(spark, args.data,
                                                     cols).collect()}
            print(json.dumps(out, default=str))
        elif args.cmd == "profile":
            from fsst_spark.jobs.stats import encoded_profile

            cols = args.columns.split(",") if args.columns else None
            rows = encoded_profile(spark, args.data, cols).collect()
            print(json.dumps({r["column"]: {k: r[k] for k in r.asDict()
                                            if k != "column"}
                              for r in rows}, default=str))
        elif args.cmd == "ndv":
            from fsst_spark.jobs.stats import encoded_ndv

            out = encoded_ndv(spark, args.data, args.columns.split(","))
            print(json.dumps(out))
        elif args.cmd == "quantiles":
            from fsst_spark.jobs.stats import encoded_quantiles

            qs = [float(x) for x in args.q.split(",")]
            obs: dict = {}
            rows = encoded_quantiles(spark, args.data, args.column, qs,
                                     observer=obs).collect()
            print(json.dumps({"column": args.column,
                              "quantiles": {str(r["q"]): r["val"]
                                            for r in rows},
                              **obs}))
        elif args.cmd == "topk":
            from fsst_spark.jobs.stats import encoded_topk

            obs: dict = {}
            vals = [r["val"] for r in
                    encoded_topk(spark, args.data, args.column, args.k,
                                 ascending=args.ascending,
                                 observer=obs).collect()]
            print(json.dumps({"column": args.column, "k": args.k,
                              "ascending": args.ascending, "values": vals,
                              **obs}, default=str))
        elif args.cmd == "distinct":
            from fsst_spark.jobs.stats import encoded_distinct

            obs = {}
            vals = sorted(
                (r["val"] for r in
                 encoded_distinct(spark, args.data, args.column,
                                  observer=obs).collect()),
                key=lambda v: (v is None, v))
            print(json.dumps({"column": args.column, "n_distinct": len(vals),
                              "values": vals[:1000], **obs}, default=str))
        elif args.cmd == "compact":
            from fsst_spark.jobs.compact import compact_store

            metrics = compact_store(spark, args.data, args.out,
                                    target_files=args.target_files).collect()
            print(json.dumps({
                "in_files": json.loads(metrics[0]["lineage"])["source_files"],
                "out_files": len(metrics),
                "rows": sum(m["n_rows"] for m in metrics),
                "chunks": sum(m["n_chunks"] for m in metrics),
            }))
        elif args.cmd == "recluster":
            from fsst_spark.jobs.compact import recluster_store

            sort_names, sort_exprs = _parse_cluster_by(args.cluster_by)
            keys = sort_names or sort_exprs
            rows = recluster_store(spark, args.data, args.out, keys,
                                   num_partitions=args.partitions).collect()
            print(json.dumps({"partitions": len(rows),
                              "rows": sum(r["n_rows"] for r in rows)}))
        elif args.cmd == "merge":
            from fsst_spark.jobs.compact import merge_stores

            dirs = [d for d in args.inputs.split(",") if d]
            keys = None
            if args.cluster_by:
                sort_names, sort_exprs = _parse_cluster_by(args.cluster_by)
                keys = sort_names or sort_exprs
            rows = merge_stores(spark, dirs, args.out, sort_key=keys,
                                num_partitions=args.partitions,
                                unique_col=args.unique_col).collect()
            print(json.dumps({"merged_to": args.out, "stores": len(dirs),
                              "partitions": len(rows),
                              "rows": sum(r["n_rows"] for r in rows)}))
        elif args.cmd == "group-stats":
            from fsst_spark.jobs.agg import (encoded_group_count,
                                             encoded_group_ndv,
                                             encoded_group_stats,
                                             encoded_group_strlen,
                                             encoded_group_sum)

            filters = (_parse_where(spark, args.data, args.where)
                       if args.where else None)
            if args.topk:
                from fsst_spark.jobs.agg import encoded_group_topk

                df = encoded_group_topk(spark, args.data, args.key,
                                        args.topk, k=args.k, filters=filters)
            elif args.minmax:
                from fsst_spark.jobs.agg import encoded_group_minmax

                df = encoded_group_minmax(spark, args.data, args.key,
                                          args.minmax, filters=filters)
            elif args.stats:
                df = encoded_group_stats(spark, args.data, args.key,
                                         args.stats, filters=filters)
            elif args.ndv:
                df = encoded_group_ndv(spark, args.data, args.key,
                                       args.ndv, filters=filters)
            elif args.strlen:
                df = encoded_group_strlen(spark, args.data, args.key,
                                          args.strlen, filters=filters)
            elif args.sum:
                df = encoded_group_sum(spark, args.data, args.key, args.sum,
                                       filters=filters)
            else:
                df = encoded_group_count(spark, args.data, args.key,
                                         filters=filters)
            rows = df.orderBy("value").limit(args.limit).collect()
            print(json.dumps([r.asDict() for r in rows], default=str))
        elif args.cmd == "histogram":
            from pyspark.sql import functions as F

            from fsst_spark.jobs.agg import encoded_histogram

            filters = (_parse_where(spark, args.data, args.where)
                       if args.where else None)
            any_flt = (_parse_where(spark, args.data, args.where_any)
                       if args.where_any else None)
            rows = (encoded_histogram(spark, args.data, args.column,
                                      args.width, filters=filters,
                                      any_filters=any_flt)
                    .orderBy(F.col("bucket").asc_nulls_last()).collect())
            print(json.dumps([r.asDict() for r in rows]))
        elif args.cmd == "count":
            from fsst_spark.jobs.agg import encoded_count_filtered

            if not args.where and not args.where_any:
                raise SystemExit("count needs --where and/or --where-any")
            filters = (_parse_where(spark, args.data, args.where)
                       if args.where else [])
            any_flt = (_parse_where(spark, args.data, args.where_any)
                       if args.where_any else None)
            row = encoded_count_filtered(spark, args.data, filters,
                                         any_filters=any_flt).collect()[0]
            print(json.dumps(row.asDict()))
        elif args.cmd == "stream-encode":
            from pyspark.sql import functions as F

            from fsst_spark.jobs.encode import read_manifest
            from fsst_spark.streaming import encode_stream_job

            q = encode_stream_job(
                spark, args.input, args.out, args.checkpoint,
                chunk_bytes=args.chunk_mb << 20,
                available_now=not args.continuous,
                max_files_per_trigger=args.max_files_per_trigger,
                lineage={"source": args.input, "cli": True},
            )
            q.awaitTermination()
            m = read_manifest(spark, args.out).agg(
                F.count("*"), F.sum("n_rows")).collect()[0]
            print(json.dumps({"partitions": m[0], "rows": m[1]}))
        elif args.cmd == "join":
            from fsst_spark.jobs.join import store_join, store_join_plan

            lc = args.left_columns.split(",") if args.left_columns else None
            rc = args.right_columns.split(",") if args.right_columns else None
            on = args.on.split(",") if "," in args.on else args.on
            if bool(args.right) == bool(args.right_parquet):
                raise SystemExit("join needs --right STORE or "
                                 "--right-parquet PATH (exactly one)")
            if args.right_parquet:
                from fsst_spark.jobs.join import store_join_df

                if args.plan_only:
                    raise SystemExit("--plan-only needs two stores "
                                     "(zone intervals); a parquet side "
                                     "has none")
                if not args.out:
                    raise SystemExit("join needs --out")
                probe = spark.read.parquet(args.right_parquet)
                if rc:
                    probe = probe.select(*dict.fromkeys(
                        rc + (on if isinstance(on, list) else [on])))
                df = store_join_df(spark, args.left, probe, on,
                                   how=args.how, store_columns=lc)
                df.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                print(json.dumps({"joined_to": args.out, "how": args.how,
                                  "on": args.on, "rows": n}))
                return 0
            if args.plan_only:
                plan = store_join_plan(spark, args.left, args.right,
                                       on, args.how)
                print(json.dumps({k: v for k, v in plan.items()
                                  if not k.startswith("_")}))
            else:
                if not args.out:
                    raise SystemExit("join needs --out (or --plan-only)")
                df = store_join(spark, args.left, args.right, on,
                                how=args.how, left_columns=lc,
                                right_columns=rc, prune=not args.no_prune,
                                runtime_filter=not args.no_prune)
                df.write.mode("overwrite").parquet(args.out)
                n = spark.read.parquet(args.out).count()
                print(json.dumps({"joined_to": args.out, "how": args.how,
                                  "on": args.on, "rows": n}))
        elif args.cmd == "synth":
            from fsst_spark.synth.webcorpus import synth_web_df

            synth_web_df(spark, args.rows, seed=args.seed).write.mode("overwrite").parquet(args.out)
            print(json.dumps({"rows": args.rows, "out": args.out}))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
