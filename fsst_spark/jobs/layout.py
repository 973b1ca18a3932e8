"""Layout keys for encode-time sorting: the host-reversed URL key and
multi-column Z-order (Morton) keys.

A single-column ``sort_key`` makes zone maps selective for ONE column;
queries filtering on any other column still touch every chunk. Z-ordering
interleaves the bits of several columns' rank buckets so rows close in
ANY clustered dimension land in nearby chunks — the layout trick behind
Delta's OPTIMIZE ZORDER and ClickHouse's multi-dimensional primary keys.
After ``encode_job(sort_key=zorder_key(df, ["host", "ts"]))``, a zone-map
range filter on host OR ts prunes most chunks (each dimension keeps
~bits of selectivity instead of the first column taking all of it).

Everything stays JVM-side: rank buckets come from driver-side
``approxQuantile`` boundaries folded into the plan as literals (one
metadata-scale pass over a sample — the same shape as RangePartitioner's
own boundary sampling), and the bit interleave is a constant-folded
shift/and/or expression tree. No UDF, no extra materialized column: the
key is a Column expression consumed by ``repartitionByRange`` +
``sortWithinPartitions`` inside the encode job and never stored.

At 100 TB the quantile pass is the only extra cost, and it reads just the
clustered columns (column-pruned scan); the encode's existing single
range shuffle is unchanged — z-ordering replaces its key, it does not add
a shuffle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def url_sort_key(url: Column) -> Column:
    """Scheme-stripped, host-reversed URL layout key (pure JVM expressions).

    ``https://www.blog.example.com/a/b?q=1`` -> ``com.example.blog.www/a/b?q=1``.
    Sorting/clustering an encode by this key groups all pages of a site
    (and its subdomains) contiguously, which is what makes the encoder's
    8-byte string prefix zones (``zone_pack8``) selective on URL columns —
    raw URLs collapse to the constant ``https://`` zone (see
    ``jobs/encode.zone_pack8``). Standard columnar-layout practice
    (host-reversed URL keys in web-table layouts, e.g. the classic
    WebTable row-key design)."""
    c = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    host = F.regexp_extract(c, r"^([^/]*)", 1)
    path = c.substr(F.length(host) + 1, F.length(c))
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ".")
    return F.concat(rev, path)


def _rankable(df: DataFrame, col: str) -> Column:
    """A double-valued, order-preserving view of ``col`` for quantile
    bucketing. Strings map through their 8-byte big-endian prefix (the
    same order-preserving transform as the zone maps' ``zone_pack8``,
    built from hex/conv so it stays a JVM expression); the double cast
    loses low bits, which only blurs bucket boundaries, never ordering
    of the buckets themselves."""
    t = dict(df.dtypes)[col]
    c = F.col(col)
    if t in ("string", "binary"):
        b = c if t == "binary" else F.encode(c, "UTF-8")
        # hex of the first 8 bytes, right-padded: '' sorts below everything
        return F.conv(F.rpad(F.hex(F.substring(b, 1, 8)), 16, "0"), 16, 10) \
            .cast("double")
    if t == "timestamp" or t.startswith("timestamp"):
        return F.unix_micros(c).cast("double")
    return c.cast("double")


def zorder_key(df: DataFrame, cols: list[str], bits: int = 6,
               rel_err: float = 0.001) -> Column:
    """Z-order (Morton) sort key over ``cols`` as a pure Column expression.

    Each column is bucketed into ``2**bits`` quantile buckets (boundaries
    from ``approxQuantile`` — equal-population buckets, so skewed columns
    still spread across the full bucket range), then the bucket indexes'
    bits are interleaved. Nulls bucket to 0 (they sort first, like
    NULLS FIRST). Pass the result as ``encode_job(sort_key=...)``.

    ``bits`` defaults to 6 (64 buckets/column): zone pruning is
    chunk-granular, so a 64x64 grid already isolates range queries to a
    thin band of chunks; higher bits grow the comparison expression
    linearly for little extra pruning."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if not 1 <= bits <= 8:
        raise ValueError("bits must be in [1, 8]")
    n = len(cols)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"columns not in frame: {missing}")
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    key = F.lit(0).cast("long")
    for ci, col in enumerate(cols):
        expr = _rankable(df, col)
        # one metadata-scale driver pass per column, column-pruned scan
        bounds = df.select(expr.alias("q")).approxQuantile("q", probs, rel_err)
        bounds = sorted(set(b for b in bounds if b == b))  # drop dups/NaN
        filled = F.coalesce(expr, F.lit(float("-inf")))
        bucket = reduce(
            lambda acc, b: acc + (filled > F.lit(b)).cast("long"),
            bounds, F.lit(0).cast("long"))
        for bit in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(bucket, bit).bitwiseAND(F.lit(1)),
                            bit * n + ci))
    return key.alias(f"zorder({','.join(cols)})")
