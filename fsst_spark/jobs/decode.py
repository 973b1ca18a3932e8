"""Distributed decode job: encoded chunks -> original columns.

Reads the chunk table written by ``encode_job`` and reconstructs the
original columns, bit-identical. Decoding needs only the chunk rows (the
symbol table travels inside each FSST payload section), and every chunk
lives whole inside its pid's chunk file, so a decode is one
``mapInArrow`` task per run of chunk files with no shuffle and no join. Selective
reads (filters, OR branches, ``as_of``, pid and chunk-key whitelists)
first ask the driver-side planner (:mod:`jobs.plan`) which chunks can
match: zone maps, dict sections and blooms prune there from metadata,
only files with survivors become tasks, and each task decodes only its
planned chunks and columns, so pruned payload bytes are never decoded.
Tasks and the ``fsst`` DataSource turn chunks into Arrow batches with the
one emitter, :func:`emit_chunks`.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..kernel.codecs import decode_column, parse_arrow_type

_SPARK_TYPE = {
    "string": "string", "large_string": "string",
    "binary": "binary", "large_binary": "binary",
    "int64": "bigint", "int32": "int", "int16": "smallint", "int8": "tinyint",
    "double": "double", "float": "float", "bool": "boolean",
}


def _spark_type(arrow_name: str) -> str:
    if arrow_name.startswith("timestamp["):
        return "timestamp"
    if arrow_name.startswith(("list<", "large_list<", "fixed_size_list<")):
        # e.g. "list<element: float>", "fixed_size_list<item: float>[4]":
        # strip the wrapper and the child FIELD NAME (first ": " — field
        # names cannot contain ':' or '<'), recurse on the child type
        inner = arrow_name[arrow_name.index("<") + 1 : arrow_name.rindex(">")]
        child = inner.split(": ", 1)[1] if ": " in inner.split("<", 1)[0] else inner
        return f"array<{_spark_type(child)}>"
    return _SPARK_TYPE[arrow_name]


def column_arrow_types(out_dir: str, columns: list[str] | None = None,
                       include_added: bool = False) -> dict[str, str]:
    """{column: arrow type name}: :func:`schema.physical_columns` (one
    chunk-file footer) folded through the schema log. Raises
    FileNotFoundError when the store has no chunk file.

    ``include_added=True`` merges columns ADDED via the schema log
    (``schema.add_column``) that no chunk carries yet — only the DECODE
    paths pass it: the metadata/sketch fast paths keep the default so an
    added-but-unmaterialized column fails fast (KeyError) instead of
    answering from per-chunk state that cannot represent virtual nulls."""
    from .schema import added_columns, dropped_columns, physical_columns

    cols = physical_columns(out_dir)
    for c in dropped_columns(out_dir):
        cols.pop(c, None)  # dropped columns are not part of the schema
    if include_added:
        for c, t in added_columns(out_dir).items():
            cols.setdefault(c, t)  # physical (materialized) type wins
    if columns:
        missing = [c for c in columns if c not in cols]
        if missing:
            raise KeyError(f"columns not present in encoded data: {missing}")
    return cols


def shard_column_types(stores: "list[str]",
                       columns: list[str] | None = None) -> list[dict[str, str]]:
    """Each shard's decode column types (schema-log adds included), after
    checking that the shards of one logical table agree on the type of
    every column they share (only ``columns`` when given) — a drifted
    shard fails before any read."""
    seen: dict[str, tuple[str, str]] = {}
    out = []
    for s in stores:
        types = column_arrow_types(s, include_added=True)
        out.append(types)
        for c, t in types.items():
            if columns is not None and c not in columns:
                continue
            if c in seen and seen[c][0] != t:
                raise TypeError(
                    f"column {c!r} is {seen[c][0]} in {seen[c][1]} but "
                    f"{t} in {s}; shards of one logical table must agree "
                    f"— cast and re-encode the drifted store")
            seen.setdefault(c, (t, s))
    return out


def decoded_schema_ddl(types: dict[str, str], columns: list[str] | None = None
                       ) -> tuple[str, list[str]]:
    """(Spark DDL of the decoded frame, ordered column list) from the
    store's decode ``types`` (:func:`column_arrow_types` with
    ``include_added=True``: schema-log-added columns read as NULL until
    materialized)."""
    missing = [c for c in columns or [] if c not in types]
    if missing:
        raise KeyError(f"columns not present in encoded data: {missing}")
    ordered = columns or sorted(types)
    ddl = ", ".join(f"{c} {_spark_type(types[c])}" for c in ordered)
    return f"pid int, chunk_id int, {ddl}", ordered


# the comparison ops every zoned column type supports
_CMP_OPS = ("<", "<=", "==", ">", ">=")


_TS_UNIT_PER_SEC = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}


def _ts_unit(arrow_name: str) -> str:
    return arrow_name[len("timestamp["):-1].split(",")[0]


def _ts_ticks(arrow_name: str, value) -> int:
    """Coerce a timestamp filter value to the column's storage-unit ticks.

    Accepts raw int ticks, datetime/date, or an ISO-8601 string. Naive
    datetimes are taken as UTC (Spark stores timestamps as UTC micros).
    Integer arithmetic throughout — ``datetime.timestamp()`` returns float
    seconds, which is not exact at microsecond granularity."""
    import datetime as dt

    if isinstance(value, bool) or not isinstance(value, (int, str, dt.date, dt.datetime)):
        raise TypeError(
            f"timestamp filter value must be int ticks, datetime, or ISO "
            f"string, got {type(value).__name__}")
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        value = dt.datetime.fromisoformat(value)
    if not isinstance(value, dt.datetime):  # plain date
        value = dt.datetime(value.year, value.month, value.day)
    if value.tzinfo is None:
        value = value.replace(tzinfo=dt.timezone.utc)
    delta = value - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    secs = delta.days * 86400 + delta.seconds
    mult = _TS_UNIT_PER_SEC[_ts_unit(arrow_name)]
    return secs * mult + delta.microseconds * mult // 10**6


_STRINGY = ("string", "large_string", "binary", "large_binary")
_INTY = ("int8", "int16", "int32", "int64")


def _zone_key(arrow_name: str, value) -> tuple[int, bool]:
    """(packed zone value, exact) for a filter on a column of the given
    arrow type: int, timestamp and float zones are exact order keys, while
    string zones are 8-byte PREFIX bounds (zone_pack8) — equal prefixes
    collapse, so s < X only implies pack(s) <= pack(X). Raises TypeError on
    a value/column type mismatch — silently packing e.g. an int against
    string-prefix zones would prune every chunk (ints sit below all ASCII
    pack8 keys) and return an empty result for a predicate that matches
    rows."""
    from .encode import zone_pack8, zone_packf

    if arrow_name in _STRINGY:
        if not isinstance(value, (str, bytes)):
            raise TypeError(
                f"column is {arrow_name} but filter value is "
                f"{type(value).__name__}; pass a str/bytes value")
        return zone_pack8(value), False
    if arrow_name in _INTY:
        if isinstance(value, bool) or not isinstance(value, int):
            raise TypeError(
                f"column is {arrow_name} but filter value is "
                f"{type(value).__name__}; pass an int value")
        return int(value), True
    if arrow_name.startswith("timestamp["):
        return _ts_ticks(arrow_name, value), True
    if arrow_name in ("float", "double"):
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            raise TypeError(
                f"column is {arrow_name} but filter value is "
                f"{type(value).__name__}; pass a float value")
        return zone_packf(float(value)), True
    raise ValueError(f"no zone-map support for column type {arrow_name}")


def _zone_op_error(op: str) -> ValueError:
    ops = sorted(_CMP_OPS) + ["contains", "in", "prefix", "rlike", "suffix"]
    return ValueError(f"filter op must be one of {ops}, got {op!r}")


def _prefix_bytes(arrow_name: str, value, op: str = "prefix") -> bytes:
    """UTF-8 bytes of a ``prefix``/``contains`` filter value, typed by the
    COLUMN: the predicate is only meaningful on string/binary columns (an
    int column has no byte prefix or substring), so anything else raises
    instead of mis-pruning."""
    if arrow_name not in _STRINGY:
        raise TypeError(
            f"{op!r} filter needs a string/binary column, got {arrow_name}")
    if not isinstance(value, (str, bytes)):
        raise TypeError(
            f"{op!r} filter value must be str/bytes, got "
            f"{type(value).__name__}")
    return (value.encode("utf-8", "surrogatepass")
            if isinstance(value, str) else bytes(value))


def _prefix_zone_bounds(arrow_name: str, value) -> tuple[int, int]:
    """[lo, hi] pack8 interval covering every string that starts with
    ``value``: continuation bytes range 0x00 (lo, zero-pad is pack8's own
    padding) to 0xff (hi). Prefixes past 8 bytes collapse to a point
    interval — still a correct (conservative) chunk bound."""
    from .encode import zone_pack8

    vb = _prefix_bytes(arrow_name, value)
    return zone_pack8(vb), zone_pack8(vb[:8].ljust(8, b"\xff"))


def _dict_probes(value: "str | bytes | list",
                 prefix: bool = False,
                 contains: bool = False,
                 suffix: bool = False):
    """(length-bucketed probe byte-sets, prefix bytes or None, substring
    bytes or None, suffix bytes or None) for a dictionary membership test
    — the planner's (:mod:`jobs.plan`) probe prep. At most one of
    ``prefix``/``contains``/``suffix`` may be set; those modes are
    single-value."""
    vals = value if isinstance(value, (list, tuple, set)) else [value]
    probes = {v.encode("utf-8", "surrogatepass") if isinstance(v, str) else bytes(v)
              for v in vals}
    by_len: dict[int, set] = {}
    for vb in probes:
        by_len.setdefault(len(vb), set()).add(vb)
    pfx = sorted(probes)[0] if prefix else None  # prefix mode is single-value
    sub = sorted(probes)[0] if contains else None
    sfx = sorted(probes)[0] if suffix else None
    return by_len, pfx, sub, sfx


def dict_section(params: dict, payload: bytes):
    """A ``str_dict`` chunk's DICTIONARY decoded to ``(bytes, offsets)``
    numpy arrays; the codes stay encoded."""
    from ..kernel.codecs import _split_sections, decode_bytes_like

    if "n_total" in params:  # strip the appended validity bits
        payload = payload[: params["validity_len"]]
    _, up = _split_sections(params, payload)
    return decode_bytes_like(
        {"codec": params["values"]["codec"],
         "params": params["values"]["params"], "payload": up},
        kind="str")


def dict_has_value(section: tuple, by_len: dict[int, set],
                   pfx: bytes | None,
                   sub: bytes | None = None,
                   sfx: bytes | None = None,
                   rx=None) -> bool:
    """True iff a ``str_dict`` chunk's dictionary (:func:`dict_section`)
    contains any probed value (with ``pfx``: any value starting with those
    bytes; with ``sub``: any value containing those bytes; with ``sfx``:
    any value ending with those bytes; with ``rx``: any value the compiled
    regex matches — partial match, Spark ``rlike`` semantics).
    ``by_len``/``pfx``/``sub``/``sfx`` come from ``_dict_probes``; ``rx``
    from ``_rlike_prunable``."""
    buf, off = section
    lens = off[1:] - off[:-1]
    if rx is not None:
        return any(
            rx.search(view) is not None
            for i in range(len(lens))
            for view in _java_anchor_views(
                buf[off[i]: off[i + 1]].tobytes()
                .decode("utf-8", "surrogatepass")))
    if sub is not None:
        # fast reject on the concatenated buffer, then confirm each hit
        # lies within ONE value (a match spanning two adjacent dictionary
        # entries is not a value containing the substring)
        blob = buf.tobytes()
        ls = len(sub)
        p = blob.find(sub)
        while p != -1:
            i = int(off.searchsorted(p, side="right")) - 1
            if p + ls <= off[i + 1]:
                return True
            p = blob.find(sub, p + 1)
        return False
    if sfx is not None:
        ls = len(sfx)
        return any(
            buf[off[i + 1] - ls: off[i + 1]].tobytes() == sfx
            for i in (lens >= ls).nonzero()[0])
    if pfx is not None:
        lp = len(pfx)
        return any(
            buf[off[i]: off[i] + lp].tobytes() == pfx
            for i in (lens >= lp).nonzero()[0])
    return any(
        buf[off[i]: off[i + 1]].tobytes() in vset
        for ln, vset in by_len.items()
        for i in (lens == ln).nonzero()[0]
    )


def zone_keep(arrow_name: str, op: str, value):
    """Compile one zone filter into its chunk-survival test ``(zmin, zmax)
    -> bool``, which the driver-side planner (:mod:`jobs.plan`) runs per
    chunk. Dispatch is on the COLUMN's arrow type, never the Python type
    of the value (a numeric-looking string id must still use prefix
    zones), and a value/column type mismatch or an unknown op raises here,
    before any chunk is read. Conservative: null zones always keep. Each
    op is a key interval [lo, hi] the chunk's zone must meet; string zones
    are 8-byte prefixes, so strict ops bound non-strictly there
    (``_zone_key``), while exact keys tighten them by one.
    ``in`` keeps a chunk whose zone holds ANY probe: one bisection over
    the sorted packed probes, O(log V) per chunk."""
    import bisect

    if op in ("contains", "suffix", "rlike"):
        # substring/suffix/regex predicates carry no zone information
        # (zones are PREFIXES); dictionary pruning is their lever
        if op == "rlike" and arrow_name not in ("string", "large_string"):
            raise ValueError(f"'rlike' needs a string column, got {arrow_name}")
        if op != "rlike":
            _prefix_bytes(arrow_name, value, op)  # type check only
        return lambda zmin, zmax: True
    if op == "in":
        probes = sorted(_zone_key(arrow_name, v)[0] for v in value)
        if not probes:
            raise ValueError("'in' filter needs a non-empty value list")

        def test(zmin, zmax):
            return (bisect.bisect_left(probes, zmin)
                    < bisect.bisect_right(probes, zmax))
    else:
        if op == "prefix":
            # s LIKE 'p%': every match packs into [pack8(p), pack8(p padded
            # with 0xff)] — exact on the packed keys by bytewise order
            lo, hi = _prefix_zone_bounds(arrow_name, value)
        elif op in _CMP_OPS:
            zval, exact = _zone_key(arrow_name, value)  # raises on mismatch
            strict = int(exact)  # exact keys: > v means >= v+1
            lo, hi = {"==": (zval, zval), ">=": (zval, None),
                      ">": (zval + strict, None), "<=": (None, zval),
                      "<": (None, zval - strict)}[op]
        else:
            raise _zone_op_error(op)

        def test(zmin, zmax):
            return (lo is None or zmax >= lo) and (hi is None or zmin <= hi)
    return lambda zmin, zmax: zmin is None or zmax is None or test(zmin, zmax)


def zone_all(arrow_name: str, op: str, value):
    """Compile one filter into its all-rows test ``(zmin, zmax) -> bool``:
    True iff the zone bounds PROVE every non-null row of the chunk
    satisfies ``op value`` (the metadata-only state of the tri-state
    counts; null zones prove nothing). Where :func:`zone_keep` asks whether
    the zone meets the op's key interval [lo, hi], this asks whether it
    lies inside it. Int, timestamp and float zones are exact order keys
    (floats: NaN greatest, Spark/DuckDB comparison semantics). String
    zones are 8-byte PREFIX bounds: only STRICT pack inequalities transfer
    to the rows (pack(min) > pack(v) => min > v, but pack equality proves
    nothing), so equality is never provable and every bound is strict.
    ``rlike``, which the chunk-local row masks do not evaluate, raises as
    in :func:`row_mask`."""
    def never(zmin, zmax):
        return False

    if op in ("contains", "suffix"):
        # a zone interval (prefix bounds) can never prove every row
        # contains or ends with a byte string
        _prefix_bytes(arrow_name, value, op)  # type check only
        return never
    if op == "in":
        if arrow_name in _STRINGY:
            return never
        vals = {_zone_key(arrow_name, v)[0] for v in value}
        return lambda zmin, zmax: (zmin is not None and zmin == zmax
                                   and zmin in vals)
    if op == "prefix":
        # packs are the rows' first 8 bytes: a zone inside [lo, hi] proves
        # every row starts with p — only for prefixes that fit the pack
        lo, hi = _prefix_zone_bounds(arrow_name, value)
        if len(_prefix_bytes(arrow_name, value)) > 8:
            return never
    elif op in _CMP_OPS:
        zv, exact = _zone_key(arrow_name, value)
        if op == "==" and not exact:
            return never
        loose = int(not exact)  # prefix packs prove only strict bounds
        lo, hi = {"==": (zv, zv), ">=": (zv + loose, None),
                  ">": (zv + 1, None), "<=": (None, zv - loose),
                  "<": (None, zv - 1)}[op]
    elif op == "rlike":
        raise _rlike_error()
    else:
        raise _zone_op_error(op)
    return lambda zmin, zmax: (zmin is not None and zmax is not None
                               and (lo is None or zmin >= lo)
                               and (hi is None or zmax <= hi))


def _packf_np(x: np.ndarray) -> np.ndarray:
    """Vectorized ``encode.zone_packf``: order-preserving int64 keys for a
    float64 array under SQL comparison semantics (NaN above everything and
    equal to itself, -0.0 == +0.0) — both Spark and DuckDB order floats
    this way, so comparing packed keys reproduces their WHERE semantics
    exactly, where raw IEEE comparison (NaN always false) would not."""
    x = np.where(x == 0.0, 0.0, x.astype(np.float64))  # collapse -0.0
    bits = x.view(np.uint64)
    key = np.where(bits >> np.uint64(63) != 0,
                   ~bits, bits | np.uint64(1 << 63))
    key[np.isnan(x)] = np.uint64(0xFFFFFFFFFFFFFFFF)
    return (key ^ np.uint64(1 << 63)).view(np.int64)


_NP_OPS = {">=": np.greater_equal, ">": np.greater,
           "<=": np.less_equal, "<": np.less, "==": np.equal}
_PC_OPS = {">=": pc.greater_equal, ">": pc.greater, "<=": pc.less_equal,
           "<": pc.less, "==": pc.equal}
_PC_BYTES_OPS = {"prefix": pc.starts_with, "contains": pc.match_substring,
                 "suffix": pc.ends_with}


def _rlike_error() -> ValueError:
    return ValueError(
        "'rlike' is Java regex, which only decode_filtered evaluates (as a "
        "Spark where on the decoded rows); chunk-local jobs take the other "
        "filter ops")


def row_mask(arrow_name: str, op: str, value):
    """Compile one filter into its exact row mask ``arr -> bool ndarray``
    over a decoded column of arrow type ``arrow_name``: the one
    implementation of every row op but ``rlike``. SQL predicate semantics:
    null is false, floats order NaN greatest and equal to itself with
    -0.0 == +0.0 (Spark's and DuckDB's order), and timestamps compare in
    storage-unit ticks, as zone pruning does — so the array is the
    chunk's as decoded, before any unit cast. Like :func:`zone_keep` it
    dispatches on the COLUMN's type, and a value/column mismatch or an
    unknown op raises here, before any chunk is read. ``rlike`` raises
    too: Spark's rlike is Java regex, which no chunk-local mask
    reproduces."""
    if op == "rlike":
        raise _rlike_error()
    if op in _PC_BYTES_OPS:
        fn, pattern = _PC_BYTES_OPS[op], _prefix_bytes(arrow_name, value, op)
        test = lambda arr: fn(arr, pattern=pattern)  # noqa: E731
    elif arrow_name in _STRINGY:
        t = parse_arrow_type(arrow_name)
        if op == "in":
            vs = pa.array(list(value), type=t)  # ArrowTypeError on a mismatch
            test = lambda arr: pc.is_in(arr, value_set=vs)  # noqa: E731
        elif op in _CMP_OPS:
            _zone_key(arrow_name, value)  # type check: raises on mismatch
            fn, rhs = _PC_OPS[op], pa.scalar(value, type=t)
            test = lambda arr: fn(arr, rhs)  # noqa: E731
        else:
            raise _zone_op_error(op)
    else:
        # ints, timestamps (ticks) and floats (packed keys) compare as
        # int64 order keys, the zone keys' own order
        if op == "in":
            keys = np.array([_zone_key(arrow_name, v)[0] for v in value],
                            dtype=np.int64)
            cmp = lambda lhs: np.isin(lhs, keys)  # noqa: E731
        elif op in _CMP_OPS:
            fn, key = _NP_OPS[op], np.int64(_zone_key(arrow_name, value)[0])
            cmp = lambda lhs: fn(lhs, key)  # noqa: E731
        else:
            raise _zone_op_error(op)
        floats = arrow_name in ("float", "double")

        def mask(arr):
            valid = pc.is_valid(arr).to_numpy(zero_copy_only=False)
            if floats:
                lhs = _packf_np(arr.cast(pa.float64()).fill_null(0.0)
                                .to_numpy(zero_copy_only=False))
            else:
                lhs = (arr.cast(pa.int64()).fill_null(0)
                       .to_numpy(zero_copy_only=False))
            return cmp(lhs) & valid
        return mask
    return lambda arr: test(arr).fill_null(False).to_numpy(
        zero_copy_only=False)


def _arrow_mask(arr: pa.Array, op: str, value, arrow_name: str) -> np.ndarray:
    """:func:`row_mask` compiled and run on one array."""
    return row_mask(arrow_name, op, value)(arr)


class DecodedChunk(dict):
    """One chunk's columns, each decoded on first use: ``chunk`` is a
    :func:`plan.read_chunks` ``{column: encoded}``, and a schema-log
    ``added`` column the chunk predates reads as NULLs. ``get`` does not
    decode, so a caller can ask whether a column is decoded yet."""

    def __init__(self, chunk: dict, added: dict[str, str] | None = None):
        super().__init__()
        self.chunk, self.added = chunk, added or {}

    def __missing__(self, c: str) -> pa.Array:
        if c in self.chunk:
            arr = decode_column(self.chunk[c])
        else:  # a pre-add chunk: virtual NULLs
            assert c in self.added, f"incomplete chunk: missing {c!r}"
            arr = pa.nulls(self.rows(), parse_arrow_type(self.added[c]))
        self[c] = arr
        return arr

    def rows(self) -> int:
        if not self:
            return len(self[next(iter(self.chunk))])
        return len(next(iter(self.values())))


class RowFilter:
    """``AND(filters) AND OR(any_filters)`` compiled once (each filter
    through :func:`row_mask`, so a bad filter raises on the driver) into
    the exact row mask of one :class:`DecodedChunk`: a bool array, or None
    when there is no filter. A conjunct that keeps no row ends the fold,
    so the rest of the filter columns never decode. ``columns`` are the
    filter columns a task must read."""

    def __init__(self, types: dict[str, str], filters=(), any_filters=()):
        for c, _, _ in (*filters, *any_filters):
            if c not in types:
                raise KeyError(f"column {c!r} not in encoded data")
        self.conj = [(c, row_mask(types[c], op, v)) for c, op, v in filters]
        self.disj = [(c, row_mask(types[c], op, v))
                     for c, op, v in any_filters]
        self.columns = list(dict.fromkeys(c for c, _ in self.conj + self.disj))

    def __call__(self, cols: DecodedChunk) -> np.ndarray | None:
        mask = None
        for c, test in self.conj:
            mask = test(cols[c]) if mask is None else mask & test(cols[c])
            if not mask.any():
                return mask
        if self.disj:
            any_mask = np.logical_or.reduce([test(cols[c])
                                             for c, test in self.disj])
            mask = any_mask if mask is None else mask & any_mask
        return mask


def keep_rows(mask: np.ndarray | None, n: int, dmask, key) -> np.ndarray:
    """The rows of an ``n``-row chunk that ``mask`` keeps (every row when
    None), minus the chunk's tombstoned positions (``dmask``: the task's
    :class:`deletes.DeleteMask`, None on a store without deletes)."""
    keep = np.ones(n, dtype=bool) if mask is None else mask.copy()
    pos = dmask.positions(*key) if dmask is not None else None
    if pos is not None:
        keep[pos[pos < n]] = False
    return keep


# escapes whose Java-regex meaning is BROADER than (or absent from)
# Python's: \v \h \R \H \V unicode-whitespace classes, \p{...}/\P{...}
# properties, \Q..\E quoting, \k named backrefs, \G, \X graphemes. Also
# '[a&&[b]]' class intersection (parses as literal '&'/'[' in Python,
# which can match LESS than Java) and any inline flag group enabling
# MULTILINE ('(?m)' — Java's '$' then anchors before EVERY line
# terminator incl. \r/\u0085/\u2028, which Python's does not). A pattern
# using any of them (or one Python cannot compile) disables dictionary
# pruning — conservative: the chunk decodes and Spark's own Java rlike
# decides row membership. Non-MULTILINE '$'/'\Z' divergence (Java
# matches before one FINAL terminator, Python only before a final \n)
# is handled by probing the terminator-stripped value too — see
# _java_anchor_views.
_RLIKE_DIVERGENT = re.compile(
    r"\\[vhVHRGXpPQEk]|&&|\(\?[a-zA-Z-]*m[a-zA-Z-]*[:)]")


# Java line terminators ('$'/'\Z' match just before one FINAL occurrence;
# order matters: \r\n must strip as one sequence)
_JAVA_LINE_TERM = ("\r\n", "\n", "\r", "\u0085", "\u2028", "\u2029")


def _java_anchor_views(s: str) -> "list[str]":
    """The value plus (when it ends with a line terminator) the value with
    that one final terminator stripped. Probing both makes the Python
    regex probe a SUPERSET of Java's non-MULTILINE '$'/'\\Z' match set —
    extra positives only keep more chunks, which is sound."""
    for t in _JAVA_LINE_TERM:
        if s.endswith(t):
            return [s, s[: -len(t)]]
    return [s]


def _rlike_prunable(pattern: str):
    """Compiled Python regex safe for DICTIONARY pruning of a Spark
    ``rlike`` predicate, or None when pruning must be skipped. Soundness
    rule: pruning may never drop a chunk whose dictionary contains a
    value Java's ``rlike`` would match — ``re.ASCII`` aligns
    ``\\d \\w \\s \\b`` with Java's ASCII defaults, the divergent-escape
    screen above handles the rest, and Python-only match SURPLUS (never
    deficit) is fine because a spurious has-value only keeps a chunk."""
    if _RLIKE_DIVERGENT.search(pattern):
        return None
    try:
        return re.compile(pattern, re.ASCII)
    except (re.error, ValueError):
        # ValueError: Java-valid inline flags like '(?u)' make re.compile
        # raise ('ASCII and UNICODE flags are incompatible') — skip pruning
        return None


def _as_of_pids(store: str, as_of: int) -> list[int]:
    """pids visible as of commit entry ``as_of`` (entries 0..as_of of the
    store's append-only commit log) — the same snapshot rule the fsst
    DataSource's ``.option('as_of', N)`` applies."""
    from ..sources.fsst_source import commit_range_pids

    return commit_range_pids(store, -1, as_of)


def scan_columns(store: str, columns: list[str],
                 added: dict[str, str]) -> list[str]:
    """The chunk columns a read of ``columns`` scans. When every one of
    them is schema-log ``added``, no scanned row would carry the chunks'
    row counts, so one physical column rides along as the row-count
    carrier (decoded, never emitted). It must exist in EVERY chunk, so
    every added column is excluded, even one materialized in new files."""
    if not set(columns) <= set(added):
        return list(columns)
    from .schema import dropped_columns, physical_columns

    phys = set(physical_columns(store)) - set(added) - dropped_columns(store)
    return list(columns) + sorted(phys)[:1]


# the boolean column a task emits for the in-task branches of an OR clause
# that also holds rlike branches, which Spark evaluates
OR_COL = "_fsst_or_rows"


def emit_chunks(store: str, chunks, columns: list[str], added: dict[str, str],
                deletes: bool, provenance: bool = False,
                where: RowFilter | None = None,
                flag: RowFilter | None = None) -> Iterator[pa.RecordBatch]:
    """The one chunk emitter: each ``(key, {column: encoded})`` of
    :func:`plan.read_chunks` decodes into one RecordBatch of ``columns``,
    led by ``pid, chunk_id`` when ``provenance``, one chunk at a time. A
    chunk written before a schema-log ADD COLUMN (``added``) holds NULLs
    for it. The rows that ``where`` keeps, less the store's tombstoned
    rows when it has ``deletes`` (:func:`keep_rows`), are taken before
    timestamps convert to the microseconds Spark speaks; a chunk left with
    no row emits nothing, and the columns of a chunk ``where`` empties
    never decode. ``flag`` appends its mask as the boolean column
    ``OR_COL``. With neither a filter nor a tombstone, no mask is built
    and no row is taken."""
    from ..env import madvise_hugepages
    from .deletes import DeleteMask

    madvise_hugepages()
    dmask = DeleteMask(store) if deletes else None
    names = ["pid", "chunk_id", *columns] if provenance else list(columns)
    if flag is not None:
        names.append(OR_COL)
    for key, chunk in chunks:
        cols = DecodedChunk(chunk, added)
        keep = where(cols) if where is not None else None
        if dmask is not None:
            keep = keep_rows(keep, cols.rows() if keep is None else len(keep),
                             dmask, key)
        if keep is not None:
            if not keep.any():
                continue  # no row passes, or every row is tombstoned
            keep = None if keep.all() else pa.array(np.flatnonzero(keep))
        arrays = [cols[c] for c in columns]
        if flag is not None:
            arrays.append(pa.array(flag(cols)))
        if keep is not None:
            arrays = [a.take(keep) for a in arrays]
        arrays = [a.cast(pa.timestamp("us", tz=a.type.tz))
                  if pa.types.is_timestamp(a.type) and a.type.unit != "us"
                  else a for a in arrays]
        if provenance:
            n = len(arrays[0])
            arrays = [pa.array(np.full(n, key[0], dtype=np.int32)),
                      pa.array(np.full(n, key[1], dtype=np.int32)), *arrays]
        yield pa.RecordBatch.from_arrays(arrays, names=names)


def decode_job(spark, out_dir: str, columns: list[str] | None = None,
               zone_filter: tuple[str, str, int | str] | None = None,
               zone_filters: list[tuple[str, str, int | str]] | None = None,
               zone_filters_any: list[tuple[str, str, int | str]] | None = None,
               dict_prune: bool = True,
               as_of: int | None = None,
               _pids: list[int] | None = None,
               _chunk_keys: list[tuple[int, int]] | None = None,
               _types: dict[str, str] | None = None,
               _where: RowFilter | None = None,
               _flag: RowFilter | None = None) -> DataFrame:
    """DataFrame of the decoded table (plus pid/chunk_id provenance cols).

    ``zone_filter=(col, op, value)`` — or a conjunction via
    ``zone_filters=[(col, op, value), ...]`` (all must hold) — prunes whole
    chunks via the encode-time zone maps BEFORE any payload is read or
    decoded — chunk-granular, so the result still contains non-matching
    rows from surviving chunks. ``decode_filtered`` adds the exact row
    predicate, which its file tasks apply to each decoded chunk
    (``_where`` keeps rows, ``_flag`` emits the mask of an OR clause's
    in-task branches as ``OR_COL``; see :func:`emit_chunks`).
    ``zone_filters_any`` instead prunes for a DISJUNCTION (any branch may
    hold; composable with the conjunctive filters — both prunings apply).
    String equality filters additionally prune via the dict codec's
    dictionary (``dict_prune``): chunks whose dictionary lacks the value
    are skipped without decoding any payload beyond the dictionary
    itself.

    ``as_of=N`` time-travels: only chunks committed by log entries 0..N
    decode (the planner reads only those pids' files — commit entries
    are immutable, so the same N always yields the same rows).

    Rows come globally ordered by (pid, chunk_id, row position). Tasks read
    runs of files in pid order and emit each file's chunks in file
    (chunk_id) order, so partition i strictly precedes partition i+1 with
    no shuffle and no row-level sort. On a store clustered with
    ``encode_job(sort_key=K)`` this is K-order: a sorted export for the
    price of a plain decode."""
    types = (_types if _types is not None
             else column_arrow_types(out_dir, include_added=True))
    ddl, out_cols = decoded_schema_ddl(types, columns)
    if _flag is not None:
        ddl += f", {OR_COL} boolean"
    filters = list(zone_filters or [])
    if zone_filter is not None:
        filters.append(zone_filter)
    # row tombstones (jobs.deletes) apply executor-side: the flag is read
    # once on the driver, each task lazily loads its pids' positions
    from .deletes import has_deletes
    from .plan import file_tasks_df, planned_files, task_chunks
    from .schema import added_columns

    deletes_on = has_deletes(out_dir)
    added = added_columns(out_dir)
    wcols = [c for w in (_where, _flag) if w is not None for c in w.columns]
    scan = scan_columns(out_dir, list(dict.fromkeys(out_cols + wcols)), added)

    def read_files(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return emit_chunks(out_dir, task_chunks(batches, scan),
                           out_cols, added, deletes_on, provenance=True,
                           where=_where, flag=_flag)

    # FILE-GRANULAR read: every (pid, chunk_id) group lives whole inside
    # its pid's single chunk file, so each task reads a run of files with
    # the one chunk reader (jobs.plan) — no chunk-row shuffle, and only file
    # paths and keep-sets cross from the JVM. A selective read first asks
    # the driver-side planner which chunks can match: only files with
    # survivors become tasks, and each task decodes only its planned keys.
    if as_of is not None and _pids is not None:
        raise ValueError("pass as_of OR a pid whitelist, not both")
    pids = _as_of_pids(out_dir, as_of) if as_of is not None else _pids
    files = planned_files(out_dir, scan, filters, zone_filters_any,
                          pids=pids, dict_prune=dict_prune, keys=_chunk_keys,
                          types=types)
    return file_tasks_df(spark, files).mapInArrow(read_files, ddl)


def _decode_rows(spark, out_dir: str, types: dict[str, str],
                 columns: list[str] | None, flt: list[tuple],
                 any_flt: list[tuple], **plan) -> DataFrame:
    """:func:`decode_job` under ``plan`` with the exact row predicate
    ``AND(flt) AND OR(any_flt)``. Every op but ``rlike`` runs in the file
    task (:class:`RowFilter`), so only matching rows and ``columns`` leave
    it. ``rlike`` is Java regex, so Spark evaluates it with a ``where`` on
    the decoded rows (its columns ride along, then drop); an OR clause
    that mixes it with other ops ORs it with the task's mask of those
    branches, emitted as ``OR_COL``."""
    rx = [f for f in flt if f[1] == "rlike"]
    any_rx = [f for f in any_flt if f[1] == "rlike"]
    any_task = [f for f in any_flt if f[1] != "rlike"]
    where = RowFilter(types, [f for f in flt if f[1] != "rlike"],
                      () if any_rx else any_task)
    flag = RowFilter(types, (), any_task) if any_rx and any_task else None
    extra = [c for c in dict.fromkeys(f[0] for f in rx + any_rx)
             if columns is not None and c not in columns]
    df = decode_job(spark, out_dir, None if columns is None else columns + extra,
                    _types=types, _where=where, _flag=flag, **plan)
    for c, _, pattern in rx:
        df = df.where(F.col(c).rlike(pattern))
    if any_rx:
        pred = F.col(OR_COL) if flag is not None else None
        for c, _, pattern in any_rx:
            p = F.col(c).rlike(pattern)
            pred = p if pred is None else (pred | p)
        df = df.where(pred)
    drop = extra + ([OR_COL] if flag is not None else [])
    return df.drop(*drop) if drop else df


def decode_filtered(spark, out_dir: str, col: str | None = None, op: str | None = None,
                    value: int | str | float | None = None,
                    columns: list[str] | None = None,
                    filters: list[tuple] | None = None,
                    any_filters: list[tuple] | None = None,
                    as_of: int | None = None,
                    _pids: list[int] | None = None) -> DataFrame:
    """Selective decode: zone-map chunk pruning + the exact row predicates.

    Pass one predicate positionally (``col, op, value``), a conjunction
    via ``filters=[(col, op, value), ...]`` (all must hold), and/or a
    disjunction via ``any_filters=[...]`` (at least one must hold); when
    both are given the result is ``AND(filters) AND OR(any_filters)`` —
    SQL's conjunctive normal form with one OR clause. Returns exactly the
    matching rows while reading and decoding only the chunks whose zone
    maps (plus dict sections and blooms) can match — the OR clause prunes
    to the union of its branches' keep-sets, so ``lang == 'de' OR lang ==
    'fr'`` on a clustered corpus still skips every other language's
    chunks at 100 TB. The file tasks apply the row predicate to each
    decoded chunk and emit only matching rows of ``columns``; only an
    ``rlike`` filter (Java regex) becomes a Spark ``where``."""
    flt = list(filters or [])
    if col is not None:
        flt.insert(0, (col, op, value))
    any_flt = list(any_filters or [])
    if not flt and not any_flt:
        raise ValueError("decode_filtered needs (col, op, value), "
                         "filters=[...], or any_filters=[...]")
    types = column_arrow_types(out_dir, include_added=True)
    for fc in dict.fromkeys(f[0] for f in flt + any_flt):
        if fc in types and types[fc].startswith(
                ("list<", "large_list<", "fixed_size_list<")):
            raise ValueError(
                f"cannot filter on nested column {fc!r} ({types[fc]}): "
                "array columns have no zone maps or scalar predicates — "
                "filter on a scalar column instead")
    return _decode_rows(spark, out_dir, types, columns, flt, any_flt,
                        zone_filters=flt, zone_filters_any=any_flt or None,
                        as_of=as_of, _pids=_pids)


def decode_plan(spark, out_dir: str, columns: list[str] | None = None,
                filters: list[tuple] | None = None,
                any_filters: list[tuple] | None = None,
                as_of: int | None = None) -> dict:
    """EXPLAIN for a selective decode — what :func:`decode_filtered` WOULD
    read, from metadata alone: the driver-side planner (:mod:`jobs.plan`)
    runs its zone, dict and bloom stages for real and no payload chunk is
    ever decoded. It runs no Spark job, so planning a query is an
    interactive operation — the ops surface for "is my store clustered
    for this predicate?" before committing a cluster-hours decode, and the
    decode sibling of ``store_join_plan``.

    Returns a JSON-able dict:

    - ``chunks_total`` / ``rows_total`` / ``enc_bytes_total``: the store
      (for the selected columns, at the ``as_of`` snapshot if given);
    - ``chunks_after_zones``: survivors of zone pruning alone;
    - ``chunks_kept`` / ``rows_bound`` / ``enc_bytes_to_read``: survivors
      of the full stack (zones + dict sections + blooms) — exactly the
      chunks the real decode would scan. ``rows_bound`` is an upper bound
      on result rows (chunk pruning is chunk-granular; the exact row
      predicate trims further);
    - ``scan_fraction``: ``enc_bytes_to_read / enc_bytes_total`` — the
      headline number (0.02 = the layout serves this predicate; 1.0 =
      recluster or add a sketch);
    - ``has_deletes``: tombstoned rows are NOT subtracted from the bounds
      (merge-on-read applies them at decode time).

    Filter-column payloads decode too in the real query (the exact row
    predicate needs them), so ``columns`` here widens exactly like
    ``decode_filtered``'s scan set."""
    from .deletes import has_deletes
    from .plan import plan_chunks

    flt = list(filters or [])
    any_flt = list(any_filters or [])
    types = column_arrow_types(out_dir, include_added=True)
    for c in list(columns or []) + [f[0] for f in flt + any_flt]:
        if c not in types:
            raise KeyError(f"column {c!r} not in encoded data")
    scan_cols = columns
    if scan_cols is not None:
        fcols = dict.fromkeys(f[0] for f in flt + any_flt)
        scan_cols = list(scan_cols) + [c for c in fcols
                                       if c not in scan_cols]
    pids = _as_of_pids(out_dir, as_of) if as_of is not None else None
    c = plan_chunks(out_dir, scan_cols, flt, any_flt, pids=pids,
                    types=types).counts
    return {
        "store": out_dir,
        "columns": sorted(scan_cols) if scan_cols is not None else None,
        "filters": [list(f) for f in flt],
        "any_filters": [list(f) for f in any_flt],
        "as_of": as_of,
        "chunks_total": c["chunks_total"],
        "chunks_after_zones": c["chunks_after_zones"],
        "chunks_kept": c["chunks_kept"],
        "rows_total": c["rows_total"],
        "rows_bound": c["rows_kept"],
        "enc_bytes_total": c["enc_bytes_total"],
        "enc_bytes_to_read": c["enc_bytes_kept"],
        "scan_fraction": (round(c["enc_bytes_kept"] / c["enc_bytes_total"], 6)
                          if c["enc_bytes_total"] else 0.0),
        "has_deletes": has_deletes(out_dir),
    }


def decode_changes(spark, out_dir: str, since: int, until: int | None = None,
                   columns: list[str] | None = None,
                   filters: list[tuple] | None = None,
                   any_filters: list[tuple] | None = None) -> DataFrame:
    """Incremental (CDC-style) batch read: only the rows APPENDED by commit
    entries ``since+1 .. until`` of the store's append-only commit log
    (``since=-1`` reads from the first entry; ``until=None`` reads to the
    latest entry at call time — record ``commit_count(store) - 1`` as the
    next ``since`` watermark). The incremental-consumer loop:

        hw = -1
        while True:
            new_hw = commit_count(store) - 1
            process(decode_changes(spark, store, since=hw, until=new_hw))
            hw = new_hw

    Commit entries are immutable, so the same (since, until) pair always
    yields the same rows even while the store keeps growing — each batch
    is exactly-once with respect to appends. This is the batch sibling of
    the streaming source (``spark.readStream.format('fsst')`` follows the
    same log continuously); use this form for scheduled jobs that want one
    bounded DataFrame per run. Current row tombstones still apply
    (merge-on-read): a row appended inside the range and deleted later is
    NOT returned — deletes are store-global physical state, not versioned.

    ``filters`` / ``any_filters`` compose with the pid restriction exactly
    as in :func:`decode_filtered` — zone/dict/bloom chunk pruning plus the
    exact row predicates, so an incremental read of one language or one
    zone range decodes only the new chunks that can match.

    At 10^12 docs: the commit log is one tiny JSON per WRITE (not per
    task), the pid whitelist is metadata-scale, and the scan reads only
    the range's chunk files — incremental cost scales with the NEW data,
    never the store. Reference tie: engine-level surface with no reference
    analog (spiraldb/fsst src/lib.rs:14-17 exports codec types only)."""
    from ..sources.fsst_source import commit_range_pids

    pids = commit_range_pids(out_dir, since, until)
    if filters or any_filters:
        return decode_filtered(spark, out_dir, columns=columns,
                               filters=filters, any_filters=any_filters,
                               _pids=pids)
    return decode_job(spark, out_dir, columns, _pids=pids)


def decode_head(spark, out_dir: str, n: int,
                columns: list[str] | None = None,
                filters: list[tuple] | None = None) -> DataFrame:
    """LIMIT pushdown: return ``n`` rows while decoding only as many
    chunks as the limit needs — ``SELECT * LIMIT 100`` against a 100 TB
    store reads one chunk file, not the store.

    Chunk selection is the driver-side planner's and deterministic:
    surviving chunks (zone/dict/bloom-pruned when ``filters`` are given)
    in (pid, chunk_id) order, taking the shortest prefix whose summed
    ``n_rows`` covers the limit. Without filters or tombstones the
    metadata counts are exact and ONE selection suffices. With row
    predicates (or tombstones) surviving chunks may yield fewer rows than
    their counts, so the prefix doubles until the limit is met or every
    surviving chunk is read — each retry costs one count() over a chunk
    set that is still bounded by ~2× what the limit ultimately needed.
    ``filters`` rows are exact (zone pruning is conservative; the file
    tasks apply the row predicates, as in :func:`decode_filtered`), so
    the returned rows always satisfy them."""
    if n <= 0:
        raise ValueError(f"decode_head needs n > 0 (got {n})")
    from .deletes import has_deletes
    from .plan import plan_chunks

    flt = list(filters or [])
    types = column_arrow_types(out_dir, include_added=True)
    plan = plan_chunks(out_dir, None, flt, types=types)
    chunks = [(k, fp.n_rows[k]) for fp in plan.files for k in fp.keys]

    def build(keys):
        return _decode_rows(spark, out_dir, types, columns, flt, [],
                            _chunk_keys=keys)

    if not flt and not has_deletes(out_dir):  # exact counts: one selection
        keys, got = [], 0
        for key, rows in chunks:
            if got >= n:
                break
            keys.append(key)
            got += rows
        return build(keys).limit(n)
    k = 1
    while True:
        df = build([key for key, _ in chunks[:k]])
        if k >= len(chunks) or df.limit(n).count() >= n:
            return df.limit(n)
        k *= 2


def _hex_thr(frac: float) -> str:
    """The 8-hex-digit threshold a hash prefix must sort below to pass
    at rate ``frac``: floor(frac * 2^32), or ``"g"`` (above every
    lowercase hex digit, so everything passes) at 1.0 — formatting 2^32
    would give 9 chars, which sort BELOW most 8-char hashes."""
    # min(): frac < 1.0 can still round up to exactly 2^32 in double
    # precision — 9 hex digits would defeat the 8-char comparison
    return ("g" if frac >= 1.0
            else format(min(int(frac * (1 << 32)), 0xffffffff), "08x"))


def deterministic_sample(df: DataFrame, fraction: float,
                         key_col: str = "doc_id",
                         salt: str = "sample") -> DataFrame:
    """Keep a reproducible ~``fraction`` of rows, keyed on content.

    Predicate: the first 8 hex chars of md5(key || ':' || salt) compared
    lexicographically against the hex threshold floor(fraction * 2^32) —
    fixed-width lowercase hex compares identically to the numeric value,
    and md5 agrees byte-for-byte across engines, so DuckDB reproduces the
    selection exactly (and so does any future re-run, independent of
    partitioning, cluster size, or row order). Changing ``salt`` draws an
    independent sample.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
              .cast("binary")),
        1, 8,
    )
    return df.where(h < F.lit(_hex_thr(fraction)))


def _sample_hash(key: tuple[int, int], salt: str) -> str:
    """``decode_sample``'s chunk hash: the first 8 hex digits of
    ``md5("pid:chunk_id:salt")``, the value Spark's
    ``substring(md5(concat_ws(":", pid, chunk_id, salt)), 1, 8)`` gives."""
    return hashlib.md5(f"{key[0]}:{key[1]}:{salt}".encode()).hexdigest()[:8]


def decode_sample(spark, out_dir: str, target_rows: int, key_col: str,
                  columns: list[str] | None = None,
                  salt: str = "sample") -> DataFrame:
    """Uniform deterministic row sample of a store whose IO cost scales
    with the SAMPLE, not the store — "show me ~1,000 representative rows
    of 100 TB" without a full scan.

    Two-stage selection, both stages content-keyed (md5 thresholds, the
    same engine-reproducible trick as ``deterministic_sample``):

    1. CHUNKS at fraction ``f``: keep chunks where
       ``md5(pid:chunk_id:salt)`` clears a threshold, ``f`` sized from
       the planner's chunk metadata (no Spark job) so the selected
       chunks' exact summed ``n_rows`` covers the target (doubling until
       it does). Only these chunks ever decode.
    2. ROWS within selected chunks at rate ``r = target_rows /
       selected_rows``: keep rows where ``md5(key_col:salt)`` clears
       ``r``'s threshold (``deterministic_sample``).

    Every chunk is selected with the same probability ``f`` regardless
    of size, and within a realization every row of every selected chunk
    passes at the SAME rate ``r`` — rows are weighted equally across the
    whole sample (``r`` adapts to the selected chunks' exact row count,
    so E[rows] = ``target_rows``; with strongly varying chunk sizes the
    marginal per-row inclusion probability deviates slightly from
    ``f·r``, a standard two-stage-sampling property). The set contract
    matches ``deterministic_sample``: the same call always returns the
    same rows, any engine, any cluster size. Rows are clumped by chunk
    (that is where the IO saving comes from) — fine for eyeballing and
    aggregate estimation; use ``deterministic_sample`` post-decode when
    you need row-level independence. Tombstones thin the result below
    target like any decode; ``key_col`` must be a stored column with
    distinct-per-row values for the set to be well-defined."""
    if target_rows <= 0:
        raise ValueError(f"target_rows must be positive, got {target_rows}")
    if key_col not in column_arrow_types(out_dir):
        raise KeyError(f"key_col {key_col!r} not in encoded data")
    cols = columns
    if cols is not None:
        types = column_arrow_types(out_dir, include_added=True)
        for c in cols:
            if c not in types:
                raise KeyError(f"column {c!r} not in encoded data")
        if key_col not in cols:
            cols = list(cols) + [key_col]
    from .plan import plan_chunks

    chunks = [(_sample_hash(k, salt), k, fp.n_rows[k])
              for fp in plan_chunks(out_dir, [key_col]).files for k in fp.keys]
    rows_total = sum(n for _, _, n in chunks)
    if rows_total == 0:
        return decode_job(spark, out_dir, cols)

    # size f so the EXPECTED selected rows cover the target with slack,
    # then verify against the exact metadata counts and double on shortfall
    frac = min(1.0, 1.5 * target_rows / rows_total)
    while True:
        sel = [(k, n) for h, k, n in chunks if h < _hex_thr(frac)]
        selected_rows = sum(n for _, n in sel)
        if selected_rows >= min(target_rows, rows_total) or frac >= 1.0:
            break
        frac = min(1.0, frac * 2)
    if frac >= 1.0:  # every chunk selected: skip the whitelist entirely
        df = decode_job(spark, out_dir, cols)
    else:
        df = decode_job(spark, out_dir, cols, _chunk_keys=[k for k, _ in sel])
    r_rate = min(1.0, target_rows / max(selected_rows, 1))
    out = deterministic_sample(df, r_rate, key_col, salt)
    if columns is not None and key_col not in columns:
        out = out.drop(key_col)
    return out


def decode_semijoin(spark, out_dir: str, col: str, keys,
                    columns: list[str] | None = None,
                    max_pushdown_keys: int = 100_000) -> DataFrame:
    """Decode only the rows whose ``col`` appears in ``keys`` — the
    encoded-store analog of Spark's dynamic partition pruning / runtime
    bloom filters: the build side of a join prunes the probe side's SCAN,
    not just its rows.

    ``keys`` is a single-column DataFrame (or a Python list). Distinct
    keys up to ``max_pushdown_keys`` are collected to the driver — exactly
    what Spark's own InSubqueryExec runtime filter does — and pushed into
    chunk pruning: zone maps, dict-membership probes, and per-chunk Bloom
    filters all apply, so on a clustered or bloom-equipped store a semi
    join against a small key set touches a small fraction of the payload
    bytes. Rows are then filtered with a broadcast ``isin``-style semi
    join (never a driver-side loop). If the key set exceeds the cap, the
    scan-pruning step is skipped (every chunk decodes — correct, just
    unpruned) and only the broadcast semi join remains; at that
    cardinality the keys were never going to prune chunks anyway.

    Reference tie: engine-side scale surface with no reference analog
    (spiraldb/fsst src/lib.rs:14-17 exports only codec types); the design
    follows Spark AQE's runtime-filter pushdown shape.
    """
    from pyspark.sql import DataFrame as SparkDataFrame

    if isinstance(keys, SparkDataFrame):
        if len(keys.columns) != 1:
            raise ValueError(
                f"keys frame must have exactly one column, got {keys.columns}")
        # null keys never equi-join; dropping them up front keeps the
        # pushdown's zone/bloom probes typed
        keys_df = keys.toDF("_k").where(F.col("_k").isNotNull()).distinct()
    else:
        vals = sorted(set(k for k in keys if k is not None))
        if not vals:
            return decode_job(spark, out_dir, columns).limit(0)
        keys_df = spark.createDataFrame([(v,) for v in vals], ["_k"])
    # runtime-filter collect, capped: one narrow limit(cap+1) of DISTINCT
    # keys — metadata-scale by construction, and the cap keeps a
    # billion-key build side from ever landing on the driver
    head = [r["_k"] for r in keys_df.limit(max_pushdown_keys + 1).collect()]
    cols = columns
    if cols is not None and col not in cols:
        cols = cols + [col]
    if not head:  # empty build side: nothing can match, decode nothing
        df = decode_job(spark, out_dir, cols).limit(0)
    elif len(head) <= max_pushdown_keys:
        df = decode_job(spark, out_dir, cols,
                        zone_filter=(col, "in", head))
    else:
        df = decode_job(spark, out_dir, cols)
    out = df.join(F.broadcast(keys_df),
                  df[col] == keys_df["_k"], "left_semi")
    if columns is not None and col not in columns:
        out = out.drop(col)
    return out


def decode_stores(spark, out_dirs: "list[str]",
                  columns: list[str] | None = None,
                  filters: list[tuple] | None = None,
                  any_filters: list[tuple] | None = None,
                  provenance_col: str | None = None) -> DataFrame:
    """Read a FAMILY of encoded stores as one DataFrame — the daily-shard
    layout every web corpus converges on (a store per crawl day / dump).

    Each store decodes through its own selective path, so zone, dict and
    bloom pruning apply PER STORE before the union: a ``warc_ts`` range
    predicate over a year of daily shards skips whole stores' payloads,
    not just chunks. Columns shared by several stores must agree on arrow
    type (asserted against every manifest up front — a drifted shard
    fails fast, never mid-scan); columns missing from older shards
    null-fill, the same semantics the engine's metadata-only ADD COLUMN
    gives within one store. ``provenance_col`` adds each row's source
    store dir as a literal column (constant-folded, no per-row cost).

    Reference tie: engine-side scale surface with no reference analog
    (spiraldb/fsst src/lib.rs:14-17 exports only codec types); the shape
    follows Spark's own multi-path DataFrameReader + unionByName.
    """
    if not out_dirs:
        raise ValueError("decode_stores needs at least one store dir")
    # type-consistency gate across every manifest BEFORE any decode
    shard_types = shard_column_types(out_dirs, columns)
    parts = []
    for d, have in zip(out_dirs, shard_types):
        cols = None
        if columns is not None:
            cols = [c for c in columns if c in have]
            if not cols:
                # decode_job treats [] as "all columns"; a shard sharing
                # NO projected column contributes nothing — skip it
                # rather than polluting the union schema
                continue
        flt = [f for f in (filters or []) if f[0] in have]
        dropped = [f for f in (filters or []) if f[0] not in have]
        if dropped:
            # a conjunct on a column this shard lacks can only match NULL
            # semantics — which is never true — so the shard contributes
            # nothing; skip its scan entirely
            continue
        anyf = [f for f in (any_filters or []) if f[0] in have]
        if (any_filters or []) and not anyf:
            continue  # no OR branch can hold on this shard
        if flt or anyf:
            df = decode_filtered(spark, d, columns=cols,
                                 filters=flt or None,
                                 any_filters=anyf or None)
        else:
            df = decode_job(spark, d, cols)
        df = df.drop("pid", "chunk_id")
        if provenance_col is not None:
            df = df.withColumn(provenance_col, F.lit(d))
        parts.append(df)
    if not parts:
        # every shard pruned away: empty frame with the full projected schema
        base = decode_job(spark, out_dirs[0],
                          columns if columns is None else
                          [c for c in columns if c in shard_types[0]])
        base = base.drop("pid", "chunk_id").limit(0)
        if provenance_col is not None:
            base = base.withColumn(provenance_col, F.lit(out_dirs[0]))
        return base
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def decode_stores_plan(spark, out_dirs: "list[str]",
                       columns: list[str] | None = None,
                       filters: list[tuple] | None = None,
                       any_filters: list[tuple] | None = None) -> dict:
    """Family-level EXPLAIN: :func:`decode_plan` for each shard of a
    ``decode_stores`` read, mirroring its skip rules exactly — a shard
    lacking a conjunct's column (or every OR branch's column, or every
    projected column) contributes zero and is listed under
    ``stores_skipped`` with the reason, so the report shows WHOLE-STORE
    pruning (the per-shard predicate skipping a year of daily dumps)
    alongside the per-chunk kind. Totals sum over scanned shards only;
    ``scan_fraction`` is family-wide (bytes to read / family bytes,
    skipped shards' bytes included in the denominator — that is the
    fraction of the family's encoded bytes the query touches)."""
    if not out_dirs:
        raise ValueError("decode_stores_plan needs at least one store dir")
    plans, skipped = [], []
    denom_bytes = 0
    for d in out_dirs:
        have = set(column_arrow_types(d, include_added=True))
        cols = None
        if columns is not None:
            cols = [c for c in columns if c in have]
            if not cols:
                # carries nothing we project: contributes 0 to numerator
                # AND denominator (its bytes were never in question)
                skipped.append({"store": d,
                                "reason": "no projected column"})
                continue
        denom_cols = cols
        if denom_cols is not None:
            # keep the denominator comparable to the numerator: filter
            # columns widen the real scan set (decode_plan does the same)
            fcols = [f[0] for f in (filters or []) + (any_filters or [])]
            denom_cols = denom_cols + [c for c in fcols
                                       if c in have and c not in denom_cols]
        full = decode_plan(spark, d, columns=denom_cols)
        denom_bytes += full["enc_bytes_total"]
        flt = [f for f in (filters or []) if f[0] in have]
        if len(flt) != len(filters or []):
            skipped.append({"store": d,
                            "reason": "conjunct on absent column"})
            continue
        anyf = [f for f in (any_filters or []) if f[0] in have]
        if (any_filters or []) and not anyf:
            skipped.append({"store": d,
                            "reason": "no OR branch column present"})
            continue
        plans.append(decode_plan(spark, d, columns=cols,
                                 filters=flt or None,
                                 any_filters=anyf or None))
    tot = lambda k: sum(p[k] for p in plans)  # noqa: E731
    return {
        "stores": len(out_dirs),
        "stores_scanned": len(plans),
        "stores_skipped": skipped,
        "chunks_total": tot("chunks_total"),
        "chunks_kept": tot("chunks_kept"),
        "rows_total": tot("rows_total"),
        "rows_bound": tot("rows_bound"),
        "enc_bytes_family": denom_bytes,
        "enc_bytes_to_read": tot("enc_bytes_to_read"),
        "scan_fraction": (round(tot("enc_bytes_to_read") / denom_bytes, 6)
                          if denom_bytes else 0.0),
        "per_store": plans,
    }
