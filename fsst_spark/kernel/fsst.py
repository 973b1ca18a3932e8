"""Scalar (pure-Python) FSST codec — the correctness oracle for the engine.

FSST (Fast Static Symbol Tables, Boncz/Neumann/Leis VLDB 2020) compresses
byte strings with a trained table of <=255 symbols of 1..8 bytes each; each
symbol is replaced by a 1-byte code, bytes not covered by any symbol are
written as a 2-byte escape pair (0xFF, literal).

Semantics follow the public reference implementation (spiraldb/fsst v0.4.3):
  * symbol model / code packing ............. reference src/lib.rs:22-216
  * training (sample, generations, gain) .... reference src/builder.rs:516-813
  * lossy perfect hash table ................ reference src/lossy_pht.rs
  * greedy longest-match compression ........ reference src/lib.rs:366-529
  * escape-format decode .................... reference src/lib.rs:255-303

This module is deliberately scalar and simple; the distributed engine uses
it only for (a) per-partition training over a <=16 KiB sample (O(1) work per
partition) and (b) as the oracle that the vectorized numpy kernels in
``fsst_vec.py`` are property-tested against.

No code is copied from the reference; it is re-derived from the published
algorithm and the observable behavior documented in SURVEY.md.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

M64 = (1 << 64) - 1

# Code-space layout (reference src/lib.rs:159-183).
ESCAPE_CODE = 255
CODE_MASK = 511  # max extended code; 511 itself is the "unused" marker
CODE_BASE = 256  # extended codes >= 256 are real symbols during building
LEN_SHIFT = 12  # bits 12..15 of a packed code hold the symbol length
CODE_UNUSED = CODE_MASK + (1 << LEN_SHIFT)  # code byte 255, ext 511, len 1

# Training constants (reference src/builder.rs:516-526; FSST paper sec 4.3).
GENERATIONS = (8, 38, 68, 98, 128)
SAMPLE_TARGET = 1 << 14  # 16 KiB
SAMPLE_MAX = 1 << 15
SAMPLE_LINE = 512

PHT_SIZE = 1 << 11  # 2048 slots (reference src/lossy_pht.rs:12)
PHT_MASK = PHT_SIZE - 1


def fsst_hash(v: int) -> int:
    """The FSST_HASH function (reference src/builder.rs:590-592)."""
    v &= M64
    return ((v * 2971215073) & M64) ^ (v >> 15)


def sym_len(s: int) -> int:
    """Byte length of a u64-packed little-endian symbol (1..8).

    All-zero symbol means the single byte 0x00 (reference src/lib.rs:48-69).
    """
    if s == 0:
        return 1
    return (s.bit_length() + 7) >> 3


def _sym_len_vec(s: np.ndarray) -> np.ndarray:
    """Vectorized ``sym_len`` over a uint64 symbol array (1..8; 0 -> 1)."""
    lens = np.ones(len(s), dtype=np.int64)
    thr = np.uint64(0xFF)
    for _ in range(7):
        lens += (s > thr)
        thr = (thr << np.uint64(8)) | np.uint64(0xFF)
    return lens


def sym_from_bytes(bs: bytes) -> int:
    return int.from_bytes(bs[:8].ljust(8, b"\x00"), "little")


def _code_new_symbol(code: int, length: int) -> int:
    return code + (length << LEN_SHIFT)


def _code_new_building(code: int, length: int) -> int:
    return code + 256 + (length << LEN_SHIFT)


def _code_new_escape(byte: int) -> int:
    return byte + (1 << LEN_SHIFT)


class _Counter:
    """Single-code and code-pair frequency counters (builder.rs:110-223)."""

    __slots__ = ("counts1", "counts2")

    def __init__(self) -> None:
        self.counts1: dict[int, int] = {}
        self.counts2: dict[int, dict[int, int]] = {}

    def record1(self, c: int) -> None:
        self.counts1[c] = self.counts1.get(c, 0) + 1

    def record2(self, c1: int, c2: int) -> None:
        row = self.counts2.get(c1)
        if row is None:
            row = {}
            self.counts2[c1] = row
        row[c2] = row.get(c2, 0) + 1

    def clear(self) -> None:
        self.counts1.clear()
        self.counts2.clear()


class CompressorBuilder:
    """Builds a symbol table; mirrors reference src/builder.rs:226-513."""

    def __init__(self) -> None:
        # Entries 0..255 are the single-byte "escape" symbols; 256..510 hold
        # the real symbols during building (builder.rs:254-293).
        self.symbols: list[int] = list(range(256)) + [0] * 255
        self.n_symbols = 0
        self.len_hist = [0] * 8
        self.codes_one_byte: list[int] = [_code_new_escape(b) for b in range(256)]
        # one uint32 per 2-byte prefix; kept as a numpy array (values are
        # exactly _code_new_escape(i & 0xFF) for each i) so the 65536-entry
        # init/finalize sweeps vectorize and the native counting kernel
        # reads it zero-copy
        self.codes_two_byte = (
            (np.arange(65536, dtype=np.uint32) & np.uint32(0xFF))
            | np.uint32(1 << LEN_SHIFT))
        # Lossy PHT for symbols of >= 3 bytes (lossy_pht.rs:59-122).
        self.pht_sym = [0] * PHT_SIZE
        self.pht_code = [CODE_UNUSED] * PHT_SIZE
        self.pht_ign = [64] * PHT_SIZE

    # -- lossy PHT ---------------------------------------------------------
    def _pht_insert(self, sym: int, length: int, code: int) -> bool:
        slot = fsst_hash(sym & 0xFFFFFF) & PHT_MASK
        if self.pht_code[slot] != CODE_UNUSED:
            return False  # collision: keep the earlier (higher-gain) symbol
        self.pht_sym[slot] = sym
        self.pht_code[slot] = _code_new_building(code, length)
        self.pht_ign[slot] = 64 - 8 * sym_len(sym)
        return True

    def _pht_remove(self, sym: int) -> None:
        slot = fsst_hash(sym & 0xFFFFFF) & PHT_MASK
        self.pht_code[slot] = CODE_UNUSED

    # -- building ----------------------------------------------------------
    def insert(self, sym: int, length: int) -> bool:
        assert self.n_symbols < 255, "cannot insert into full symbol table"
        assert length == sym_len(sym)
        if length == 2:
            self.codes_two_byte[sym & 0xFFFF] = _code_new_building(self.n_symbols, 2)
        elif length == 1:
            self.codes_one_byte[sym & 0xFF] = _code_new_building(self.n_symbols, 1)
        else:
            if not self._pht_insert(sym, length, self.n_symbols):
                return False
        self.len_hist[length - 1] += 1
        self.symbols[256 + self.n_symbols] = sym
        self.n_symbols += 1
        return True

    def clear(self) -> None:
        for code in range(256 + self.n_symbols):
            sym = self.symbols[code]
            ln = sym_len(sym)
            if ln == 1:
                self.codes_one_byte[sym & 0xFF] = _code_new_escape(sym & 0xFF)
            elif ln == 2:
                self.codes_two_byte[sym & 0xFFFF] = _code_new_escape(sym & 0xFF)
            else:
                self._pht_remove(sym)
        self.len_hist = [0] * 8
        self.n_symbols = 0

    # -- training ----------------------------------------------------------
    def find_longest_symbol(self, word: int) -> int:
        """Longest match in building code space (builder.rs:633-651)."""
        slot = fsst_hash(word & 0xFFFFFF) & PHT_MASK
        pcode = self.pht_code[slot]
        if pcode != CODE_UNUSED and (word & (M64 >> self.pht_ign[slot])) == self.pht_sym[slot]:
            return pcode
        two = int(self.codes_two_byte[word & 0xFFFF])  # np.uint32 -> int
        if (two & CODE_MASK) >= CODE_BASE:
            return two
        return self.codes_one_byte[word & 0xFF]

    def compress_count(self, sample: bytes, counter: _Counter) -> int:
        """One greedy pass over a sample line, tallying code and pair counts
        (builder.rs:658-750). Returns the gain (matched length - escapes)."""
        gain = 0
        n = len(sample)
        if n == 0:
            return 0
        record1 = counter.record1
        record2 = counter.record2
        find = self.find_longest_symbol
        symbols = self.symbols
        prev = CODE_MASK
        pos = 0
        # Uniform zero-padded window: identical word values to the reference's
        # main-loop (full 8-byte read) + tail (shifted register) split.
        end_main = n - 8
        from_bytes = int.from_bytes
        while pos < end_main:
            word = from_bytes(sample[pos : pos + 8], "little")
            code = find(word)
            ext = code & CODE_MASK
            ln = code >> LEN_SHIFT
            gain += ln - (1 if ext < 256 else 0)
            record1(ext)
            record2(prev, ext)
            if ln > 1:
                fb = symbols[ext] & 0xFF
                record1(fb)
                record2(prev, fb)
            pos += ln
            prev = ext
        # Tail: zero-padded final word, shifted as we consume.
        word = from_bytes(sample[pos:].ljust(8, b"\x00"), "little")
        remaining = n - pos
        while remaining > 0:
            code = find(word)
            ext = code & CODE_MASK
            ln = code >> LEN_SHIFT
            gain += ln - (1 if ext < 256 else 0)
            record1(ext)
            record2(prev, ext)
            if ln > 1:
                fb = symbols[ext] & 0xFF
                record1(fb)
                record2(prev, fb)
            remaining -= ln
            word >>= 8 * ln
            prev = ext
        return gain

    def _select_candidates(self, cand: "list[tuple[int, int, int]]") -> None:
        """Heap-pop candidates best-first and rebuild the table
        (builder.rs:787-813). Only the candidate MULTISET matters: the heap
        pops tuples in sorted order and equal tuples are interchangeable,
        so dense- and dict-built candidate lists yield identical tables."""
        import heapq

        heapq.heapify(cand)
        self.clear()
        n_inserted = 0
        pop = heapq.heappop
        while cand and n_inserted < 255:
            _, _, sym = pop(cand)
            if self.insert(sym, sym_len(sym)):
                n_inserted += 1

    def optimize(self, counter: _Counter, sample_frac: int) -> None:
        """Gain-ranked candidate selection (builder.rs:754-813)."""
        cand: list[tuple[int, int, int]] = []  # (-gain, -len, sym)
        counts1 = counter.counts1
        counts2 = counter.counts2
        symbols = self.symbols
        prune = 5 * sample_frac // 128
        for code1 in sorted(counts1):
            count = counts1[code1]
            if count < prune:
                continue
            s1 = symbols[code1]
            l1 = sym_len(s1)
            gain = count * l1
            if code1 < 256:
                gain *= 8  # boost single bytes to cut escape counts
            cand.append((-gain, -l1, s1))
            if sample_frac >= 128 or l1 == 8:
                continue
            row = counts2.get(code1)
            if not row:
                continue
            for code2 in sorted(row):
                s2 = symbols[code2]
                if l1 + sym_len(s2) > 8:
                    continue
                merged = ((s2 << (8 * l1)) | s1) & M64
                mgain = row[code2] * sym_len(merged)
                cand.append((-mgain, -sym_len(merged), merged))
        self._select_candidates(cand)

    def optimize_dense(self, c1: np.ndarray, c2: np.ndarray,
                       sample_frac: int) -> None:
        """``optimize`` fed by the native counter's dense count arrays —
        the same candidate multiset built with vectorized numpy instead of
        dict iteration, selected via one lexsort walk instead of a Python
        tuple heap (same (-gain, -len, sym) ascending order, and equal
        tuples are interchangeable, so tables are identical; pinned by
        tests/test_native_train.py)."""
        prune = 5 * sample_frac // 128
        symbols = np.array(self.symbols[:511], dtype=np.uint64)
        lens = _sym_len_vec(symbols)
        codes = np.nonzero(c1)[0]
        counts = c1[codes].astype(np.int64)
        keep = counts >= prune
        codes, counts = codes[keep], counts[keep]
        s1 = symbols[codes]
        l1 = lens[codes].astype(np.int64)
        gain = counts * l1
        gain = np.where(codes < 256, gain * 8, gain)
        if sample_frac < 128:
            rows_sel = codes[l1 < 8]
            sub = c2[rows_sel]
            r_idx, code2 = np.nonzero(sub)
            cnt = sub[r_idx, code2].astype(np.int64)
            code1 = rows_sel[r_idx]
            s1p, l1p = symbols[code1], lens[code1]
            s2p, l2p = symbols[code2], lens[code2]
            ok = (l1p + l2p) <= 8
            merged = (s2p[ok] << (np.uint64(8) * l1p[ok].astype(np.uint64))) \
                | s1p[ok]
            mlen = _sym_len_vec(merged).astype(np.int64)
            mgain = cnt[ok] * mlen
            syms = np.concatenate([s1, merged])
            glen = np.concatenate([l1, mlen])
            ggain = np.concatenate([gain, mgain])
        else:
            syms, glen, ggain = s1, l1, gain
        # ascending (-gain, -len, sym): lexsort's LAST key is primary
        order = np.lexsort((syms, -glen, -ggain))
        self.clear()
        n_inserted = 0
        sym_l = syms[order].tolist()
        len_l = glen[order].tolist()
        ins = self.insert
        for sym, ln in zip(sym_l, len_l):
            if ins(sym, ln):
                n_inserted += 1
                if n_inserted >= 255:
                    break

    # -- finalization ------------------------------------------------------
    def finalize(self) -> tuple[int, list[int]]:
        """Renumber codes by length order 2(no-suffix)|2(suffix)|3..8|1 and
        rewrite the inverted indexes (builder.rs:390-496).

        The suffix test here scans only the *current* n_symbols entries;
        the reference scans the full 255-slot region including stale entries
        from earlier generations (builder.rs:427-432), which can only mark
        extra symbols "has-suffix" — a pure fast-path flag that never changes
        compressed output, so this is semantics-preserving.
        """
        n = self.n_symbols
        byte_lim = n - self.len_hist[0]
        codes_by_length = [0] * 8
        codes_by_length[0] = byte_lim
        codes_by_length[1] = 0
        for i in range(1, 7):
            codes_by_length[i + 1] = codes_by_length[i] + self.len_hist[i]
        no_suffix_code = 0
        has_suffix_code = codes_by_length[2]
        new_codes = [0] * 256
        cur = [self.symbols[256 + i] for i in range(n)]
        first2s = [s & 0xFFFF for s in cur]
        for i in range(n):
            sym = cur[i]
            ln = sym_len(sym)
            if ln == 2:
                f2 = first2s[i]
                has_suffix = any(k != i and f2 == first2s[k] for k in range(n))
                if has_suffix:
                    has_suffix_code -= 1
                    new_codes[i] = has_suffix_code
                else:
                    new_codes[i] = no_suffix_code
                    no_suffix_code += 1
            else:
                new_codes[i] = codes_by_length[ln - 1]
                codes_by_length[ln - 1] += 1
            self.symbols[new_codes[i]] = sym
        self.symbols = self.symbols[:n]
        # Rewrite the one-byte index: real codes remapped, escapes -> UNUSED.
        for b in range(256):
            one = self.codes_one_byte[b]
            if (one & CODE_MASK) >= CODE_BASE:
                self.codes_one_byte[b] = _code_new_symbol(new_codes[one & 0xFF], 1)
            else:
                self.codes_one_byte[b] = CODE_UNUSED
        # Rewrite the two-byte index: real codes remapped, else the (possibly
        # UNUSED) one-byte entry for the first char — one vectorized sweep.
        two = self.codes_two_byte
        nc = np.zeros(256, dtype=np.uint32)
        nc[: len(new_codes)] = new_codes
        ones = np.array(self.codes_one_byte, dtype=np.uint32)
        real = (two & np.uint32(CODE_MASK)) >= np.uint32(CODE_BASE)
        mapped = nc[(two & np.uint32(0xFF)).astype(np.intp)] \
            + np.uint32(2 << LEN_SHIFT)
        self.codes_two_byte = np.where(real, mapped, np.tile(ones, 256))
        # Renumber the PHT.
        for slot in range(PHT_SIZE):
            pcode = self.pht_code[slot]
            if pcode != CODE_UNUSED:
                self.pht_code[slot] = _code_new_symbol(new_codes[pcode & 0xFF], pcode >> LEN_SHIFT)
        lengths = [sym_len(s) for s in self.symbols]
        return has_suffix_code, lengths

    def build(self) -> "Compressor":
        has_suffix_code, lengths = self.finalize()
        return Compressor(
            symbols=self.symbols,
            lengths=lengths,
            n_symbols=self.n_symbols,
            has_suffix_code=has_suffix_code,
            codes_two_byte=self.codes_two_byte,
            pht_sym=self.pht_sym,
            pht_code=self.pht_code,
            pht_ign=self.pht_ign,
        )


def make_sample(values: list[bytes]) -> list[bytes]:
    """<=16 KiB pseudo-random sample of 512-byte chunks (builder.rs:535-584).

    Deterministic: the PRNG is the fsst_hash chain seeded with 4637947."""
    tot = sum(len(v) for v in values)
    if tot < SAMPLE_TARGET:
        return list(values)
    sample: list[bytes] = []
    rnd = fsst_hash(4637947)
    offset = 0
    nvals = len(values)
    while offset < SAMPLE_TARGET:
        rnd = fsst_hash(rnd)
        line_nr = rnd % nvals
        line = None
        for j in range(line_nr, nvals):
            if values[j]:
                line = values[j]
                break
        if line is None:
            for j in range(line_nr):
                if values[j]:
                    line = values[j]
                    break
        if line is None:
            return sample
        chunks = 1 + (len(line) - 1) // SAMPLE_LINE
        rnd = fsst_hash(rnd)
        chunk = SAMPLE_LINE * (rnd % chunks)
        ln = min(SAMPLE_LINE, len(line) - chunk)
        sample.append(line[chunk : chunk + ln])
        offset += ln
    return sample


def train(values: list[bytes]) -> "Compressor":
    """Train a compressor: 5 generations of compress_count + optimize over a
    <=16 KiB sample (reference src/builder.rs:604-628).

    The per-generation greedy counting walk runs in the native C kernel
    when a compiler is available (property-tested to produce identical
    counters, hence an identical table); the scalar loop below is the
    oracle and the no-compiler fallback."""
    builder = CompressorBuilder()
    if not values:
        return builder.build()
    counter = _Counter()
    sample = make_sample(values)
    native = None
    if sample:
        from .native import make_native_counter

        native = make_native_counter(sample)
    for frac in GENERATIONS:
        if native is not None:
            mask = np.fromiter(
                ((frac >= 128) or ((fsst_hash(i) & 127) <= frac)
                 for i in range(len(sample))),
                dtype=bool, count=len(sample))
            c1, c2 = native.run_generation(builder, mask)
            builder.optimize_dense(c1, c2, frac)
        else:
            for i, line in enumerate(sample):
                if frac < 128 and (fsst_hash(i) & 127) > frac:
                    continue
                builder.compress_count(line, counter)
            builder.optimize(counter, frac)
            counter.clear()
    return builder.build()


@dataclass
class Compressor:
    """A finalized symbol table plus the lookup structures for encoding."""

    symbols: list[int]  # n_symbols packed u64 symbols, indexed by code
    lengths: list[int]
    n_symbols: int
    has_suffix_code: int
    codes_two_byte: list[int]  # 65536 packed codes
    pht_sym: list[int]
    pht_code: list[int]
    pht_ign: list[int]

    # -- scalar encode (oracle; the engine uses fsst_vec) -------------------
    def compress(self, plaintext: bytes) -> bytes:
        """Greedy longest-match encode (reference src/lib.rs:366-529)."""
        n = len(plaintext)
        if n == 0:
            return b""
        out = bytearray()
        append = out.append
        codes_two_byte = self.codes_two_byte
        has_suffix = self.has_suffix_code
        pht_sym = self.pht_sym
        pht_code = self.pht_code
        pht_ign = self.pht_ign
        from_bytes = int.from_bytes
        pos = 0
        while pos < n:
            if pos + 8 <= n:
                word = from_bytes(plaintext[pos : pos + 8], "little")
            else:
                word = from_bytes(plaintext[pos:].ljust(8, b"\x00"), "little")
            two = int(codes_two_byte[word & 0xFFFF])  # np.uint32 -> int
            if (two & 0xFF) < has_suffix:
                append(two & 0xFF)
                pos += 2
                continue
            slot = fsst_hash(word & 0xFFFFFF) & PHT_MASK
            pcode = pht_code[slot]
            if pcode != CODE_UNUSED and (word & (M64 >> pht_ign[slot])) == pht_sym[slot]:
                append(pcode & 0xFF)
                pos += pcode >> LEN_SHIFT
            else:
                append(two & 0xFF)
                if (two & CODE_MASK) >> 8:
                    append(word & 0xFF)  # escape pair: 0xFF then the literal
                pos += two >> LEN_SHIFT
        return bytes(out)

    def decompressor(self) -> "Decompressor":
        return Decompressor(self.symbols, self.lengths)

    # -- serialization for manifests ----------------------------------------
    def table_bytes(self) -> bytes:
        return serialize_table(self.symbols, self.lengths, self.has_suffix_code)


@dataclass
class Decompressor:
    """Decode needs only the symbol table (reference src/lib.rs:229-236)."""

    symbols: list[int]
    lengths: list[int]

    def decompress(self, compressed: bytes) -> bytes:
        out = bytearray()
        symbols = self.symbols
        lengths = self.lengths
        i = 0
        n = len(compressed)
        while i < n:
            code = compressed[i]
            if code == ESCAPE_CODE:
                out.append(compressed[i + 1])
                i += 2
            else:
                out += symbols[code].to_bytes(8, "little")[: lengths[code]]
                i += 1
        return bytes(out)


def compressor_from_table(symbols: list[int], lengths: list[int], has_suffix_code: int) -> "Compressor":
    """Rebuild a finalized Compressor from a serialized table.

    Reconstructs the inverted indexes directly from (code -> symbol), so
    code numbering is preserved exactly (re-running finalize would renumber
    the has-suffix 2-byte range in reverse). PHT collisions keep the
    lower code (mirrors gain-ordered insertion, reference lossy_pht.rs:49).
    """
    one_byte: dict[int, int] = {}
    for code, (s, ln) in enumerate(zip(symbols, lengths)):
        if ln == 1:
            one_byte.setdefault(s & 0xFF, code)
    base = [CODE_UNUSED] * 256
    for b, code in one_byte.items():
        base[b] = _code_new_symbol(code, 1)
    codes_two_byte = [base[w & 0xFF] for w in range(65536)]
    pht_sym = [0] * PHT_SIZE
    pht_code = [CODE_UNUSED] * PHT_SIZE
    pht_ign = [64] * PHT_SIZE
    for code, (s, ln) in enumerate(zip(symbols, lengths)):
        if ln == 2:
            codes_two_byte[s & 0xFFFF] = _code_new_symbol(code, 2)
        elif ln >= 3:
            slot = fsst_hash(s & 0xFFFFFF) & PHT_MASK
            if pht_code[slot] == CODE_UNUSED:
                pht_sym[slot] = s
                pht_code[slot] = _code_new_symbol(code, ln)
                pht_ign[slot] = 64 - 8 * ln
    return Compressor(
        symbols=list(symbols), lengths=list(lengths), n_symbols=len(symbols),
        has_suffix_code=has_suffix_code, codes_two_byte=codes_two_byte,
        pht_sym=pht_sym, pht_code=pht_code, pht_ign=pht_ign,
    )


TABLE_VERSION = 1


def serialize_table(symbols: list[int], lengths: list[int], has_suffix_code: int) -> bytes:
    """[ver u8][n u8][has_suffix u8][lengths n][symbols n*8 LE]."""
    n = len(symbols)
    assert n <= 255
    head = bytes([TABLE_VERSION, n, has_suffix_code])
    return head + bytes(lengths) + b"".join(s.to_bytes(8, "little") for s in symbols)


def deserialize_table(blob: bytes) -> tuple[list[int], list[int], int]:
    """Returns (symbols, lengths, has_suffix_code)."""
    ver, n, has_suffix = blob[0], blob[1], blob[2]
    assert ver == TABLE_VERSION
    lengths = list(blob[3 : 3 + n])
    symbols = [int.from_bytes(blob[3 + n + 8 * i : 3 + n + 8 * i + 8], "little") for i in range(n)]
    return symbols, lengths, has_suffix


def table_to_numpy(symbols: list[int], lengths: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """(256, 8) uint8 symbol-byte matrix and uint8[256] lengths for decode.

    Codes >= n_symbols never appear in valid streams; their rows are zero
    and their length is 0, which is how decode detects corrupt streams."""
    mat = np.zeros((256, 8), dtype=np.uint8)
    lens = np.zeros(256, dtype=np.uint8)
    for code, (s, ln) in enumerate(zip(symbols, lengths)):
        mat[code] = np.frombuffer(s.to_bytes(8, "little"), dtype=np.uint8)
        lens[code] = ln
    return mat, lens
