"""Deduplication operators for web-scale corpora.

  * exact dedup        — hash group-by on a normalized fingerprint (built-ins)
  * MinHash + LSH      — shingle -> minhash signature (Arrow-batched pandas
                         UDF, numpy-vectorized per doc) -> banded bucket join
  * SimHash            — 64-bit weighted token-hash fingerprint
  * n-gram Jaccard     — exact similarity verification for candidate pairs

Scale notes: the LSH band join shuffles only (band, bucket, doc_id) — never
text — and bucket sizes are bounded by the band width; candidate
verification joins text back only for the (tiny) candidate set, broadcast
when small. At 10^12 docs the band join is the standard near-dup shape
(each stage is a hash shuffle on narrow keys).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from .textstats import normalized_fingerprint

M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(n_docs, n_distinct, n_dup_docs) by exact normalized content."""
    fp = df.select(normalized_fingerprint(F.col(text_col)).alias("fp"))
    groups = fp.groupBy("fp").agg(F.count("*").alias("cnt"))
    return groups.agg(
        F.sum("cnt").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("n_dup_docs"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", keep: str = "min",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative doc per exact normalized content.

    ``keep`` selects the survivor: 'min' (lowest id) or 'max' (highest).
    """
    pick = {"min": F.min, "max": F.max}
    if keep not in pick:
        raise ValueError(f"keep must be 'min' or 'max', got {keep!r}")
    w = df.withColumn("_fp", normalized_fingerprint(F.col(text_col)))
    agg = w.groupBy("_fp").agg(pick[keep](id_col).alias(id_col))
    return w.join(agg, ["_fp", id_col], "inner").drop("_fp")


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------
def _minhash_params(n_hashes: int, seed: int = 1) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 61, n_hashes, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 61, n_hashes, dtype=np.uint64)
    return a, b


def _window_hashes(buf: np.ndarray, k: int) -> np.ndarray:
    """uint64 polynomial hash of every k-byte window of a uint8 buffer.

    k shifted passes accumulating ``buf[j:] * mul[j]`` into one uint64
    array: peak transient memory is ~16 B/window (hash + one reused temp)
    instead of the ~8k B/window blowup of materializing
    ``sliding_window_view(buf, k).astype(uint64) * mul`` (at k=5 that was
    ~80x the text bytes per Arrow batch — an executor OOM risk on multi-KB
    web documents). Identical values: both compute
    ``sum_j buf[i+j] * mul[j]`` with uint64 wraparound."""
    n_win = len(buf) - k + 1
    mul = np.uint64(1099511628211) ** np.arange(k, dtype=np.uint64)
    h = np.zeros(n_win, dtype=np.uint64)
    tmp = np.empty(n_win, dtype=np.uint64)
    for j in range(k):
        np.multiply(buf[j : j + n_win], mul[j], out=tmp, casting="unsafe")
        h += tmp
    h ^= h >> np.uint64(33)
    h *= np.uint64(0xFF51AFD7ED558CCD)
    return h


def _shingle_hashes(data: bytes, k: int) -> np.ndarray:
    """uint64 hashes of all k-byte shingles (vectorized rolling window)."""
    arr = np.frombuffer(data, dtype=np.uint8)
    if len(arr) < k:
        arr = np.frombuffer(data.ljust(k, b"\x00"), dtype=np.uint8)
    return np.unique(_window_hashes(arr, k) & M64)


def _batch_shingle_hashes(datas: list[bytes], k: int) -> tuple[np.ndarray, np.ndarray]:
    """Shingle hashes for a whole batch in one numpy pass.

    Concatenates the batch (each doc zero-padded to >= k bytes so every doc
    has at least one shingle), hashes every k-byte window of the joined
    buffer once, then gathers each doc's valid windows. Returns
    (hashes uint64[W], bounds int64[ndocs+1]) where doc d owns
    hashes[bounds[d]:bounds[d+1]]. Duplicates are kept (MinHash minima are
    unaffected by multiplicity)."""
    padded = [d if len(d) >= k else d.ljust(k, b"\x00") for d in datas]
    lens = np.fromiter((len(d) for d in padded), dtype=np.int64, count=len(padded))
    byte_starts = np.zeros(len(padded) + 1, dtype=np.int64)
    np.cumsum(lens, out=byte_starts[1:])
    buf = np.frombuffer(b"".join(padded), dtype=np.uint8)
    h = _window_hashes(buf, k)

    n_win = lens - k + 1  # >= 1 per doc by construction
    bounds = np.zeros(len(padded) + 1, dtype=np.int64)
    np.cumsum(n_win, out=bounds[1:])
    # gather each doc's windows: skip the k-1 cross-boundary windows per doc
    seg = np.arange(int(bounds[-1]), dtype=np.int64) - np.repeat(bounds[:-1], n_win)
    idx = np.repeat(byte_starts[:-1], n_win) + seg
    return h[idx] & M64, bounds


def minhash_signature_udf(n_hashes: int = 64, shingle_k: int = 5, seed: int = 1):
    """pandas_udf: text -> array<bigint> MinHash signature.

    Fully batch-vectorized: one shingle-hash pass over the concatenated
    batch, then per-hash-function segmented minima via
    ``np.minimum.reduceat`` over doc boundaries — no per-document Python."""
    a, b = _minhash_params(n_hashes, seed)

    @pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        datas = [(t or "").encode("utf-8", "surrogatepass") for t in texts]
        nd = len(datas)
        if nd == 0:
            return pd.Series([], dtype=object)
        sh, bounds = _batch_shingle_hashes(datas, shingle_k)
        out = np.empty((nd, n_hashes), dtype=np.int64)
        starts = bounds[:-1]
        for i in range(n_hashes):
            vals = sh * a[i] + b[i]  # uint64 wrap-around
            out[:, i] = np.minimum.reduceat(vals, starts).astype(np.int64)
        empty = np.fromiter((len(d) == 0 for d in datas), dtype=bool, count=nd)
        out[empty] = 0  # empty docs keep the all-zero signature
        return pd.Series(list(out))

    return sig


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = 64, shingle_k: int = 5, seed: int = 1) -> DataFrame:
    """(id, sig) MinHash signature frame — the build step.

    At 10^12 docs this is written out once (the expensive UDF pass) and
    every LSH/estimate consumer reads the materialized frame instead of
    recomputing signatures."""
    return df.select(
        F.col(id_col),
        minhash_signature_udf(n_hashes, shingle_k, seed)(F.col(text_col)).alias("sig"),
    )


def band_buckets(sig: DataFrame, id_col: str = "doc_id",
                 n_hashes: int = 64, bands: int = 16) -> DataFrame:
    """(id, band, bucket) rows from a signature frame: each band's slice of
    the signature hashes to one 64-bit bucket key (band index salted in so
    identical slices in different bands never collide). Pure JVM
    expressions — this is the narrow frame every LSH consumer (self-join
    candidates, the persisted dedup index) shuffles instead of text."""
    rows_per_band = n_hashes // bands
    band_cols = [
        F.xxhash64(F.slice("sig", i * rows_per_band + 1, rows_per_band)
                   .cast("string"), F.lit(i)).alias("bucket")
        for i in range(bands)
    ]
    return sig.select(
        F.col(id_col),
        F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
    )


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           n_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
                           seed: int = 1, estimate: bool = False,
                           sig_df: DataFrame | None = None,
                           persisted_out: list | None = None,
                           bucket_cap: int | None = 4096) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Returns distinct (id_a, id_b) with id_a < id_b. Shuffles only narrow
    (band, bucket_hash, id) rows; text never moves.

    ``bucket_cap`` bounds the quadratic blow-up of pathological buckets:
    a real web corpus has boilerplate ("404 not found" pages, cookie
    banners) whose shared band signature collects millions of docs — an
    uncapped self-join on that bucket emits m^2 candidate rows before any
    filter. Buckets larger than the cap are DROPPED (standard LSH bucket
    ceiling): a pair inside a dropped bucket is still found through any
    of its other ``bands-1`` buckets that stay under the cap, and content
    so duplicated that ALL its buckets overflow is exact-duplicate-grade
    boilerplate, which ``exact_dedup`` removes before near-dup runs. The
    over-cap key list is tiny (only pathological buckets), so the guard
    is one narrow-key count plus a broadcast anti-join.

    With ``estimate=True`` each pair also carries ``est_jaccard`` — the
    fraction of agreeing signature slots, a JVM-side zip_with/aggregate,
    no Python. Banded LSH is deliberately recall-biased (a 0.4-similar
    pair still collides in some band fairly often), so the estimate is the
    cheap precision filter that keeps exact verification off the
    candidate flood.

    The signature frame is referenced up to three times (bands + both
    sides of the estimate join): pass a prebuilt ``sig_df`` (from
    ``minhash_signatures``, materialized), else it is persisted here so
    the pandas-UDF signature pass runs exactly once per job, not 3x.
    The ad-hoc persist is appended to ``persisted_out`` when given so the
    caller can ``unpersist()`` once its consumers have materialized
    (``neardup_dedup`` does); otherwise it lives until LRU eviction or
    session stop — long-lived sessions should pass the list or a prebuilt
    ``sig_df``."""
    assert n_hashes % bands == 0
    sig = sig_df if sig_df is not None else minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_k, seed)
    if sig_df is None and estimate:
        # 3 downstream references -> cache the one expensive UDF pass.
        # (At real scale prefer a written signature table via
        # minhash_signatures.)
        sig = sig.persist()
        if persisted_out is not None:
            persisted_out.append(sig)
    banded = band_buckets(sig, id_col, n_hashes, bands)
    if bucket_cap:
        over = (banded.groupBy("band", "bucket").count()
                .where(F.col("count") > bucket_cap).select("band", "bucket"))
        banded = banded.join(F.broadcast(over), ["band", "bucket"], "left_anti")
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    if not estimate:
        return pairs
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    n_agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v,
    )
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", (n_agree / F.lit(n_hashes)).alias("est_jaccard"))
    )


def ngram_jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", shingle_k: int = 5,
                         threshold: float = 0.7) -> DataFrame:
    """Exact shingle-Jaccard for candidate pairs; keeps pairs >= threshold."""
    texts = df.select(F.col(id_col), F.col(text_col))
    joined = (
        pairs.join(texts.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "text_a"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "text_b"), "id_b")
    )

    @pandas_udf("double")
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        # A doc participates in many candidate pairs: memoize its shingle
        # set per batch so each text is hashed once, not once per pair.
        memo: dict[str, np.ndarray] = {}

        def shingles(t):
            key = t or ""
            s = memo.get(key)
            if s is None:
                s = memo[key] = _shingle_hashes(key.encode(), shingle_k)
            return s

        out = np.empty(len(ta))
        for i, (x, y) in enumerate(zip(ta, tb)):
            sa, sb = shingles(x), shingles(y)
            inter = len(np.intersect1d(sa, sb, assume_unique=True))
            union = len(sa) + len(sb) - inter
            out[i] = inter / union if union else 1.0
        return pd.Series(out)

    return (
        joined.withColumn("jaccard", jac(F.col("text_a"), F.col("text_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
_FNV_OFF = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_WS_BYTES = np.array([9, 10, 11, 12, 13, 32], dtype=np.uint8)  # ASCII whitespace


def _simhash_batch(datas: list[bytes], seed: int, max_token_bytes: int = 256) -> np.ndarray:
    """64-bit SimHash per doc, vectorized across the whole batch.

    Tokenizes the concatenated byte buffer (ASCII-whitespace split), hashes
    every token with FNV-1a via byte-position passes (<= max_token_bytes
    numpy sweeps; longer tokens are truncated — identical texts still hash
    identically), then per-doc bit-majority via weighted bincounts. No
    per-row or per-token Python anywhere."""
    nd = len(datas)
    lens = np.fromiter((len(d) for d in datas), dtype=np.int64, count=nd)
    # single space after each doc: tokens can never span doc boundaries
    buf = np.frombuffer(b" ".join(datas) + b" ", dtype=np.uint8) if nd else np.empty(0, np.uint8)
    doc_of_byte = np.repeat(np.arange(nd, dtype=np.int64), lens + 1)

    is_ws = np.isin(buf, _WS_BYTES)
    tok = ~is_ws
    starts = tok.copy()
    starts[1:] &= is_ws[:-1]
    tok_start = np.flatnonzero(starts)
    if len(tok_start) == 0:
        return np.zeros(nd, dtype=np.int64)
    ends = tok.copy()
    ends[:-1] &= is_ws[1:]
    tok_end = np.flatnonzero(ends) + 1
    tok_len = np.minimum(tok_end - tok_start, max_token_bytes)
    doc_of_tok = doc_of_byte[tok_start]

    seed_mix = np.uint64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    h = np.full(len(tok_start), _FNV_OFF ^ seed_mix, dtype=np.uint64)
    for j in range(int(tok_len.max())):
        live = tok_len > j
        h[live] = (h[live] ^ buf[tok_start[live] + j].astype(np.uint64)) * _FNV_PRIME

    n_toks = np.bincount(doc_of_tok, minlength=nd)
    fp = np.zeros(nd, dtype=np.uint64)
    for i in range(64):
        bit = ((h >> np.uint64(i)) & np.uint64(1)).astype(np.float64)
        cnt = np.bincount(doc_of_tok, weights=bit, minlength=nd)
        fp |= (cnt * 2 > n_toks).astype(np.uint64) << np.uint64(i)
    fp[n_toks == 0] = 0
    return fp.astype(np.int64)


def simhash_neardup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                          max_hamming: int = 3, seed: int = 2,
                          bucket_cap: int | None = 4096) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale.

    Pigeonhole: two 64-bit fingerprints within hamming distance <= 3 agree
    exactly on at least one of 4 disjoint 16-bit bands, so candidates come
    from 4 narrow (band, band_bits, id) self-joins — never an all-pairs
    scan — and the exact hamming check is JVM ``bit_count(a ^ b)``.
    Returns distinct (id_a, id_b, hamming) with id_a < id_b.

    ``bucket_cap`` drops (band, bits) buckets above the cap — the same
    boilerplate guard as the MinHash-LSH bucket ceiling (a pair in a
    dropped bucket still collides in its other 3 bands; content that
    overflows all 4 is exact-dup-grade and handled by ``exact_dedup``)."""
    sh = df.select(F.col(id_col), simhash_udf(seed)(F.col(text_col)).alias("sh"))
    return banded_hamming_pairs(sh, "sh", id_col=id_col,
                                max_hamming=max_hamming, n_bands=4,
                                bucket_cap=bucket_cap)


def banded_hamming_pairs(hashed: DataFrame, hash_col: str,
                         id_col: str = "doc_id", max_hamming: int = 3,
                         n_bands: int = 4,
                         bucket_cap: int | None = 4096) -> DataFrame:
    """Distinct (id_a, id_b, hamming) pairs of 64-bit fingerprints within
    ``max_hamming``, id_a < id_b — the banded self-join shared by SimHash
    text dedup and perceptual-hash image dedup.

    Pigeonhole: fingerprints within hamming distance d agree exactly on at
    least one of ``n_bands`` disjoint (64/n_bands)-bit bands whenever
    d < n_bands, so candidates come from ``n_bands`` narrow (band, bits,
    id) self-joins — never an all-pairs scan — and the exact hamming check
    is JVM ``bit_count(a ^ b)``. ``bucket_cap`` drops over-cap (band, bits)
    buckets (boilerplate guard; a pair in a dropped bucket still collides
    in its other bands)."""
    assert 64 % n_bands == 0, "band width must divide 64"
    assert max_hamming < n_bands, "pigeonhole needs max_hamming < n_bands"
    width = 64 // n_bands
    mask = (1 << width) - 1
    bands = hashed.select(
        id_col, hash_col,
        F.posexplode(F.array(*[
            F.shiftright(hash_col, width * i).bitwiseAND(F.lit(mask)).cast("long")
            for i in range(n_bands)
        ])).alias("band", "bits"),
    )
    if bucket_cap:
        over = (bands.groupBy("band", "bits").count()
                .where(F.col("count") > bucket_cap).select("band", "bits"))
        bands = bands.join(F.broadcast(over), ["band", "bits"], "left_anti")
    left, right = bands.alias("l"), bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bits") == F.col("r.bits"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col(f"l.{hash_col}")
                        .bitwiseXOR(F.col(f"r.{hash_col}"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def simhash_udf(seed: int = 2):
    """pandas_udf: text -> bigint 64-bit SimHash over whitespace tokens."""

    @pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        datas = [(t or "").encode("utf-8", "surrogatepass") for t in texts]
        return pd.Series(_simhash_batch(datas, seed))

    return sh


# ---------------------------------------------------------------------------
# Near-dup resolution: pairs -> connected components -> one survivor each
# ---------------------------------------------------------------------------
def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_rounds: int = 25) -> DataFrame:
    """(id, comp) for every id in ``pairs``; comp = min id in the component.

    Iterative min-label propagation + one pointer-jumping hop per round
    (label <- label(label)), so convergence is O(log diameter) rounds —
    near-dup clusters are small/clique-ish, typically 2-4 rounds. Every
    stage shuffles only narrow (long, long) rows; each round is
    ``localCheckpoint``-ed to truncate lineage (an iterative plan would
    otherwise grow exponentially). Driver work is one scalar convergence
    probe per round — no data is collected."""
    edges = pairs.select(F.col(id_a).cast("long").alias("src"),
                         F.col(id_b).cast("long").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().persist()
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("comp", F.col("id")).localCheckpoint())
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(labels.select(F.col("id").alias("dst"),
                                     F.col("comp").alias("nbr_comp")), "dst")
            .groupBy("src").agg(F.min("nbr_comp").alias("min_nbr"))
            .withColumnRenamed("src", "id")
        )
        stepped = (
            labels.join(nbr_min, "id", "left")
            .select("id", F.least(F.col("comp"),
                                  F.coalesce("min_nbr", "comp")).alias("comp"))
        )
        # pointer jumping: comp is always itself a node id, so shortcut
        # comp -> comp(comp) to halve remaining path lengths each round
        hop = stepped.select(F.col("id").alias("comp"), F.col("comp").alias("comp2"))
        new_labels = (
            stepped.join(hop, "comp", "left")
            .select("id", F.coalesce("comp2", "comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp")).limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # exhausted max_rounds with the probe still reporting changes:
        # labels are NOT converged (clusters split -> duplicates survive).
        # Surface it — a silent partial resolution under-deduplicates.
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_rounds} rounds; "
            "labels are partial (some near-dup clusters remain split). "
            "Raise max_rounds — O(log diameter) rounds suffice, so this "
            "indicates a pathological pair graph.",
            RuntimeWarning, stacklevel=2,
        )
    edges.unpersist()
    return labels


def neardup_dedup(df: DataFrame, pairs: DataFrame | None = None,
                  text_col: str = "text", id_col: str = "doc_id",
                  method: str = "minhash", threshold: float = 0.7,
                  n_hashes: int = 64, bands: int = 16,
                  max_hamming: int = 3) -> DataFrame:
    """Drop near-duplicates: keep exactly one (min-id) doc per near-dup
    cluster — the training-data pipeline's last mile (pairs alone don't
    dedup anything).

    pairs -> connected components -> every member whose id != the
    component's min id is dropped via a left-anti join (narrow keys only;
    text never shuffles). Pass precomputed ``pairs`` to resolve any pair
    source; otherwise they come from ``method``:
      * 'minhash': banded LSH candidates -> est_jaccard prefilter ->
        exact shingle-Jaccard >= threshold
      * 'simhash': banded SimHash, hamming <= max_hamming
    """
    persisted: list = []
    if pairs is None:
        if method == "minhash":
            cand = minhash_lsh_candidates(df, text_col, id_col, n_hashes=n_hashes,
                                          bands=bands, estimate=True,
                                          persisted_out=persisted)
            cand = cand.filter(F.col("est_jaccard") >= threshold - 0.2).select("id_a", "id_b")
            pairs = ngram_jaccard_verify(df, cand, text_col, id_col,
                                         threshold=threshold).select("id_a", "id_b")
        elif method == "simhash":
            pairs = simhash_neardup_pairs(df, text_col, id_col,
                                          max_hamming=max_hamming).select("id_a", "id_b")
        else:
            raise ValueError(f"method must be 'minhash' or 'simhash', got {method!r}")
    comp = connected_components(pairs)
    # CC ran eagerly (per-round convergence probes + localCheckpoints), so
    # the signature cache has served all its consumers — release it now
    # instead of pressuring executor storage until LRU eviction.
    for frame in persisted:
        frame.unpersist()
    losers = comp.where(F.col("id") != F.col("comp")).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------
def _winnow_select(h: np.ndarray, window: int) -> np.ndarray:
    """Distinct sliding-window minima of a k-gram hash sequence — the
    winnowing selection (Schleimer, Wilkerson & Aiken, SIGMOD 2003).

    Guarantee: any substring of at least window+k-1 bytes shared by two
    documents contributes at least one identical selected hash to both
    fingerprints, so winnowing detects *containment/overlap* (plagiarism-
    style) where MinHash estimates whole-document resemblance."""
    if len(h) == 0:
        return h
    if len(h) <= window:
        return np.unique(h.min(keepdims=True))
    sw = np.lib.stride_tricks.sliding_window_view(h, window)
    return np.unique(sw.min(axis=1))  # reduction over a view: no big temp


def winnow_fingerprint_udf(shingle_k: int = 5, window: int = 8):
    """pandas_udf: text -> array<long> winnowing fingerprint (selected
    k-gram rolling hashes). One shingle-hash pass per batch; per-doc work
    is a single vectorized window-min reduction."""

    @pandas_udf("array<long>")
    def wf(texts: pd.Series) -> pd.Series:
        datas = [(t or "").encode("utf-8", "surrogatepass") for t in texts]
        if not datas:
            return pd.Series([], dtype=object)
        sh, bounds = _batch_shingle_hashes(datas, shingle_k)
        out = []
        for i in range(len(datas)):
            seg = sh[bounds[i]:bounds[i + 1]]
            out.append(_winnow_select(seg, window).view(np.int64))
        return pd.Series(out)

    return wf


def winnow_neardup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                         shingle_k: int = 5, window: int = 8,
                         min_shared: int = 2,
                         hash_doc_cap: int | None = 4096) -> DataFrame:
    """Overlap-based near-dup pairs: documents sharing >= ``min_shared``
    selected winnowing hashes. Returns (id_a, id_b, n_shared).

    Same scale shape as the LSH band join: fingerprints explode to narrow
    (hash, id) rows, the self-join is keyed on the hash, and text never
    shuffles. Exact duplicates share their entire fingerprint, so recall
    on true dups is structural; ``min_shared`` trades precision against
    shorter shared substrings.

    ``hash_doc_cap`` is the stop-hash guard (winnowing's stop-word
    analogue): a k-gram shared by m documents — boilerplate navigation,
    cookie banners — would emit m^2 join rows. Hashes appearing in more
    than the cap's worth of documents are removed from every fingerprint
    before the join; like stop-words, a hash that common carries no
    discriminating signal, and overlapping documents still share their
    rarer selected hashes. One narrow count + broadcast anti-join."""
    wf = winnow_fingerprint_udf(shingle_k, window)
    fps = df.select(F.col(id_col), F.explode(wf(F.col(text_col))).alias("h"))
    if hash_doc_cap:
        over = (fps.groupBy("h").count()
                .where(F.col("count") > hash_doc_cap).select("h"))
        fps = fps.join(F.broadcast(over), "h", "left_anti")
    left, right = fps.alias("l"), fps.alias("r")
    return (
        left.join(right, (F.col("l.h") == F.col("r.h"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def dedup_paragraphs(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", words_per_para: int = 15,
                     para_sep: str = "\n\n") -> DataFrame:
    """Paragraph-level exact dedup (the C4-style pass): segment every
    document into paragraphs, keep only the FIRST occurrence of each
    distinct paragraph corpus-wide (first = smallest ``(id, position)``),
    and reassemble documents from their surviving paragraphs.

    Corpora without real paragraph breaks (or pre-tokenized text) segment
    deterministically into ``words_per_para``-word windows; a corpus with
    blank-line paragraphs can pre-split upstream and set
    ``words_per_para`` large. Everything is Spark built-ins:

    - segmentation is a ``transform(sequence(...), slice(...))`` over the
      token array — no UDF, no shuffle;
    - first-occurrence resolution is ``groupBy(para).agg(min(struct(id,
      pos)))`` — a partially-aggregatable min, so a boilerplate paragraph
      duplicated 10^8 times combines map-side and never floods one
      reducer (the same skew argument as the batch dedup survivor);
    - the join back is one narrow hash join on the paragraph text, build
      side one row per distinct paragraph;
    - reassembly groups by document (state bounded by document size).

    Returns (id, n_paras, n_kept, text_dedup) with surviving paragraphs
    re-joined by ``para_sep`` in original order ('' when a document loses
    everything — never null, matching COALESCE(.., '') SQL semantics).
    """
    wpp = int(words_per_para)
    if wpp < 1:
        raise ValueError("words_per_para must be >= 1")
    toks = F.split(F.col(text_col), " ")
    n_paras = F.ceil(F.size(toks) / F.lit(wpp)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.array_join(F.slice(toks, i * wpp + 1, wpp), " "))
    exploded = df.select(
        F.col(id_col), F.posexplode(paras).alias("pos", "para"))
    firsts = exploded.groupBy("para").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("first"))
    flagged = exploded.join(firsts, "para").select(
        id_col, "pos", "para",
        ((F.col(f"first.{id_col}") == F.col(id_col))
         & (F.col("first.pos") == F.col("pos"))).alias("kept"))
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("pos", "para"))))
    return (
        flagged.groupBy(id_col)
        .agg(F.count("*").alias("n_paras"),
             F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
             F.array_join(F.transform(kept_sorted, lambda s: s["para"]),
                          para_sep).alias("text_dedup"))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.7,
                        gram_doc_cap: int = 4096) -> DataFrame:
    """EXACT word-n-gram Jaccard similarity self-join at ``threshold`` via
    prefix filtering (the PPJoin family, Chaudhuri et al. ICDE'06 /
    Xiao et al. WWW'08) — the deterministic sibling of MinHash-LSH: no
    probabilistic recall loss, every pair with J >= t is found.

    Candidate generation uses the classic prefix-filter guarantee: order
    every document's distinct grams by a GLOBAL rarest-first key
    (document frequency, gram); two sets with J(A,B) >= t must share at
    least one gram inside their first ``|X| - ceil(t*|X|) + 1`` grams, so
    the self-join runs only over those prefixes. Rare grams lead the
    prefixes, which keeps join buckets small by construction; the shuffle
    carries (gram, id) pairs, never text.

    Everything is Spark built-ins: gram sets via
    ``transform(sequence)/slice/array_distinct`` (docs shorter than ``n``
    words become one whole-text gram), document frequencies via one
    aggregation, per-document rarest-first prefixes via
    ``array_sort(collect_list(struct))`` + ``slice`` (per-doc state is the
    doc's own gram list), verification via ``array_intersect`` on the
    candidate pairs only. At 100 TB every stage is a narrow hash shuffle;
    the one skew risk — a gram rare enough to lead prefixes yet shared by
    millions of docs — is closed by ``gram_doc_cap``: grams above the cap
    are excluded from ALL prefixes (symmetric, like winnowing
    stop-hashes), trading away only pairs whose every shared prefix gram
    is boilerplate (exact-dup-grade content handled upstream).

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = F.split(F.col(text_col), " ")
    grams_expr = F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    ).otherwise(F.array(F.array_join(toks, " ")))
    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(grams_expr).alias("grams")
    ).withColumn("sz", F.size("grams"))

    exploded = base.select("_id", "sz", F.explode("grams").alias("gram"))
    freq = exploded.groupBy("gram").agg(F.count("*").alias("df_cnt"))
    # prefix length: |X| - ceil(t|X|) + 1; the epsilon keeps a float
    # ceil from rounding UP past the exact integer (a too-short prefix
    # loses pairs; a too-long one only adds candidates)
    plen = (F.col("sz")
            - F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9))
            + 1).cast("int")
    ranked = (
        exploded.join(freq, "gram")
        .filter(F.col("df_cnt") <= gram_doc_cap)  # symmetric stop-grams
        .groupBy("_id", "sz")
        .agg(F.array_sort(
            F.collect_list(F.struct("df_cnt", "gram"))).alias("ranked"))
        .select("_id",
                F.explode(F.slice(
                    F.transform(F.col("ranked"), lambda s: s["gram"]),
                    F.lit(1), plen)).alias("gram"))
    )
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"),
              (F.col("a.gram") == F.col("b.gram"))
              & (F.col("a._id") < F.col("b._id")))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    ga = base.select(F.col("_id").alias("id_a"), F.col("grams").alias("ga"),
                     F.col("sz").alias("sa"))
    gb = base.select(F.col("_id").alias("id_b"), F.col("grams").alias("gb"),
                     F.col("sz").alias("sb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    return (
        cand.join(ga, "id_a").join(gb, "id_b")
        .withColumn("jaccard",
                    inter / (F.col("sa") + F.col("sb") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
