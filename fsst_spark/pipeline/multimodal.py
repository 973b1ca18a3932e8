"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct.
The Spark-side plumbing (schemas, batch shapes, ``mapInPandas`` UDF
signatures, partitioning) is real and tested; the actual media decoding is
STUBBED — the image/audio libraries are not available in this container —
behind ``FakeMediaDecoder`` (deterministic, seeded by payload hash) and a
clearly marked ``NotImplementedError`` in ``RealMediaDecoder``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_META_DDL = "media_type string, width int, height int, n_bytes bigint"
FEATURE_DDL = (
    "doc_id bigint, media_type string, feat array<float>, feat_dim int, "
    "payload_bytes bigint"
)


try:  # media extra: present on a production cluster image, not here
    from PIL import Image as _PILImage
except ImportError:  # pragma: no cover - sandbox has no PIL
    _PILImage = None


def pil_available() -> bool:
    return _PILImage is not None


class RealMediaDecoder:
    """Production image decoder (PIL), import-guarded.

    Instantiable only when PIL is installed; ``default_decoder`` selects it
    automatically, else falls back to ``FakeMediaDecoder`` so the Spark
    plumbing stays exercised in environments without media libraries."""

    def __init__(self):
        if _PILImage is None:
            raise NotImplementedError(
                "media decode requires PIL; install the media extras on the "
                "cluster image (pip install pillow) or use FakeMediaDecoder"
            )

    def decode(self, payload: bytes) -> np.ndarray:
        import io

        img = _PILImage.open(io.BytesIO(payload))
        return np.asarray(img.convert("RGB"), dtype=np.uint8)


class FakeMediaDecoder:
    """Deterministic stand-in: 'decodes' payload bytes to a fake HxWx3 image
    whose pixels are a seeded function of the payload digest."""

    def __init__(self, h: int = 16, w: int = 16):
        self.h, self.w = h, w

    def decode(self, payload: bytes) -> np.ndarray:
        seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, (self.h, self.w, 3), dtype=np.uint8)


def default_decoder():
    """RealMediaDecoder when PIL is installed, else the deterministic fake —
    the Spark-side plumbing (schema, batch shape, partitioning) is identical
    either way."""
    return RealMediaDecoder() if pil_available() else FakeMediaDecoder()


def extract_features(df: DataFrame, payload_col: str = "html", id_col: str = "doc_id",
                     decoder=None, feat_dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction over binary media payloads.

    Batch shape: iterator of pandas frames; each batch decodes payloads and
    emits a fixed-dim float feature (here: per-channel mean/std pooling of
    the decoded array). Partitioning is whatever the caller set upstream —
    the op is embarrassingly parallel and preserves it.
    """
    dec = decoder or default_decoder()

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            feats, nbytes = [], []
            for payload in pdf[payload_col]:
                raw = bytes(payload)
                img = dec.decode(raw)
                f = np.concatenate([
                    img.mean(axis=(0, 1)), img.std(axis=(0, 1)),
                    [img.shape[0], img.shape[1]],
                ]).astype(np.float32)[:feat_dim]
                feats.append(f)
                nbytes.append(len(raw))
            yield pd.DataFrame({
                "doc_id": pdf[id_col].astype("int64"),
                "media_type": "image/fake",
                "feat": feats,
                "feat_dim": np.int32(feat_dim),
                "payload_bytes": pd.Series(nbytes, dtype="int64"),
            })

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_DDL)


def ahash_array(img: "np.ndarray", grid: int = 8) -> int:
    """64-bit average hash (aHash) of a decoded HxWx3 (or HxW) uint8 image.

    The classic perceptual hash: grayscale -> average-pool to ``grid`` x
    ``grid`` -> threshold each cell against the global mean -> one bit per
    cell. Near-identical images (resize/recompress/small edits) land
    within a few bits; unrelated images differ in ~32. Pure numpy, no
    media libs. Returned as a SIGNED int64 (Spark ``long``) so the band
    join can use JVM shift/xor/bit_count directly."""
    a = np.asarray(img, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    # average-pool with edge-truncated cells so any HxW >= grid works
    ys = np.linspace(0, h, grid + 1).astype(np.int64)
    xs = np.linspace(0, w, grid + 1).astype(np.int64)
    cells = np.empty((grid, grid), dtype=np.float64)
    for i in range(grid):
        for j in range(grid):
            cells[i, j] = a[ys[i]:max(ys[i + 1], ys[i] + 1),
                            xs[j]:max(xs[j + 1], xs[j] + 1)].mean()
    bits = (cells > cells.mean()).flatten()
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    return v - (1 << 64) if v >= (1 << 63) else v


def image_ahash(df: DataFrame, payload_col: str = "html",
                id_col: str = "doc_id", decoder=None) -> DataFrame:
    """(id, ahash) perceptual fingerprints over binary media payloads —
    mapInPandas decode + aHash; embarrassingly parallel, preserves the
    caller's partitioning."""
    dec = decoder or default_decoder()

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            hashes = [ahash_array(dec.decode(bytes(p)))
                      for p in pdf[payload_col]]
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "ahash": pd.Series(hashes, dtype="int64"),
            })

    return df.select(id_col, payload_col).mapInPandas(
        run, f"{id_col} bigint, ahash bigint")


def image_neardup_pairs(df: DataFrame, payload_col: str = "html",
                        id_col: str = "doc_id", max_hamming: int = 6,
                        decoder=None,
                        bucket_cap: int | None = 4096) -> DataFrame:
    """Near-duplicate IMAGE pairs: aHash fingerprints + the banded hamming
    self-join shared with SimHash text dedup (8 bands of 8 bits — the
    pigeonhole holds for max_hamming <= 7; over-cap buckets dropped, same
    boilerplate guard). Returns distinct (id_a, id_b, hamming), id_a <
    id_b; feed into ``dedup.connected_components`` / ``neardup_dedup`` for
    survivor resolution. With PIL installed the hash is a real perceptual
    hash; in this sandbox the deterministic fake decoder still makes
    byte-identical payloads collide at hamming 0 (plumbing + scale shape
    fully exercised)."""
    from .dedup import banded_hamming_pairs

    hashed = image_ahash(df, payload_col, id_col, decoder=decoder)
    return banded_hamming_pairs(hashed, "ahash", id_col=id_col,
                                max_hamming=max_hamming, n_bands=8,
                                bucket_cap=bucket_cap)


def resize_array(img: "np.ndarray", out_h: int, out_w: int) -> "np.ndarray":
    """Deterministic area-average resize of an HxWx3 (or HxW) uint8 image —
    pure numpy (edge-truncated cell pooling, the same scheme as
    ``ahash_array``), no media libs. Upscaling repeats source pixels
    (nearest); downscaling averages each destination cell."""
    a = np.asarray(img)
    squeeze = a.ndim == 2
    if squeeze:
        a = a[:, :, None]
    h, w, c = a.shape
    ys = np.linspace(0, h, out_h + 1).astype(np.int64)
    xs = np.linspace(0, w, out_w + 1).astype(np.int64)
    out = np.empty((out_h, out_w, c), dtype=np.uint8)
    for i in range(out_h):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(out_w):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = a[min(y0, h - 1):y1, min(x0, w - 1):x1].mean(axis=(0, 1))
    return out[:, :, 0] if squeeze else out


def image_resize(df: DataFrame, out_h: int, out_w: int,
                 payload_col: str = "html", id_col: str = "doc_id",
                 decoder=None) -> DataFrame:
    """mapInPandas decode -> resize; emits the resized pixels as raw RGB
    bytes plus dimensions (the shape a downstream embedding/thumbnail
    stage consumes). Embarrassingly parallel; partitioning preserved."""
    dec = decoder or default_decoder()

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            pixels = [resize_array(dec.decode(bytes(p)), out_h, out_w)
                      .tobytes() for p in pdf[payload_col]]
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "height": np.int32(out_h),
                "width": np.int32(out_w),
                "rgb": pixels,
            })

    return df.select(id_col, payload_col).mapInPandas(
        run, f"{id_col} bigint, height int, width int, rgb binary")


class FakeVideoDecoder:
    """Deterministic stand-in for a video decoder: 'decodes' payload bytes
    into ``n_frames`` fake HxWx3 frames, each seeded by (payload digest,
    frame index) — identical payloads yield identical frame stacks. The
    real arm (PyAV/ffmpeg) is a cluster-image extra, exactly like
    ``RealMediaDecoder``/PIL."""

    def __init__(self, n_frames: int = 24, h: int = 16, w: int = 16):
        self.n_frames, self.h, self.w = n_frames, h, w

    def decode_frames(self, payload: bytes) -> "np.ndarray":
        seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, (self.n_frames, self.h, self.w, 3), dtype=np.uint8)


def video_frame_sample(df: DataFrame, every_k: int = 8,
                       payload_col: str = "html", id_col: str = "doc_id",
                       decoder=None, feat_dim: int = 6) -> DataFrame:
    """Frame sampling over binary video payloads: decode -> take every
    k-th frame -> per-frame feature (channel mean/std pooling). One input
    row explodes to ceil(n_frames / k) output rows (doc_id, frame_idx,
    feat) — the batch shape a video-embedding stage consumes. Decoding is
    stubbed behind ``FakeVideoDecoder`` in this sandbox (no ffmpeg); the
    Spark plumbing (schema, explode shape, partitioning) is real and
    tested."""
    dec = decoder or FakeVideoDecoder()

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            ids, idxs, feats = [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                stack = dec.decode_frames(bytes(payload))
                for fi in range(0, len(stack), every_k):
                    f = stack[fi]
                    ids.append(int(did))
                    idxs.append(fi)
                    feats.append(np.concatenate(
                        [f.mean(axis=(0, 1)), f.std(axis=(0, 1))]
                    ).astype(np.float32)[:feat_dim])
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "feat": feats,
            })

    return df.select(id_col, payload_col).mapInPandas(
        run, f"{id_col} bigint, frame_idx int, feat array<float>")


class FakeAudioDecoder:
    """Deterministic stand-in for an audio decoder: 'decodes' payload
    bytes into ``n_samples`` int16 PCM samples seeded by the payload
    digest. The real arm (soundfile/ffmpeg) is a cluster-image extra,
    exactly like ``RealMediaDecoder``/PIL."""

    def __init__(self, n_samples: int = 4096, rate: int = 16000):
        self.n_samples, self.rate = n_samples, rate

    def decode_pcm(self, payload: bytes) -> "np.ndarray":
        seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "little")
        rng = np.random.default_rng(seed)
        return rng.integers(-32768, 32768, self.n_samples, dtype=np.int16)


def audio_features(df: DataFrame, payload_col: str = "html",
                   id_col: str = "doc_id", decoder=None,
                   n_bands: int = 4) -> DataFrame:
    """Per-clip audio features over binary payloads: decode to PCM ->
    duration, RMS level, zero-crossing rate, and ``n_bands`` coarse
    spectral-band energies (rFFT magnitude split into equal bands — the
    cheap spectral shape a quality/language-prefilter consumes). One
    mapInPandas pass, numpy only; the decode is environment-gated like
    every other media arm."""
    dec = decoder or FakeAudioDecoder()

    def run(frames: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in frames:
            ids, durs, rms, zcr, bands = [], [], [], [], []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                pcm = dec.decode_pcm(bytes(payload)).astype(np.float64) / 32768.0
                ids.append(int(did))
                durs.append(len(pcm) / float(getattr(dec, "rate", 16000)))
                rms.append(float(np.sqrt(np.mean(pcm * pcm))) if len(pcm) else 0.0)
                zcr.append(float(np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
                           if len(pcm) > 1 else 0.0)
                mag = np.abs(np.fft.rfft(pcm))
                splits = np.array_split(mag, n_bands)
                bands.append(np.array([float(np.sqrt(np.mean(s * s)))
                                       for s in splits], dtype=np.float32))
            yield pd.DataFrame({
                id_col: pd.Series(ids, dtype="int64"),
                "duration_sec": pd.Series(durs, dtype="float64"),
                "rms": pd.Series(rms, dtype="float64"),
                "zero_crossing_rate": pd.Series(zcr, dtype="float64"),
                "band_energy": bands,
            })

    return df.select(id_col, payload_col).mapInPandas(
        run, f"{id_col} bigint, duration_sec double, rms double, "
             "zero_crossing_rate double, band_energy array<float>")
