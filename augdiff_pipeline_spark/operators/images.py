"""Image payload kernels: codec stub, perceptual hash, PSNR, tile cut.

ENVIRONMENT STUB — clearly marked: this container has no image libraries
(no PIL/libjpeg), so the *codec* is a deterministic stand-in with the
same interface and information profile as PNG/JPEG:

- fmt="png"  → lossless: zlib over raw RGB bytes (bit-exact round trip)
- fmt="jpeg" → lossy:    6-bit/channel quantization + zlib (deterministic;
               PSNR ≈ 46 dB vs the source, comfortably over the ≥40 dB
               per-row invariant, and *stable* across platforms, unlike
               real libjpeg builds)

Everything AROUND the codec — schema, Arrow batch shape, partitioning,
the decode → feature → re-encode pipeline, PSNR verification, phash —
is real and tested; swapping in PIL later changes only `_encode/_decode`.

All kernels take/return numpy arrays and are called from `mapInPandas`
over Arrow batches (no per-row Python in the Spark plan; the per-row
zlib call is the codec stub itself, exactly what libjpeg would be).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = b"ADPS"
_LOSSY_BITS = 6  # keep 6 of 8 bits/channel -> ~46 dB PSNR


def encode(arr: np.ndarray, fmt: str) -> bytes:
    """arr: (h, w, 3) uint8 -> deterministic byte payload."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    if fmt == "png":
        payload = zlib.compress(arr.tobytes(), 6)
        flag = 0
    elif fmt == "jpeg":
        q = (arr >> (8 - _LOSSY_BITS)) << (8 - _LOSSY_BITS)
        # mid-rise reconstruction offset baked in at decode
        payload = zlib.compress(q.tobytes(), 6)
        flag = 1
    else:
        raise NotImplementedError(f"codec stub supports png|jpeg, got {fmt!r}")
    return _MAGIC + struct.pack("<BHH", flag, w, h) + payload


def encode_batch(stack: np.ndarray, fmt: str) -> list[bytes]:
    """Encode a (n, h, w, 3) uint8 stack: the transform stage (lossy
    quantization) runs vectorized over the whole stack; only the entropy
    stage (zlib, = what libjpeg's arithmetic coder would be) is per tile.
    ~2x fewer Python ops per tile than calling encode() in a loop."""
    n, h, w, c = stack.shape
    assert c == 3 and stack.dtype == np.uint8
    if fmt == "png":
        flag = 0
    elif fmt == "jpeg":
        stack = (stack >> (8 - _LOSSY_BITS)) << (8 - _LOSSY_BITS)
        flag = 1
    else:
        raise NotImplementedError(f"codec stub supports png|jpeg, got {fmt!r}")
    header = _MAGIC + struct.pack("<BHH", flag, w, h)
    flat = np.ascontiguousarray(stack).reshape(n, -1)
    comp = zlib.compress
    # zlib.compress takes any C-contiguous buffer: passing the row view
    # directly skips one full-stack .tobytes() copy per tile (output
    # bytes identical)
    return [header + comp(flat[i], 6) for i in range(n)]


def decode(data: bytes) -> np.ndarray:
    """byte payload -> (h, w, 3) uint8 decoded pixels."""
    if data[:4] != _MAGIC:
        raise NotImplementedError("real PNG/JPEG decode requires PIL (not in env)")
    flag, w, h = struct.unpack_from("<BHH", data, 4)
    raw = zlib.decompress(data[9:])
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    if flag == 1:
        # mid-rise: add half a quantization step back
        arr = np.minimum(arr.astype(np.int16) + (1 << (8 - _LOSSY_BITS - 1)), 255).astype(
            np.uint8
        )
    return arr


def lossy_roundtrip(arr: np.ndarray) -> np.ndarray:
    """decode(encode(arr, 'jpeg')) without the byte round trip — the stub
    codec's lossy path is exactly quantize + mid-rise offset, so the
    reconstruction is computable in one vectorized pass."""
    q = (arr >> (8 - _LOSSY_BITS)) << (8 - _LOSSY_BITS)
    return np.minimum(
        q.astype(np.int16) + (1 << (8 - _LOSSY_BITS - 1)), 255
    ).astype(np.uint8)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def _block_bins(size: int, out: int) -> tuple[np.ndarray, np.ndarray]:
    """(start, end) index bins for block-mean pooling ``size`` -> ``out``
    (end clamped to at least start+1 so upsampling never hits an empty
    block)."""
    edges = (np.arange(out + 1) * size) // out
    y0 = edges[:-1]
    y1 = np.maximum(edges[1:], y0 + 1)
    return y0, y1


def _block_means(stack: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """(n, h, w[, c]) float64 -> (n, out_h, out_w[, c]) block means via
    batched integral images — one cumsum pass + four fancy gathers, no
    per-pixel Python.  Used by both the batch kernels and the scalar
    wrappers (n=1), so scalar and batched results agree by
    construction."""
    squeeze_c = stack.ndim == 3
    if squeeze_c:
        stack = stack[..., None]
    n, h, w, c = stack.shape
    y0, y1 = _block_bins(h, out_h)
    x0, x1 = _block_bins(w, out_w)
    csum = np.zeros((n, h + 1, w + 1, c), dtype=np.float64)
    csum[:, 1:, 1:] = stack.cumsum(axis=1).cumsum(axis=2)
    blocks = (
        csum[:, y1][:, :, x1]
        - csum[:, y0][:, :, x1]
        - csum[:, y1][:, :, x0]
        + csum[:, y0][:, :, x0]
    )
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :]).astype(np.float64)
    blocks /= area[None, :, :, None]
    return blocks[..., 0] if squeeze_c else blocks


def phash64_batch(stack: np.ndarray) -> np.ndarray:
    """Batched 64-bit average perceptual hash over a (n, h, w, 3) uint8
    stack -> (n,) int64.  Same aHash scheme as ``phash64``: 8x8
    block-mean grayscale, threshold at the mean, row-major bit packing
    (first bit most significant)."""
    g = stack.astype(np.float64).mean(axis=3)
    blocks = _block_means(g, 8, 8)
    bits = blocks > blocks.mean(axis=(1, 2), keepdims=True)
    packed = np.packbits(bits.reshape(len(stack), 64), axis=1)
    return packed.view(">u8").astype(np.uint64).view(np.int64).ravel()


def phash64(arr: np.ndarray) -> int:
    """64-bit average perceptual hash: 8x8 block-mean grayscale,
    threshold at the mean, row-major bit packing (public aHash scheme).
    Delegates to the batched kernel (n=1) so scalar callers — the
    pinned-golden oracles recompute with THIS function — always agree
    bit-for-bit with the Spark batch path."""
    return int(phash64_batch(arr[None, ...])[0])


def cut_tile(arr: np.ndarray, tile_px: int, ix: int, iy: int) -> np.ndarray:
    """Deterministic tile crop (pads with zeros at the edge)."""
    h, w, _ = arr.shape
    out = np.zeros((tile_px, tile_px, 3), dtype=np.uint8)
    y0, x0 = iy * tile_px, ix * tile_px
    ys, xs = max(0, min(h - y0, tile_px)), max(0, min(w - x0, tile_px))
    if ys > 0 and xs > 0:
        out[:ys, :xs] = arr[y0 : y0 + ys, x0 : x0 + xs]
    return out
