"""Image codec + perceptual-hash layer (pure numpy — no Pillow in sandbox).

The reference links listing photos but never downloads them
(crawl_wggesucht.py:288-292 keeps only title/url); the image payload axis
of this engine fills that gap per BASELINE.json input_hint:
``(image_id, bytes:binary, w, h, fmt, caption, phash:int64)``.

Three codecs over single-channel uint8 images:

- ``raw``  — header + verbatim pixels (lossless, bit-exact)
- ``pngz`` — header + zlib-deflated pixels (lossless, bit-exact)
- ``dctq`` — 8x8 block DCT-II, uniform quantization (step=5), zlib'd
  int16 coefficients (lossy; step 5 ⇒ pixel MSE ≈ 25/12 ⇒ PSNR ≈ 45 dB,
  comfortably above the 40 dB per-row invariant)

``phash64`` is a fixed 32x32 block-mean resize → 2D DCT-II → top-left
8x8 (minus DC) sign-vs-median hash, returned as signed int64 so it round
trips through a Spark LongType column.

These functions are called ONLY inside Arrow-batched ``mapInPandas``
stages (see crawl.py) and by the single-process simulator oracle — never
per-row from the driver.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_MAGIC = {b"RAW1": "raw", b"PNGZ": "pngz", b"DCTQ": "dctq"}
DCTQ_STEP = 5.0

FORMATS = ("raw", "pngz", "dctq")
LOSSLESS = {"raw", "pngz"}


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (n x n)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0, :] = np.sqrt(1.0 / n)
    return m


_D8 = _dct_matrix(8)
_D32 = _dct_matrix(32)
# float32 twins for the codec hot path: the dctq pipeline is memory-
# bandwidth-bound at high thread counts (BENCH/BASELINE.md) and halving
# every intermediate array halves that traffic; quantization error
# (step=5) dwarfs fp32 rounding so the PSNR>=40 invariant is untouched.
# The simulator oracle shares these exact functions, so engine<->oracle
# byte parity is preserved by construction. phash keeps float64 (its
# integral image overflows fp32's 24-bit mantissa on large images).
_D8F = _D8.astype(np.float32)


# ---------------------------------------------------------------------------
# Encode / decode
# ---------------------------------------------------------------------------


def encode(img: np.ndarray, fmt: str) -> bytes:
    assert img.dtype == np.uint8 and img.ndim == 2
    h, w = img.shape
    head = struct.pack("<HH", w, h)
    if fmt == "raw":
        return b"RAW1" + head + img.tobytes()
    if fmt == "pngz":
        return b"PNGZ" + head + zlib.compress(img.tobytes(), 1)
    if fmt == "dctq":
        ph = (-h) % 8
        pw = (-w) % 8
        # r07 copy-trim: the codec is memory-bandwidth-bound, so every
        # avoided full-image pass counts — skip the no-op pad (the
        # common 8-aligned case), fold /step and rint in place on the
        # owned coeffs array (rint == round elementwise), and hand the
        # int16 array's buffer to zlib directly instead of tobytes().
        shifted = img.astype(np.float32)
        shifted -= np.float32(128.0)
        padded = (
            np.pad(shifted, ((0, ph), (0, pw)), mode="edge")
            if (ph or pw)
            else shifted
        )
        hh, ww = padded.shape
        blocks = np.ascontiguousarray(
            padded.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)
        )
        # batched matmul (BLAS) beats einsum's generic contraction ~10x
        coeffs = _D8F @ blocks @ _D8F.T
        coeffs /= np.float32(DCTQ_STEP)
        np.rint(coeffs, out=coeffs)
        q = coeffs.astype(np.int16)
        return b"DCTQ" + head + zlib.compress(q, 1)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(buf: bytes) -> tuple[np.ndarray, str]:
    magic, fmt = buf[:4], _MAGIC.get(bytes(buf[:4]))
    if fmt is None:
        raise ValueError(f"bad magic {magic!r}")
    w, h = struct.unpack("<HH", buf[4:8])
    body = bytes(buf[8:])
    if fmt == "raw":
        return np.frombuffer(body, np.uint8).reshape(h, w), fmt
    if fmt == "pngz":
        return np.frombuffer(zlib.decompress(body), np.uint8).reshape(h, w), fmt
    hh, ww = h + ((-h) % 8), w + ((-w) % 8)
    q = (
        np.frombuffer(zlib.decompress(body), np.int16)
        .reshape(hh // 8, ww // 8, 8, 8)
        .astype(np.float32)
    )
    q *= np.float32(DCTQ_STEP)  # in place on the owned copy (r07)
    blocks = _D8F.T @ q @ _D8F
    img = blocks.transpose(0, 2, 1, 3).reshape(hh, ww)[:h, :w] + np.float32(128.0)
    # rint/clip in place on the owned sum array (rint == round
    # elementwise; two full-image allocations saved per decode)
    np.rint(img, out=img)
    np.clip(img, 0, 255, out=img)
    return img.astype(np.uint8), fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# ---------------------------------------------------------------------------
# Perceptual hash
# ---------------------------------------------------------------------------


def resize_area(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic block-mean (area-interpolation) downscale to
    (out_h, out_w), float64 output. Output dims must not exceed the
    input's — upscale blocks would have zero area (the degenerate-block
    mask below keeps the 32x32 phash path byte-compatible with sub-32px
    inputs, where it intentionally yields 0-rows exactly as it always
    has).

    r07: block sums via two ``np.add.reduceat`` passes instead of a
    full-image float64 integral (cumsum) — the integral materialized
    two image-sized float64 arrays per call, which dominated phash64 in
    the bandwidth-bound crawl image stage (measured 3.3x on the codec
    mix). Both paths compute exact integer block sums (uint8 sums are
    < 2^53), so the float64 means are bit-identical; reduceat returns
    a single element (not 0) for an empty range, hence the explicit
    zero-area mask. Pinned by test_images_phash_fast_path."""
    h, w = img.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    s0 = np.add.reduceat(img, ys[:-1], axis=0, dtype=np.int64)
    sums = np.add.reduceat(s0, xs[:-1], axis=1).astype(np.float64)
    hmask = (ys[1:] > ys[:-1])
    wmask = (xs[1:] > xs[:-1])
    if not (hmask.all() and wmask.all()):
        sums *= hmask[:, None]
        sums *= wmask[None, :]
    areas = np.outer(ys[1:] - ys[:-1], xs[1:] - xs[:-1]).astype(np.float64)
    areas[areas == 0] = 1.0
    return sums / areas


def _resize32(img: np.ndarray) -> np.ndarray:
    """Deterministic 32x32 block-mean resize (area interpolation)."""
    return resize_area(img, 32, 32)


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash as SIGNED int64 (Spark LongType friendly)."""
    small = _resize32(img)
    coeffs = _D32 @ small @ _D32.T
    block = coeffs[:8, :8].flatten()
    vals = block[1:]  # drop DC
    med = np.median(vals)
    # bit 0 (DC slot) stays 0, bits 1..63 = sign-vs-median; packbits
    # emits bits[0] as the MSB, matching the old shift-left fold loop
    # bit for bit (r07: the 64-step Python loop was per-image overhead)
    bits = np.zeros(64, dtype=np.uint8)
    bits[1:] = vals > med
    word = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return word - (1 << 64) if word >= (1 << 63) else word
