"""Image codec + perceptual-hash layer (pure numpy — no Pillow in sandbox).

The reference links listing photos but never downloads them
(crawl_wggesucht.py:288-292 keeps only title/url); the image payload axis
of this engine fills that gap per BASELINE.json input_hint:
``(image_id, bytes:binary, w, h, fmt, caption, phash:int64)``.

Three codecs over single-channel uint8 images:

- ``raw``  — header + verbatim pixels (lossless, bit-exact)
- ``pngz`` — header + zlib-deflated pixels (lossless, bit-exact)
- ``dctq`` — 8x8 block DCT-II (separable: two GEMMs per block row),
  uniform quantization (step=5), then the int16 coefficients laid out
  plane-major (all blocks' coefficient (k, l) together) and zigzag-
  mapped to unsigned z (lossy; step 5 ⇒ pixel MSE ≈ 25/12 ⇒ PSNR ≈
  45 dB, comfortably above the 40 dB per-row invariant). The entropy
  stage is JPEG's idea (ITU-T T.81) of coding the small values compactly
  and the rare large ones as escapes: every coefficient becomes the
  fixed-width symbol ``min(z, K)``, ``K = 2**bits - 1``, bit-packed 4
  (bits 2) or 2 (bits 4) to a byte, and every ``z >= K`` adds a uint16
  escape ``z - K`` after the packed symbols; the body is one zstd-1
  frame. ``bits`` is chosen per payload, whichever of packed bytes + 2 B
  per escape is smaller: 2 on smooth images (74% of the crawl_codec
  coefficients are 0 and 22% ±1), 4 on noisy ones (crawl_frontier's).
  Payload: ``b"DCZ2" <HH w, h> <B bits> <I body length> zstd(body)``.
  ~0.178 B/px on the crawl_codec payloads, against 0.249 for the zstd'd
  low-byte + high-byte planes of z that it replaced.

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
import pyarrow as pa

# the dctq magic names its layout: a payload of another layout (byte
# planes, magic b"DCZ1"; block-major zlib'd int16, magic b"DCTQ") fails
# as "bad magic", never as a garbled image
_MAGIC = {b"RAW1": "raw", b"PNGZ": "pngz", b"DCZ2": "dctq"}
DCTQ_STEP = 5.0
_ZSTD = pa.Codec("zstd", compression_level=1)


def _unpack_table(bits: int) -> np.ndarray:
    """(256, 8 // bits) int8: the un-zigzagged symbols packed in each byte,
    lowest bits first."""
    z = (np.arange(256)[:, None] >> np.arange(0, 8, bits)) & ((1 << bits) - 1)
    return ((z >> 1) ^ -(z & 1)).astype(np.int8)


_UNPACK = {bits: _unpack_table(bits) for bits in (2, 4)}

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
# columns per GEMM call of the block transform: 8·8·4096 multiply-adds is
# OpenBLAS's single-thread limit, and a threaded GEMM splits its rows
# differently per thread count, which moves float32 roundings — so
# below it the payload bytes do not depend on the host's BLAS threads
# (the engine's pinned workers and an unpinned simulator must agree)
_STRIP = 4096


def _block_dct(x: np.ndarray, d: np.ndarray) -> np.ndarray:
    """``d @ B @ d.T`` for every 8x8 block B of ``x`` (both dims multiples
    of 8), as the (hh, ww) array of blocks in place: the forward DCT with
    ``_D8F``, the inverse with ``_D8F.T``. Separable, per block row: one
    GEMM transforms the block row's 8 rows, one transforms each 8-column
    segment of the result — the same sums in the same order as the per-
    block product, in two calls per block row instead of two per block."""
    hh, ww = x.shape
    strips = []
    for c0 in range(0, ww, _STRIP):
        s = x[:, c0 : c0 + _STRIP]
        w = s.shape[1]
        rows = d @ s.reshape(hh // 8, 8, w)
        strips.append((rows.reshape(hh // 8, w, 8) @ d.T).reshape(hh, w))
    return strips[0] if len(strips) == 1 else np.hstack(strips)


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
        # the codec is memory-bandwidth-bound, so every avoided full-image
        # pass counts: skip the no-op pad (the common 8-aligned case) and
        # keep every step after the transform in place on owned arrays
        shifted = img.astype(np.float32)
        shifted -= np.float32(128.0)
        padded = (
            np.pad(shifted, ((0, ph), (0, pw)), mode="edge")
            if (ph or pw)
            else shifted
        )
        hh, ww = padded.shape
        coeffs = _block_dct(padded, _D8F)  # coeffs[bi, k, bj, l] as (hh, ww)
        coeffs /= np.float32(DCTQ_STEP)
        np.rint(coeffs, out=coeffs)
        # plane-major q[k, l, bi, bj], zigzag (q<<1 ^ q>>15: small
        # magnitudes of either sign become small unsigned values)
        q = np.empty((8, 8, hh // 8, ww // 8), np.int16)
        q[...] = coeffs.reshape(hh // 8, 8, ww // 8, 8).transpose(1, 3, 0, 2)
        sign = q >> 15
        q <<= 1
        q ^= sign
        z = q.reshape(-1).view(np.uint16)
        n = z.size  # a multiple of 64, so symbols fill whole bytes
        # symbol width: whichever of packed bytes + 2 B per escape is smaller
        cost2 = n // 4 + 2 * np.count_nonzero(z >= 3)
        cost4 = n // 2 + 2 * np.count_nonzero(z >= 15)
        bits = 2 if cost2 <= cost4 else 4
        k = (1 << bits) - 1
        sym = np.empty(n, np.uint8)
        np.minimum(z, k, out=sym, casting="unsafe")
        # bit-pack through little-endian words: symbol j of a byte lands
        # at bits [bits·j, bits·j + bits), and the cast keeps the low byte
        if bits == 2:
            v = sym.view("<u4")
            v = v | v >> 6
            v |= v >> 12
        else:
            v = sym.view("<u2")
            v = v | v >> 4
        escapes = (z[sym == k] - k).astype("<u2")
        body = np.concatenate([v.astype(np.uint8), escapes.view(np.uint8)])
        head += struct.pack("<BI", bits, body.size)
        return b"DCZ2" + head + _ZSTD.compress(body, asbytes=True)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(buf: bytes) -> tuple[np.ndarray, str]:
    magic, fmt = buf[:4], _MAGIC.get(bytes(buf[:4]))
    if fmt is None:
        raise ValueError(f"bad magic {magic!r}")
    w, h = struct.unpack("<HH", buf[4:8])
    if fmt == "raw":
        return np.frombuffer(bytes(buf[8:]), np.uint8).reshape(h, w), fmt
    if fmt == "pngz":
        return np.frombuffer(zlib.decompress(buf[8:]), np.uint8).reshape(h, w), fmt
    bits, blen = struct.unpack("<BI", buf[8:13])
    if bits not in _UNPACK:
        raise ValueError(f"bad dctq symbol width {bits}")
    hh, ww = h + ((-h) % 8), w + ((-w) % 8)
    shape = (8, 8, hh // 8, ww // 8)  # plane-major q[k, l, bi, bj]
    n = hh * ww  # coefficients
    body = np.frombuffer(
        _ZSTD.decompress(pa.py_buffer(buf)[13:], decompressed_size=blen), np.uint8
    )
    # the table turns each packed byte into its symbols, already un-
    # zigzagged; symbol K reads as unzigzag(K), which no smaller symbol
    # yields, so those slots are exactly the escapes
    lut = _UNPACK[bits]
    q = np.take(lut, body[: n * bits // 8], axis=0).reshape(shape)
    at = np.flatnonzero(q == lut[-1, -1])
    esc = body[n * bits // 8 :].view("<u2")
    if esc.size != at.size:
        raise ValueError(f"dctq payload holds {esc.size} escapes for {at.size} slots")
    # back to block-major coeffs[bi, k, bj, l] while casting
    coeffs = np.empty((hh // 8, 8, ww // 8, 8), np.float32)
    coeffs[...] = q.transpose(2, 0, 3, 1)
    if at.size:
        z = esc.astype(np.int32) + (1 << bits) - 1
        kk, ll, bi, bj = np.unravel_index(at, shape)
        coeffs[bi, kk, bj, ll] = (z >> 1) ^ -(z & 1)
    coeffs *= np.float32(DCTQ_STEP)
    img = _block_dct(coeffs.reshape(hh, ww), _D8F.T)
    img += np.float32(128.0)
    # rint == round elementwise
    np.rint(img, out=img)
    np.clip(img, 0, 255, out=img)
    return img[:h, :w].astype(np.uint8), fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    # exact in integers: uint8 differences fit int16, their squares int32,
    # and the int64 sum is the same integer a float64 sum reaches below
    # 2^53, so the value is bit-identical to the float64 mean's
    d = np.subtract(a, b, dtype=np.int16)
    sse = np.square(d, dtype=np.int32).sum(dtype=np.int64)
    if sse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / (sse / d.size))


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
