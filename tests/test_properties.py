"""Property-based tests (hypothesis): codec round-trips, hash twin,
caption cleaning idempotence — no Spark session needed."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from housing_crawler_spark import synth
from housing_crawler_spark.functions.hashing import xxhash64
from housing_crawler_spark.operators.images import (
    _D8F,
    _D32,
    _block_dct,
    decode,
    encode,
    phash64,
    psnr,
    resize_area,
)


def _resize_area_integral(img, out_h, out_w):
    """Pre-r07 reference: full-image float64 integral (cumsum) block
    means — the fast reduceat path must stay bit-identical to this."""
    h, w = img.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    ii = np.cumsum(np.cumsum(img.astype(np.float64), 0), 1)
    ii = np.pad(ii, ((1, 0), (1, 0)))
    sums = (
        ii[ys[1:], :][:, xs[1:]]
        - ii[ys[:-1], :][:, xs[1:]]
        - ii[ys[1:], :][:, xs[:-1]]
        + ii[ys[:-1], :][:, xs[:-1]]
    )
    areas = np.outer(ys[1:] - ys[:-1], xs[1:] - xs[:-1]).astype(np.float64)
    areas[areas == 0] = 1.0
    return sums / areas


def _phash64_reference(img):
    """Pre-r07 reference phash: integral-image resize + shift-fold bit
    packing. The packbits fast path must reproduce it exactly."""
    small = _resize_area_integral(img, 32, 32)
    coeffs = _D32 @ small @ _D32.T
    vals = coeffs[:8, :8].flatten()[1:]
    med = np.median(vals)
    bits = np.zeros(64, dtype=np.uint64)
    bits[1:] = (vals > med).astype(np.uint64)
    word = np.uint64(0)
    for b in bits:
        word = (word << np.uint64(1)) | b
    return int(word.astype(np.int64))


@given(st.integers(0, 2**60), st.integers(8, 200), st.integers(8, 200))
@settings(max_examples=80, deadline=None)
def test_images_phash_fast_path(pseed, hgt, wid):
    """r07 fast paths (reduceat block sums, packbits word) must be
    bit-identical to the original integral-image/shift-fold versions —
    including sub-32px inputs where zero-area blocks yield 0-rows."""
    img = synth.gen_image(pseed, 0, lo=min(hgt, wid), hi=max(hgt, wid))
    assert np.array_equal(
        resize_area(img, 32, 32), _resize_area_integral(img, 32, 32)
    )
    assert phash64(img) == _phash64_reference(img)


@given(st.integers(0, 2**60), st.integers(0, 2))
@settings(max_examples=60, deadline=None)
def test_codec_roundtrip_properties(pseed, idx):
    img = synth.gen_image(pseed, idx, 16, 96)
    for fmt in ("raw", "pngz"):
        out, f2 = decode(encode(img, fmt))
        assert f2 == fmt and np.array_equal(out, img)
    out, _ = decode(encode(img, "dctq"))
    assert out.shape == img.shape
    assert psnr(img, out) >= 40.0
    # decode is deterministic → phash of decode is stable
    assert phash64(out) == phash64(decode(encode(img, "dctq"))[0])


@given(
    st.integers(0, 2**32 - 1),
    st.integers(1, 6),
    st.sampled_from([8, 64, 4096, 4104, 8200]),
)
@settings(max_examples=20, deadline=None)
def test_block_dct_matches_per_block_product(seed, bh, ww):
    """The separable per-block-row transform (in strips of at most 4096
    columns) equals the per-block ``D @ B @ D.T`` reference it replaced,
    forward and inverse, to float32 rounding (|x| <= 128 ⇒ |coeff| <= 1024)."""
    hh = 8 * bh
    x = np.random.default_rng(seed).uniform(-128, 128, (hh, ww)).astype(np.float32)
    for d in (_D8F, _D8F.T):
        blocks = x.reshape(bh, 8, ww // 8, 8).transpose(0, 2, 1, 3)
        ref = (d @ blocks @ d.T).transpose(0, 2, 1, 3).reshape(hh, ww)
        np.testing.assert_allclose(_block_dct(x, d), ref, rtol=0, atol=1e-3)


def _checkerboard(n: int) -> np.ndarray:
    return (np.indices((n, n)).sum(0) % 2 * 255).astype(np.uint8)


@pytest.mark.parametrize(
    "img",
    [
        _checkerboard(64),  # the largest AC coefficients (high-byte plane)
        np.zeros((24, 40), np.uint8),
        np.full((24, 40), 255, np.uint8),
        np.full((1, 1), 77, np.uint8),
        np.arange(63, dtype=np.uint8).reshape(7, 9),
        np.arange(136, dtype=np.uint8).reshape(17, 8),
    ],
    ids=["checker64", "const0", "const255", "1x1", "7x9", "17x8"],
)
def test_dctq_adversarial_inputs(img):
    out, fmt = decode(encode(img, "dctq"))
    assert fmt == "dctq" and out.shape == img.shape
    assert psnr(img, out) >= 40.0


@given(st.integers(0, 2**32 - 1), st.integers(1, 80), st.integers(1, 80))
@settings(max_examples=40, deadline=None)
def test_dctq_uniform_noise_roundtrip(seed, hgt, wid):
    """Uniform noise: no energy compaction, every coefficient busy."""
    img = np.random.default_rng(seed).integers(0, 256, (hgt, wid), dtype=np.uint8)
    out, _ = decode(encode(img, "dctq"))
    assert out.shape == img.shape
    assert psnr(img, out) >= 40.0


def test_dctq_old_layout_payload_is_rejected():
    """A block-major zlib'd int16 payload (magic DCTQ) is another layout:
    decode refuses it instead of returning a garbled image."""
    old = b"DCTQ" + struct.pack("<HH", 8, 8) + zlib.compress(bytes(128), 1)
    with pytest.raises(ValueError, match="bad magic"):
        decode(old)


def test_dctq_payload_size_on_crawl_codec_images():
    """Mean payload bytes/px over a fixed sample of the crawl_codec
    world's detail-page images (128–512 px, noise 2): the plane-major
    zstd layout reads ~0.25; block-major zlib'd int16 read 0.39."""
    world = synth.WorldConfig(
        seed=1,
        n_hosts=7,
        base_pages=98,
        cards_min=32,
        cards_var=1,
        round_seconds=300,
        img_lo=128,
        img_hi=512,
        imgs_per_detail_max=2,
        fmt_override="dctq",
        img_noise=2.0,
    )
    sample, aid = [], 0
    while len(sample) < 16:
        res = synth.fetch(world, synth.ad_url(world, 0, aid), 0)
        if res.kind == "detail":
            sample += [(res.payload_seed, idx) for idx in range(res.n_images)]
        aid += 1
    nbytes = px = 0
    for pseed, idx in sample[:16]:
        img = synth.gen_image(pseed, idx, world.img_lo, world.img_hi, world.img_noise)
        nbytes += len(encode(img, "dctq"))
        px += img.size
    assert nbytes / px <= 0.30


@given(st.binary(min_size=0, max_size=200))
@settings(max_examples=300, deadline=None)
def test_xxhash64_is_stable_and_signed(data):
    v = xxhash64(data)
    assert -(2**63) <= v < 2**63
    assert v == xxhash64(data)


@given(st.text(min_size=0, max_size=120))
@settings(max_examples=300, deadline=None)
def test_caption_clean_idempotent(s):
    c1 = synth.clean_caption_py(s)
    assert synth.clean_caption_py(c1) == c1
    assert '"' not in c1 and "\n" not in c1 and "\t" not in c1 and ";" not in c1
    assert "  " not in c1


@given(st.integers(0, 10**6), st.integers(0, 10**6))
@settings(max_examples=100, deadline=None)
def test_fetch_is_pure(a, b):
    cfg = synth.WorldConfig(n_hosts=5, base_pages=4)
    url = f"https://host-000{a % 5}.example/ad/{b % 50}"
    r1 = synth.fetch(cfg, url, 0)
    r2 = synth.fetch(cfg, url, 0)
    assert r1 == r2
