"""Property-based tests (hypothesis): codec round-trips, hash twin,
caption cleaning idempotence — no Spark session needed."""

from __future__ import annotations

import hashlib
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


def _psnr_reference(a, b):
    """The float64-mean PSNR; the integer one must equal it exactly."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0**2 / mse)


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
    assert psnr(img, out) == _psnr_reference(img, out)
    assert psnr(img, img) == _psnr_reference(img, img) == float("inf")
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


ADVERSARIAL = {
    "checker64": _checkerboard(64),  # the largest AC coefficients (escapes)
    "const0": np.zeros((24, 40), np.uint8),
    "const255": np.full((24, 40), 255, np.uint8),
    "1x1": np.full((1, 1), 77, np.uint8),
    "7x9": np.arange(63, dtype=np.uint8).reshape(7, 9),
    "17x8": np.arange(136, dtype=np.uint8).reshape(17, 8),
}


@pytest.mark.parametrize("img", ADVERSARIAL.values(), ids=ADVERSARIAL.keys())
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
    # the widest differences the uint8 range allows
    assert psnr(img, 255 - img) == _psnr_reference(img, 255 - img)


def test_dctq_old_layout_payload_is_rejected():
    """Payloads of earlier dctq layouts (DCTQ: block-major zlib'd int16;
    DCZ1: zstd'd low-byte and high-byte planes) are refused instead of
    decoded into a garbled image."""
    for magic in (b"DCTQ", b"DCZ1"):
        old = magic + struct.pack("<HH", 8, 8) + zlib.compress(bytes(128), 1)
        with pytest.raises(ValueError, match="bad magic"):
            decode(old)


# the perfbench crawl_codec world (128–512 px, noise 2) and crawl_frontier
# world (16–32 px, the default noise 6) at seed 1
CODEC_WORLD = synth.WorldConfig(
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
FRONTIER_WORLD = synth.WorldConfig(
    seed=1,
    n_hosts=20,
    base_pages=1000,
    cards_min=12,
    round_seconds=600,
    img_lo=16,
    img_hi=32,
    imgs_per_detail_max=1,
    fmt_override="dctq",
)


def _payload_sample(world: synth.WorldConfig, n: int) -> list[np.ndarray]:
    """The first ``n`` detail-page images of host 0."""
    seeds, aid = [], 0
    while len(seeds) < n:
        res = synth.fetch(world, synth.ad_url(world, 0, aid), 0)
        if res.kind == "detail":
            seeds += [(res.payload_seed, idx) for idx in range(res.n_images)]
        aid += 1
    return [
        synth.gen_image(pseed, idx, world.img_lo, world.img_hi, world.img_noise)
        for pseed, idx in seeds[:n]
    ]


@pytest.mark.parametrize(
    "sample, width, digest",
    [
        (
            lambda: _payload_sample(CODEC_WORLD, 16),
            2,
            "a7d857e9138c68eb7edf1fd510e14924d6e6464f64360f0d371ae71a27873607",
        ),
        (
            lambda: _payload_sample(FRONTIER_WORLD, 64),
            4,
            "a4af55b9a0d3c8525da4c633cf6570a5f9de1a88313dce1f5b0e1ba743e76adb",
        ),
        (
            lambda: list(ADVERSARIAL.values()),
            None,
            "e9b0a82c5428878b1f7143b271a4ba0b46f3786d6b9419f396596ee9fbc06a3d",
        ),
    ],
    ids=["crawl_codec", "crawl_frontier", "adversarial"],
)
def test_dctq_decoded_pixels_are_pinned(sample, width, digest):
    """sha256 over every decoded image's (<HH h, w>, pixels): the digests
    were taken from the byte-plane (DCZ1) codec, so the entropy stage
    changes no decoded pixel. The symbol width in the header (byte 8) is
    2 on the smooth crawl_codec images and 4 on the noisy crawl_frontier
    ones."""
    h = hashlib.sha256()
    for img in sample():
        buf = encode(img, "dctq")
        assert buf[:4] == b"DCZ2"
        if width is not None:
            assert buf[8] == width
        out, _ = decode(buf)
        h.update(struct.pack("<HH", *out.shape))
        h.update(out.tobytes())
    assert h.hexdigest() == digest


def test_dctq_payload_size_on_crawl_codec_images():
    """Mean payload bytes/px over a fixed sample of the crawl_codec
    world's detail-page images: the packed-symbol layout reads ~0.178;
    the byte-plane layout read 0.249, block-major zlib'd int16 0.39."""
    nbytes = px = 0
    for img in _payload_sample(CODEC_WORLD, 16):
        nbytes += len(encode(img, "dctq"))
        px += img.size
    assert nbytes / px <= 0.19


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
