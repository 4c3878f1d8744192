"""Image-kernel probe: ``synth.gen_image`` and ``operators.images``
``encode``/``decode``/``phash64`` timed call by call in this process
(BLAS pinned to one thread by run.py) over a fixed sample of the
crawl_codec world's detail-page payloads."""

from __future__ import annotations

import statistics
import time

from housing_crawler_spark import synth
from housing_crawler_spark.operators.images import decode, encode, phash64

SAMPLE = 32  # images in the probe's sample
REPS = 3  # passes over the sample; each call's figure is the median


def payload_sample(world: synth.WorldConfig, n: int) -> list[tuple[int, int]]:
    """(payload_seed, image index) of the first ``n`` images on host 0."""
    out: list[tuple[int, int]] = []
    aid = 0
    while len(out) < n:
        res = synth.fetch(world, synth.ad_url(world, 0, aid), 0)
        if res.kind == "detail":
            out += [(res.payload_seed, idx) for idx in range(res.n_images)]
        aid += 1
    return out[:n]


def probe(world: synth.WorldConfig, spans) -> dict:
    fmt = world.fmt_override or "dctq"
    per: dict[str, list[float]] = {"gen": [], "encode": [], "decode": [], "phash": []}
    px = nbytes = 0

    def timed(name: str, fn, *args):
        with spans.span(f"kernel.{name}"):
            t0 = time.perf_counter()
            out = fn(*args)
            per[name].append(time.perf_counter() - t0)
        return out

    for _ in range(REPS):
        for seed, idx in payload_sample(world, SAMPLE):
            img = timed("gen", synth.gen_image, seed, idx, world.img_lo, world.img_hi, world.img_noise)
            buf = timed("encode", encode, img, fmt)
            timed("decode", decode, buf)
            timed("phash", phash64, img)
            px += img.size
            nbytes += len(buf)
    out = {f"images.{k}_us": statistics.median(v) * 1e6 for k, v in per.items()}
    out["images.bytes_per_px"] = nbytes / px
    return out
