"""Isolate the image codec from Spark: N worker processes, each
gen+encode+verify+phash over the same per-worker image count. If THIS
doesn't scale from 1 process to all usable cores, the residual is the
machine (shared memory bus), not the engine.

Run from anywhere: ``python scripts/codec_scale.py`` (``PER`` sets the
images per worker, default 400). The process counts are 1, a quarter of
the cores this process may run on and all of them
(``os.sched_getaffinity``), deduplicated."""
import os
import sys
import time
from multiprocessing import Pool

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def work(args):
    seed0, n = args
    from housing_crawler_spark import synth
    from housing_crawler_spark.operators.images import decode, encode, phash64, psnr

    acc = 0
    for i in range(n):
        img = synth.gen_image(seed0 + i, 0, 128, 512, 2.0)
        buf = encode(img, "dctq")
        out, _ = decode(buf)
        assert psnr(img, out) >= 40.0
        acc ^= phash64(img)
    return acc


def run(nproc: int, per: int) -> float:
    with Pool(nproc) as p:
        t0 = time.perf_counter()
        p.map(work, [(w * 1_000_000, per) for w in range(nproc)])
        el = time.perf_counter() - t0
    return nproc * per / el


if __name__ == "__main__":
    per = int(os.environ.get("PER", "400"))
    cores = len(os.sched_getaffinity(0))
    counts = sorted({1, max(1, cores // 4), cores})
    rate = {n: run(n, per) for n in counts}
    print(
        "imgs/s "
        + " ".join(f"{n}p={r:.1f}" for n, r in rate.items())
        + "  eff "
        + " ".join(
            f"{a}->{b}={(rate[b] / rate[a]) / (b / a):.3f}" for a, b in zip(counts, counts[1:])
        )
    )
