"""Compaction-overhead A/B on the crawl engine (wall + bytes rewritten).

Round-4 measured +16.1% wall for 2 compaction rounds with the
monolithic known_base (full O(|known|) rewrite each cycle). Round 5
bucketed the known set (hash buckets + manifest carry-forward: clean
buckets keep naming their old snap dir, zero bytes rewritten), so the same
A/B should show the overhead dropping. This script re-runs that
experiment: identical world, compact_every=4 vs compaction effectively
off, and reports wall seconds plus the bytes actually written under
each store (the bucketed base's carry-forward means the compaction
runs write only buckets that gained rows).

Two honesty guards learned from the first run: a small WARMUP crawl
runs first (the opening leg otherwise eats the JVM/codegen warmup —
~40 s — and reads as compaction overhead), and the compaction-OFF leg
runs before the ON leg so page-cache writeback from the bigger run
can't slow the baseline. At this sandbox scale the wall overhead is
dominated by fixed per-job submission cost (each compaction adds a few
extra tiny Spark jobs), NOT data volume — the scale-relevant outputs
are bytes_ratio and the dirty-bucket trajectories.

Usage: python scripts/compact_ab.py [--rounds 8] [--hosts 40]
       [--pages 150] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def du_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirnames, filenames in os.walk(root):
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def run_world(spark, root: str, rounds: int, hosts: int, pages: int, compact_every: int) -> dict:
    from housing_crawler_spark import synth
    from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
    from housing_crawler_spark.storage.snapshots import SnapshotStore

    world = synth.WorldConfig(n_hosts=hosts, base_pages=pages)
    store = SnapshotStore(root)
    engine = CrawlEngine(
        spark, store, world, EngineConfig(compact_every=compact_every)
    )
    engine.init_state(synth.seed_frontier_rows(world), synth.robots_rows(world))
    os.sync()
    t0 = time.monotonic()
    metrics = engine.run(rounds)
    wall = time.monotonic() - t0
    return {
        "wall_sec": round(wall, 3),
        "bytes_written": du_bytes(root),
        "n_known_final": metrics[-1].get("n_known"),
        "compact_every": compact_every,
        "compaction_sec": round(
            sum(m.get("timings", {}).get("compaction", 0.0) for m in metrics), 3
        ),
        "dirty_buckets_per_compaction": [
            m["known_dirty_buckets"] for m in metrics if "known_dirty_buckets" in m
        ],
    }


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--rounds", type=int, default=8)
    p.add_argument("--hosts", type=int, default=40)
    p.add_argument("--pages", type=int, default=150)
    p.add_argument("--cpus", type=int, default=32)
    args = p.parse_args()

    from housing_crawler_spark.session import spark_session

    spark = spark_session("hcs-compact-ab", cores=args.cpus)
    # warmup: absorb JVM/codegen/page-cache cold start outside the timers
    wroot = tempfile.mkdtemp(prefix="hcs_ab_warm_")
    try:
        run_world(spark, wroot, 2, 8, 20, 10**9)
    finally:
        shutil.rmtree(wroot, ignore_errors=True)
    # two passes per leg, interleaved off/on/off/on; the SECOND pass of
    # each leg is the reported reading (both fully warm, both preceded
    # by a comparable page-cache history) — first-pass numbers are kept
    # for the spread
    out = {}
    for rep in (1, 2):
        for label, ce in (("compact_off", 10**9), ("compact_on", 4)):
            root = tempfile.mkdtemp(prefix=f"hcs_ab_{label}_")
            try:
                res = run_world(
                    spark, root, args.rounds, args.hosts, args.pages, ce
                )
            finally:
                shutil.rmtree(root, ignore_errors=True)
            if rep == 1:
                out[f"{label}_pass1_wall_sec"] = res["wall_sec"]
            else:
                out[label] = res
    on, off = out["compact_on"], out["compact_off"]
    out["overhead_pct"] = round(100.0 * (on["wall_sec"] / off["wall_sec"] - 1), 1)
    out["bytes_ratio"] = round(on["bytes_written"] / max(off["bytes_written"], 1), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
