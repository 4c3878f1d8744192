"""The crawl workloads: one closed-loop client driving
``CrawlEngine.run_round``, one round after the other.

A run sets the crawl up ``SETUPS`` times (fresh store + ``init_state``;
the median is ``setup_s``), keeps the last store, and runs rounds on it.
Correctness is a digest of every round the run executed, read from the
store's files and compared with the simulator digest pinned for the
seed, or with a fresh ``simulator.simulate`` run on the same world.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import time
import traceback

import pyarrow.parquet as pq

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.functions.urls import canonicalize_url_py
from housing_crawler_spark.operators.frontier import select_round, with_budgets
from housing_crawler_spark.simulator import simulate
from housing_crawler_spark.storage.snapshots import SnapshotStore
from tracing import tree_cpu_s

STORE_TABLES = ("images", "known", "frontier_base", "fetch_log", "bloom")
PHASES = {
    "plan_build": "crawl.plan_build_s",
    "fetch_and_links_exec": "crawl.fetch_links_s",
    "delta_writes": "crawl.delta_writes_s",
    "compaction": "crawl.compaction_s",
}
# set-ups per run (setup_s is their median) and repetitions per traced probe
SETUPS = 3
PROBE_REPS = 3


def world_of(wl: dict, seed: int) -> synth.WorldConfig:
    return synth.WorldConfig(seed=seed, **wl["world"])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn) -> float:
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def planned_rounds(wl: dict) -> int:
    """Round 1 (seed ingestion, only listing pages; untimed) plus the
    workload's timed rounds."""
    return 1 + wl["timed_rounds"]


def run_crawl(spark, wl: dict, seed: int, root: str, spans) -> dict:
    """Set up ``SETUPS`` times, run round 1 untimed, then time
    ``wl["timed_rounds"]`` rounds. The work is fixed per workload, so a
    faster engine does the same rounds sooner."""
    world = world_of(wl, seed)
    ecfg = EngineConfig(**wl["engine"])
    setups = []  # (wall s, process-tree CPU s) per set-up
    eng = None
    for k in range(SETUPS):
        if eng is not None:
            shutil.rmtree(eng.store.root)
        with spans.span("setup", k=k):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            eng = CrawlEngine(spark, SnapshotStore(os.path.join(root, f"store{k}")), world, ecfg)
            eng.init_state(synth.seed_frontier_rows(world), synth.robots_rows(world))
            setups.append((time.perf_counter() - t0, tree_cpu_s() - c0))

    planned = planned_rounds(wl)
    rounds: list[dict] = []
    error = None
    for r in range(1, planned + 1):
        if r == 2:
            # don't bill set-up/warm-up page-cache writeback to the timed rounds
            os.sync()
        with spans.span("round", round=r):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                m = eng.run_round(r)
            except Exception:  # a failed round ends the crawl
                error = f"round {r} failed:\n{traceback.format_exc()}"
                break
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
        rounds.append({"round": r, "s": dt, "cpu_s": cpu, "metrics": m})
    # a failed round fails itself and every round the run still owed
    failed = planned - len(rounds) if error else 0
    return {
        "engine": eng,
        "world": world,
        "setups": setups,
        "rounds": rounds,
        "timed": [x for x in rounds if x["round"] > 1],
        "planned": planned,
        "failed": failed,
        "error": error,
    }


def _delta_files(root: str, table: str, up_to: int) -> list[str]:
    out = []
    for d in sorted(glob.glob(os.path.join(root, table, "delta-*"))):
        if int(d.rsplit("-", 1)[1]) <= up_to:
            out.extend(sorted(glob.glob(os.path.join(d, "*.parquet"))))
    return out


def image_rows(root: str, rnd: int) -> int:
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(root, "images", f"delta-{rnd:06d}", "*.parquet"))
    )


def _hash_sorted(items) -> str:
    h = hashlib.sha256()
    for s in sorted(items):
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


def _digest(n_selected, n_known, fetched, images) -> dict:
    out = {
        "n_selected": list(n_selected),
        "n_images": len(images),
        "fetch_log": _hash_sorted(fetched),
        "images": _hash_sorted(images),
    }
    if n_known is not None:
        out["n_known"] = list(n_known)
    out["digest"] = hashlib.sha256(json.dumps(out, sort_keys=True).encode()).hexdigest()
    return out


def store_digest(root: str, n_rounds: int) -> dict:
    """Digest of rounds 1..n_rounds read straight from the store files:
    per-round n_selected/n_known, the image count, and order-insensitive
    hashes of the fetch_log rows and of image (image_id, phash)."""
    with open(os.path.join(root, "_commits.json")) as f:
        commits = {c["round"]: c["metrics"] for c in json.load(f)}
    rng = range(1, n_rounds + 1)
    fetched = []
    for path in _delta_files(root, "fetch_log", n_rounds):
        t = pq.read_table(path, columns=["round", "canonical_url", "kind"]).to_pydict()
        fetched += [
            f"{a}|{b}|{c}" for a, b, c in zip(t["round"], t["canonical_url"], t["kind"])
        ]
    images = []
    for path in _delta_files(root, "images", n_rounds):
        t = pq.read_table(path, columns=["image_id", "phash"]).to_pydict()
        images += [f"{a}|{b}" for a, b in zip(t["image_id"], t["phash"])]
    return _digest(
        [commits[r]["n_selected"] for r in rng],
        [commits[r]["n_known"] for r in rng],
        fetched,
        images,
    )


def simulator_digest(world: synth.WorldConfig, n_rounds: int) -> dict:
    """The same digest from ``simulator.simulate``. The simulator keeps no
    known-set count, so n_known is rebuilt from its fetch order: the
    admitted seeds plus the admitted out-links of every listing fetched."""
    sim = simulate(world, n_rounds)

    def admit(url: str) -> str | None:
        c = canonicalize_url_py(url)
        return None if synth.parse_canonical(c)[1].startswith(world.disallow_prefix) else c

    known = {admit(row["url"]) for row in synth.seed_frontier_rows(world)}
    per_round, n_known = [0] * n_rounds, []
    for r in range(1, n_rounds + 1):
        for rnd, _host, url, kind in sim.fetch_order:
            if rnd != r:
                continue
            per_round[r - 1] += 1
            if kind == "listing":
                # a listing that was fetched has its links on any attempt > 0
                known.update(admit(u) for u in synth.fetch(world, url, 1).out_links)
        n_known.append(len(known - {None}))
    return _digest(
        per_round,
        n_known,
        [f"{rnd}|{url}|{kind}" for rnd, _h, url, kind in sim.fetch_order],
        [f"{im['image_id']}|{im['phash']}" for im in sim.images],
    )


def check(res: dict, seed: int, pins: dict) -> list[str]:
    """Problems with the crawl's output; empty when it is correct. The
    digest of every planned round is compared with the pinned simulator
    digest for this seed, or with a fresh ``simulator.simulate`` run when
    none is pinned."""
    n = res["planned"]
    if len(res["rounds"]) < n:
        return [f"only {len(res['rounds'])} of {n} rounds ran"]
    got = store_digest(res["engine"].store.root, n)
    res["digest"] = got
    pinned = pins.get(str(seed))
    if pinned is not None:
        return [] if pinned == got["digest"] else [f"digest {got['digest']} != pinned {pinned}"]
    want = simulator_digest(res["world"], n)
    return [
        f"{k}: engine {got[k]} != simulator {want[k]}"
        for k in ("n_selected", "n_known", "n_images", "fetch_log", "images")
        if got[k] != want[k]
    ]


def store_bytes(root: str) -> dict:
    per = {t: 0 for t in STORE_TABLES}
    total, files = 0, 0
    for d, _sub, names in os.walk(root):
        rel = os.path.relpath(d, root).split(os.sep)[0]
        for n in names:
            size = os.path.getsize(os.path.join(d, n))
            total += size
            files += n.endswith(".parquet")
            if rel in per:
                per[rel] += size
    return {"total": total, "files": files, "tables": per}


def end_to_end(res: dict) -> dict:
    """Median set-up CPU seconds, CPU milliseconds per URL over the timed
    rounds, and store bytes per URL fetched. CPU is the whole process
    tree's (driver, JVM, Python workers); time the host steals from the VM
    is not charged to it, so these hold still when wall time does not."""
    rounds = res["timed"]
    urls = sum(x["metrics"]["n_selected"] for x in rounds)
    root = res["engine"].store.root
    return {
        "setup_s": statistics.median(cpu for _wall, cpu in res["setups"]),
        "cpu_ms_per_url": 1000 * sum(x["cpu_s"] for x in rounds) / urls,
        "store_bytes_per_url": store_bytes(root)["total"]
        / sum(x["metrics"]["n_selected"] for x in res["rounds"]),
    }


def wall_clock(res: dict) -> dict:
    """Wall-clock set-up time, throughput and round latency.
    Reported by the traced run only: on a VM whose CPU steal varies
    between runs they spread too widely to gate on."""
    rounds = res["timed"]
    secs = sum(x["s"] for x in rounds)
    root = res["engine"].store.root
    return {
        "setup.wall_s": statistics.median(wall for wall, _cpu in res["setups"]),
        "crawl_urls_per_s": sum(x["metrics"]["n_selected"] for x in rounds) / secs,
        "crawl_images_per_s": sum(image_rows(root, x["round"]) for x in rounds) / secs,
        "round_p50_s": statistics.median(x["s"] for x in rounds),
        "round_cpu_p50_s": statistics.median(x["cpu_s"] for x in rounds),
    }


def layer_metrics(res: dict, spark, spans) -> dict:
    """Per-layer metrics of the crawl: commit timings and bloom/compaction
    counts summed over the timed rounds, store sizes, and traced probes
    of the frontier/known reads and of ``select_round``."""
    rounds = res["timed"]
    eng = res["engine"]
    out = {name: 0.0 for name in PHASES.values()}
    dirty = 0
    for x in rounds:
        m = x["metrics"]
        for phase, name in PHASES.items():
            out[name] += m["timings"].get(phase, 0.0)
        dirty += m.get("known_dirty_buckets", 0) + m.get("frontier_dirty_buckets", 0)
    last = rounds[-1]["metrics"]
    out["bloom.active_rounds"] = sum(1 for x in rounds if "bloom_n_bits" in x["metrics"])
    out["bloom.rebuilds"] = last.get("bloom_rebuilds", 0)
    out["bloom.n_bits"] = last.get("bloom_n_bits", 0)
    out["compaction.dirty_buckets"] = dirty

    sb = store_bytes(eng.store.root)
    for t in STORE_TABLES:
        out[f"store.bytes.{t}"] = sb["tables"][t]
    out["store.files"] = sb["files"]

    r = rounds[-1]["round"]
    with spans.span("probe.frontier_read"):
        out["store.frontier_read_s"] = _median_time(lambda: _noop(eng.frontier(r)))
    with spans.span("probe.known_read"):
        out["store.known_read_s"] = _median_time(lambda: _noop(eng.known(r)))
    # select_round over the last frontier, with the engine's own size hint
    hint = max(0, (last.get("n_known") or 0) - last.get("n_seen", 0))
    robots = eng.store.read_snapshot(spark, "robots", 0)
    budgets = with_budgets(robots, eng.world.round_seconds)
    eligible = eng.frontier(r).filter(f"next_round <= {r + 1}")
    with spans.span("probe.select_round"):
        out["frontier.select_s"] = _median_time(
            lambda: _noop(select_round(eligible, budgets, eng.cfg.salt_threshold, hint))
        )
    out["frontier.salted"] = int(hint > eng.cfg.salt_threshold)
    return out
