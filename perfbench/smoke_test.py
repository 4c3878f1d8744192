"""Self-test of the benchmark on its tiny smoke worlds (about 3 minutes).

    python3 perfbench/smoke_test.py

Checks that run.py
- prints every end-to-end metric (``--trace 0``) and every per-layer
  metric (``--trace 1``) named in BENCHMARK.json, each with its unit, and
  exits 0 on both workloads;
- exits non-zero when the pinned digest for the seed is corrupted;
- exits non-zero without printing a result in a directory that holds only
  BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench", "smoke")
SEED = 7


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--seed", str(SEED), "--seconds", "5", *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def last_json(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    failures = []

    for wl in (w["name"] for w in bench["workloads"]):
        for trace, names in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p = run(["--workload", wl, "--trace", str(trace), "--smoke"])
            if p.returncode != 0:
                failures.append(f"{wl} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = last_json(p.stdout)
            if set(res) != {"correct", "attempted", "failed", "metrics"} or not res["correct"]:
                failures.append(f"{wl} trace={trace}: bad result {res}")
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or got.get("value") is None:
                    failures.append(f"{wl} trace={trace}: metric {m['name']} missing or unitless")

    # a corrupted pinned digest must fail the run
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    cfg.setdefault("pinned_smoke", {}).setdefault("crawl_codec", {})[str(SEED)] = "0" * 64
    bad = os.path.join(SCRATCH, "config-corrupt.json")
    with open(bad, "w") as f:
        json.dump(cfg, f)
    p = run(["--workload", "crawl_codec", "--smoke", "--config", bad])
    if p.returncode == 0:
        failures.append("corrupted digest: run exited 0")

    # only BENCHMARK.json and the benchmark's own files: no program to run
    bare = os.path.join(SCRATCH, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for d in bench["paths"]:
        shutil.copytree(
            os.path.join(ROOT, d),
            os.path.join(bare, d),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    p = run(["--workload", "crawl_codec"], cwd=bare)
    if p.returncode == 0 or p.stdout.strip():
        failures.append(f"bare checkout: exit {p.returncode}, stdout {p.stdout!r}")

    shutil.rmtree(SCRATCH, ignore_errors=True)
    for f in failures:
        print("FAIL:", f)
    print("smoke: ok" if not failures else f"smoke: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
