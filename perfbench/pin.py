"""Pin simulator digests for a range of seeds into config.json.

    python3 perfbench/pin.py 0 50      # seeds 0..49, every workload

A pinned digest is ``simulator.simulate``'s digest of every round the
workload runs (its untimed round 1 plus its timed rounds). A run whose
seed is pinned compares the engine's store against it instead of
simulating again.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def main() -> int:
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    path = os.path.join(HERE, "config.json")
    with open(path) as f:
        cfg = json.load(f)
    for name, wl in cfg["workloads"].items():
        pins = cfg["pinned"].setdefault(name, {})
        for seed in range(lo, hi):
            d = workloads.simulator_digest(workloads.world_of(wl, seed), workloads.planned_rounds(wl))
            pins[str(seed)] = d["digest"]
            print(name, seed, d["digest"], flush=True)
    with open(path, "w") as f:
        json.dump(cfg, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
