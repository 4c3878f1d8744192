"""J8 backfill: a crawl whose image rows are missing from the store is
repaired by backfill_images to the exact simulator corpus."""

from __future__ import annotations

import hashlib
import json
import os

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.simulator import simulate
from housing_crawler_spark.storage.snapshots import SnapshotStore

WORLD = synth.WorldConfig(n_hosts=4, base_pages=5)
N_ROUNDS = 5


def test_backfill_restores_missing_images(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "bf"))
    eng = CrawlEngine(spark, store, WORLD, EngineConfig())
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(N_ROUNDS)
    # lose every committed image delta: readers only see what
    # _commits.json lists, so the crawl now looks image-less
    commits_path = os.path.join(store.root, "_commits.json")
    with open(commits_path) as f:
        commits = json.load(f)
    for c in commits:
        c["tables"] = [t for t in c["tables"] if t["table"] != "images"]
    with open(commits_path, "w") as f:
        json.dump(commits, f)
    assert eng.images(N_ROUNDS).count() == 0  # nothing committed

    res = eng.backfill_images(N_ROUNDS)
    assert res["n_backfilled_images"] > 0
    # the backfill commit carries the crawl state of the round before it
    # and claims none of that round's work (fetches, admissions, timings)
    prev, bf = (c["metrics"] for c in store.commits()[-2:])
    carried = ("streaks", "halted", "n_known", "n_seen", "dirty_since_base")
    assert set(bf) == {*carried, "backfill", "n_backfilled_images"}
    assert {k: bf[k] for k in carried} == {k: prev[k] for k in carried}
    assert prev["dirty_since_base"]
    assert bf["backfill"] is True
    assert bf["n_backfilled_images"] == res["n_backfilled_images"]

    sim = simulate(WORLD, N_ROUNDS)
    got = {
        r["image_id"]: (r["caption"], r["phash"], hashlib.sha256(bytes(r["bytes"])).hexdigest())
        for r in eng.images(res["round"]).collect()
    }
    want = {
        im["image_id"]: (im["caption"], im["phash"], hashlib.sha256(im["bytes"]).hexdigest())
        for im in sim.images
    }
    assert got == want

    # idempotent: nothing missing afterwards, so nothing is written and
    # no round is committed
    with open(commits_path, "rb") as f:
        log_before = f.read()
    images_dirs = sorted(os.listdir(os.path.join(store.root, "images")))
    res2 = eng.backfill_images(res["round"])
    assert res2 == {"round": res["round"], "n_backfilled_images": 0}
    with open(commits_path, "rb") as f:
        assert f.read() == log_before
    assert sorted(os.listdir(os.path.join(store.root, "images"))) == images_dirs
