"""Bloom-active crawl: with the seen-filter forced on from round 1 the
engine must (a) produce exactly the same crawl as with it off — the
bloom is a pure pre-filter — and (b) maintain shards INCREMENTALLY:
after the activation build, each round's bloom snapshot rewrites only
the buckets touched by the known URLs discovered since the last build
and carries every other bucket forward by manifest reference
(docs/SCALE_DESIGN.md's re-OR-dirty-shards promise)."""

from __future__ import annotations

import pytest

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.functions.hashing import xxhash64
from housing_crawler_spark.storage.snapshots import SnapshotStore

WORLD = synth.WorldConfig(n_hosts=4, base_pages=6)
N_ROUNDS = 6
BUCKETS = 8


def _run(spark, root: str, cfg: EngineConfig) -> CrawlEngine:
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, cfg)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(N_ROUNDS)
    return eng


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    on = _run(
        spark,
        str(tmp_path_factory.mktemp("bloom_on")),
        EngineConfig(bloom_min_known=1, buckets=BUCKETS),
    )
    off = _run(
        spark,
        str(tmp_path_factory.mktemp("bloom_off")),
        EngineConfig(bloom_min_known=10**12),
    )
    return on, off


def test_bloom_is_a_pure_prefilter(engines):
    on, off = engines
    for view in ("seen", "known"):
        a = {r["canonical_url"] for r in getattr(on, view)(N_ROUNDS).collect()}
        b = {r["canonical_url"] for r in getattr(off, view)(N_ROUNDS).collect()}
        assert a == b, view
    a = [
        (r["round"], r["canonical_url"], r["kind"])
        for r in on.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    b = [
        (r["round"], r["canonical_url"], r["kind"])
        for r in off.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    assert a == b


def test_incremental_deltas_touch_only_dirty_shards(spark, engines):
    on, _ = engines
    store = on.store
    commits = store.commits()
    bloom_rounds = [
        c["round"]
        for c in commits
        if any(t["table"] == "bloom" and t["kind"] == "snap" for t in c["tables"])
    ]
    assert bloom_rounds, "bloom never activated"
    # round 0 records n_known, so bloom_min_known=1 turns the filter on
    # in the very first round
    assert bloom_rounds[0] == 1, bloom_rounds
    covers = {c["round"]: c["metrics"]["bloom_covers"] for c in commits[1:]}

    prev = store.snapshot_info("bloom", bloom_rounds[0])["manifest"]
    for r in bloom_rounds[1:]:
        man = store.snapshot_info("bloom", r)["manifest"]
        # this round's fresh known rows: the deltas the previous round's
        # bloom did not cover yet
        fresh = store.read_deltas(spark, "known", covers[r], from_round=covers[r - 1] + 1)
        assert fresh is not None
        want = {xxhash64(row["canonical_url"]) % BUCKETS for row in fresh.collect()}
        got = {int(k) for k, path in man.items() if f"snap-{r:06d}" in path}
        assert got == want, (r, got, want)
        assert set(prev) <= set(man), r
        for k, path in man.items():
            if int(k) not in want:
                assert path == prev[k], (r, k, path)
        prev = man

def test_resume_preserves_bloom_state(spark, tmp_path_factory, engines):
    """Kill after round 3 and resume: the latest bloom snapshot and the
    final state must be bit-identical to the uninterrupted bloom-on run."""
    on, _ = engines
    root = str(tmp_path_factory.mktemp("bloom_resume"))
    eng = CrawlEngine(
        spark,
        SnapshotStore(root),
        WORLD,
        EngineConfig(bloom_min_known=1, buckets=BUCKETS),
    )
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(3)
    # new engine over the same store picks up after the last commit
    eng2 = CrawlEngine(
        spark,
        SnapshotStore(root),
        WORLD,
        EngineConfig(bloom_min_known=1, buckets=BUCKETS),
    )
    eng2.run(N_ROUNDS)

    def latest_bloom(eng: CrawlEngine) -> set:
        store = eng.store
        b = store.latest_snapshot_round("bloom", N_ROUNDS)
        return {
            (r["shard_id"], bytes(r["bitset"]).hex())
            for r in store.read_snapshot(spark, "bloom", b).collect()
        }

    assert latest_bloom(on) == latest_bloom(eng2)
    sa = {r["canonical_url"] for r in on.seen(N_ROUNDS).collect()}
    sb = {r["canonical_url"] for r in eng2.seen(N_ROUNDS).collect()}
    assert sa == sb

