"""Bloom-active crawl: with the seen-filter forced on from round 1 the
engine must (a) produce exactly the same crawl as with it off — the
bloom is a pure pre-filter — and (b) maintain shards INCREMENTALLY:
after the activation build, each round's bloom delta contains only the
shard ids actually touched by the known URLs discovered since the last
build (docs/SCALE_DESIGN.md's re-OR-dirty-shards promise)."""

from __future__ import annotations

import pytest

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.functions.hashing import xxhash64
from housing_crawler_spark.storage.snapshots import SnapshotStore

WORLD = synth.WorldConfig(n_hosts=4, base_pages=6)
N_ROUNDS = 6
N_SHARDS = 8


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
        EngineConfig(bloom_shards=N_SHARDS, bloom_min_known=1),
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
        if any(t["table"] == "bloom" for t in c["tables"])
    ]
    assert bloom_rounds, "bloom never activated"
    # round 0 records n_known, so bloom_min_known=1 turns the filter on
    # in the very first round
    assert bloom_rounds[0] == 1, bloom_rounds
    first = bloom_rounds[0]
    covered = {}  # round -> bloom_covers metric
    for c in commits:
        if "bloom_covers" in c.get("metrics", {}):
            covered[c["round"]] = c["metrics"]["bloom_covers"]

    prev_covers = None
    for r in bloom_rounds:
        delta = spark.read.parquet(
            next(
                t["path"]
                for t in next(c for c in commits if c["round"] == r)["tables"]
                if t["table"] == "bloom"
            )
        )
        got_ids = sorted(row["shard_id"] for row in delta.select("shard_id").collect())
        if r == first:
            prev_covers = covered[r]
            continue  # activation build: all non-empty shards, by design
        fresh = store.read_deltas(spark, "known", covered[r], from_round=prev_covers + 1)
        assert fresh is not None
        urls = [row["canonical_url"] for row in fresh.collect()]
        want_ids = sorted({xxhash64(u) % N_SHARDS for u in urls})
        assert got_ids == want_ids, (r, got_ids, want_ids)
        assert len(got_ids) < N_SHARDS or len(urls) > N_SHARDS
        prev_covers = covered[r]


def test_resume_preserves_bloom_state(spark, tmp_path_factory, engines):
    """Kill after round 3 and resume: bloom deltas and final state must
    be bit-identical to the uninterrupted bloom-on run."""
    on, _ = engines
    root = str(tmp_path_factory.mktemp("bloom_resume"))
    eng = CrawlEngine(
        spark,
        SnapshotStore(root),
        WORLD,
        EngineConfig(bloom_shards=N_SHARDS, bloom_min_known=1),
    )
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(3)
    # new engine over the same store picks up after the last commit
    eng2 = CrawlEngine(
        spark,
        SnapshotStore(root),
        WORLD,
        EngineConfig(bloom_shards=N_SHARDS, bloom_min_known=1),
    )
    eng2.run(N_ROUNDS)
    a = {
        (r["shard_id"], bytes(r["bitset"]).hex())
        for r in on.current_bloom(N_ROUNDS).collect()
    }
    b = {
        (r["shard_id"], bytes(r["bitset"]).hex())
        for r in eng2.current_bloom(N_ROUNDS).collect()
    }
    assert a == b
    sa = {r["canonical_url"] for r in on.seen(N_ROUNDS).collect()}
    sb = {r["canonical_url"] for r in eng2.seen(N_ROUNDS).collect()}
    assert sa == sb


def test_bloom_compaction_bounds_reconstruction(spark, tmp_path_factory, engines):
    """With bloom_compact_every=2, every other round writes a FULL-set
    bloom delta and bloom_base advances — current_bloom restricted to
    from_round=bloom_base must equal the unrestricted reconstruction,
    and the crawl itself is unchanged."""
    on, _ = engines
    eng = _run(
        spark,
        str(tmp_path_factory.mktemp("bloom_compact")),
        EngineConfig(bloom_shards=N_SHARDS, bloom_min_known=1, bloom_compact_every=2),
    )
    a = {r["canonical_url"] for r in eng.seen(N_ROUNDS).collect()}
    b = {r["canonical_url"] for r in on.seen(N_ROUNDS).collect()}
    assert a == b

    commits = eng.store.commits()
    base = None
    for c in commits:
        m = c.get("metrics", {})
        if "bloom_base" in m:
            base = m["bloom_base"]
    assert base is not None and base > 0, "compaction never advanced bloom_base"
    full = {
        (r["shard_id"], bytes(r["bitset"]).hex())
        for r in eng.current_bloom(N_ROUNDS).collect()
    }
    bounded = {
        (r["shard_id"], bytes(r["bitset"]).hex())
        for r in eng.current_bloom(N_ROUNDS, from_round=base).collect()
    }
    assert full == bounded
    # and the bounded view matches the never-compacted engine's bloom
    ref = {
        (r["shard_id"], bytes(r["bitset"]).hex())
        for r in on.current_bloom(N_ROUNDS).collect()
    }
    assert bounded == ref
