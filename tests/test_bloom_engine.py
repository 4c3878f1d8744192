"""Bloom-active crawl: with the seen-filter on from the round-0 base the
engine must (a) produce exactly the same crawl as with it off — the
bloom is a pure pre-filter — and (b) keep the bloom an INDEX OF THE
KNOWN BASE: a bloom snapshot is written exactly when a known base is,
rewrites exactly the buckets that base rewrites, carries every other
shard forward by manifest reference, and each shard equals the shard
built from its base bucket's rows (docs/SCALE_DESIGN.md)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from housing_crawler_spark import schemas, synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.functions.urls import url_hash
from housing_crawler_spark.operators import bloom
from housing_crawler_spark.storage.snapshots import SnapshotStore

WORLD = synth.WorldConfig(n_hosts=4, base_pages=6)
N_ROUNDS = 6
BUCKETS = 8
# bases (and with them shards) at rounds 0, 2, 4 and 6
ON = EngineConfig(bloom_min_known=1, buckets=BUCKETS, compact_every=2)


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
        ON,
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


def _snap_rounds(store: SnapshotStore, table: str) -> list[int]:
    return [
        c["round"]
        for c in store.commits()
        if any(t["table"] == table and t["kind"] == "snap" for t in c["tables"])
    ]


def test_incremental_deltas_touch_only_dirty_shards(engines):
    """The bloom is written in exactly the known base rounds, and at each
    one it rewrites exactly the buckets the base rewrites; every other
    shard keeps its previous manifest entry."""
    on, _ = engines
    store = on.store
    rounds = _snap_rounds(store, "known")
    assert rounds == [0, 2, 4, 6]
    assert _snap_rounds(store, "bloom") == rounds

    def rewritten(man: dict, r: int) -> set[str]:
        return {k for k, at in man.items() if at == r}

    n_rewritten = []
    for prev_r, r in zip([None, *rounds], rounds):
        known = store.snapshot_info("known", r)["manifest"]
        shards = store.snapshot_info("bloom", r)["manifest"]
        assert set(shards) == set(known), r  # one shard per base bucket
        assert rewritten(shards, r) == rewritten(known, r), r
        if prev_r is not None:
            prev = store.snapshot_info("bloom", prev_r)["manifest"]
            for k in set(shards) - rewritten(shards, r):
                assert shards[k] == prev[k], (r, k)
        n_rewritten.append(len(rewritten(shards, r)))
    # the round-0 build covers every seeded bucket; later bases rewrite
    # shards too, and not always all of them
    assert n_rewritten[0] == len(store.snapshot_info("bloom", 0)["manifest"])
    assert any(n_rewritten[1:]), n_rewritten
    assert min(n_rewritten[1:]) < BUCKETS, n_rewritten


def test_each_shard_is_built_from_its_base_bucket(spark, engines):
    """Every shard of bloom@b equals ``build_shards`` over base@b's rows
    for that bucket: the bloom covers exactly its base, no more, no
    less, and each shard is sized from its own key count."""
    on, _ = engines
    store = on.store
    for b in _snap_rounds(store, "known"):
        base = store.read_snapshot(spark, "known", b, schemas.KNOWN)
        keys = base.select(url_hash(F.col("canonical_url")).alias("url_hash"))
        want = {
            (r["shard_id"], r["n_bits"], bytes(r["bitset"]))
            for r in bloom.build_shards(keys, BUCKETS).collect()
        }
        got = {
            (r["shard_id"], r["n_bits"], bytes(r["bitset"]))
            for r in store.read_snapshot(spark, "bloom", b, bloom.BLOOM_SCHEMA).collect()
        }
        assert got == want, b


def test_resume_preserves_bloom_state(spark, tmp_path_factory, engines):
    """Kill after round 3 and resume: the latest bloom snapshot and the
    final state must be bit-identical to the uninterrupted bloom-on run."""
    on, _ = engines
    root = str(tmp_path_factory.mktemp("bloom_resume"))
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, ON)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(3)
    # new engine over the same store picks up after the last commit
    eng2 = CrawlEngine(spark, SnapshotStore(root), WORLD, ON)
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

