"""Checkpoint/resume: a run killed after round k and resumed must be
bit-identical to an uninterrupted run (north_rule)."""

from __future__ import annotations

import hashlib
import os

import pytest

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.storage.snapshots import SnapshotStore

WORLD = synth.WorldConfig(n_hosts=5, base_pages=6)
N_ROUNDS = 6
KILL_AFTER = 3


def _state_digest(eng: CrawlEngine, n_rounds: int) -> dict:
    order = [
        (r["round"], r["host"], r["canonical_url"], r["kind"], r["rank"])
        for r in eng.fetch_log(n_rounds)
        .orderBy("round", "host_idx", "rank")
        .collect()
    ]
    seen = sorted(r["canonical_url"] for r in eng.seen(n_rounds).collect())
    frontier = sorted(tuple(r) for r in eng.frontier(n_rounds).collect())
    images = sorted(
        (
            r["image_id"],
            hashlib.sha256(bytes(r["bytes"])).hexdigest(),
            r["caption"],
            r["phash"],
        )
        for r in eng.images(n_rounds).collect()
    )
    return {"order": order, "seen": seen, "frontier": frontier, "images": images}


def test_kill_resume_bit_identical(spark, tmp_path):
    seed, robots = synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD)

    full = CrawlEngine(spark, SnapshotStore(str(tmp_path / "full")), WORLD, EngineConfig())
    full.init_state(seed, robots)
    full.run(N_ROUNDS)

    store_b = SnapshotStore(str(tmp_path / "killed"))
    part = CrawlEngine(spark, store_b, WORLD, EngineConfig())
    part.init_state(seed, robots)
    part.run(KILL_AFTER)  # "killed" here

    # a fresh engine over the same store resumes from the commit log
    resumed = CrawlEngine(spark, SnapshotStore(str(tmp_path / "killed")), WORLD, EngineConfig())
    assert resumed.store.last_round() == KILL_AFTER
    resumed.run(N_ROUNDS)

    assert _state_digest(full, N_ROUNDS) == _state_digest(resumed, N_ROUNDS)


def test_commit_log_is_atomic(spark, tmp_path):
    """An uncommitted (orphan) snapshot dir is invisible to readers."""
    store = SnapshotStore(str(tmp_path / "atomic"))
    eng = CrawlEngine(spark, store, WORLD, EngineConfig())
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(2)
    # simulate a crash mid-round-3: delta written, commit never lands
    orphan = eng.seen(2)
    store.write_delta(orphan, "seen", 3)
    assert store.last_round() == 2  # orphan dir ignored
    eng2 = CrawlEngine(spark, store, WORLD, EngineConfig())
    eng2.run(3)  # retries round 3, overwriting the orphan
    assert store.last_round() == 3


def test_uncommitted_snapshot_read_raises(spark, tmp_path):
    """Reading a snapshot no commit lists raises, even when its orphan
    dir exists: the read never falls back to an uncommitted dir."""
    store = SnapshotStore(str(tmp_path / "orphan"))
    store.write_snapshot(spark.range(3), "t", 1)
    with pytest.raises(ValueError, match="no committed t snapshot at round 1"):
        store.read_snapshot(spark, "t", 1)


def test_run_without_init_state_raises(spark, tmp_path):
    """A crawl needs round 0: running on an empty store raises and
    commits nothing."""
    eng = CrawlEngine(spark, SnapshotStore(str(tmp_path / "empty")), WORLD, EngineConfig())
    with pytest.raises(ValueError, match="init_state"):
        eng.run(1)
    assert eng.store.commits() == []


def test_recommitting_a_round_raises(tmp_path):
    """A second commit of a committed round is refused and leaves the log
    untouched. Appended, the duplicate entry would make the last commit
    point backwards and the next ``run()`` re-commit later rounds."""
    store = SnapshotStore(str(tmp_path / "dup"))
    for rnd in range(3):
        store.commit_round(rnd, [], {"n_selected": rnd})
    log = os.path.join(store.root, "_commits.json")
    with open(log, "rb") as f:
        before = f.read()
    with pytest.raises(ValueError, match="round 1 already committed"):
        store.commit_round(1, [], {"n_selected": 9})
    with open(log, "rb") as f:
        assert f.read() == before
    assert store.last_round() == 2


def test_rollback_then_resume_bit_identical(spark, tmp_path):
    """Iceberg-style rollback (SURVEY §7.0 storage API): truncating the
    commit log to round k and resuming must equal an uninterrupted run
    — the orphaned post-k dirs are invisible and get overwritten."""
    seed, robots = synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD)

    full = CrawlEngine(spark, SnapshotStore(str(tmp_path / "full")), WORLD, EngineConfig())
    full.init_state(seed, robots)
    full.run(N_ROUNDS)

    store_b = SnapshotStore(str(tmp_path / "rb"))
    other = CrawlEngine(spark, store_b, WORLD, EngineConfig())
    other.init_state(seed, robots)
    other.run(N_ROUNDS)

    dropped = store_b.rollback(KILL_AFTER)
    assert dropped == list(range(KILL_AFTER + 1, N_ROUNDS + 1))
    assert store_b.last_round() == KILL_AFTER
    assert store_b.rollback(KILL_AFTER) == []  # idempotent no-op

    resumed = CrawlEngine(spark, SnapshotStore(str(tmp_path / "rb")), WORLD, EngineConfig())
    resumed.run(N_ROUNDS)
    assert _state_digest(full, N_ROUNDS) == _state_digest(resumed, N_ROUNDS)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        store_b.rollback(-1)


def test_known_union_on_read_is_bounded(spark, tmp_path):
    """known() must read O(compact_every) dirs, not O(rounds): every
    compaction round rolls the membership set into a known_base
    snapshot and reads resume from it (round-3 verdict item 5). The
    compacted view must equal the full delta union exactly."""
    cfg = EngineConfig(compact_every=3)
    store = SnapshotStore(str(tmp_path / "kb"))
    eng = CrawlEngine(spark, store, WORLD, cfg)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    n_rounds = 8
    eng.run(n_rounds)

    last_snap = store.latest_snapshot_round("known", n_rounds)
    assert last_snap is not None, "no known_base snapshot written"
    # dirs touched per read: 1 snapshot + at most compact_every deltas
    deltas = store._delta_paths("known", last_snap + 1, n_rounds)
    assert len(deltas) <= cfg.compact_every, deltas
    # snapshot cadence held for the whole run
    assert n_rounds - last_snap < cfg.compact_every

    # parity: compacted view == raw union of every delta since round 0
    compacted = sorted(
        r["canonical_url"] for r in eng.known(n_rounds).collect()
    )
    raw = store.read_deltas(spark, "known", n_rounds)
    assert compacted == sorted(r["canonical_url"] for r in raw.collect())
    assert len(compacted) == len(set(compacted))  # membership set: no dups


def test_rollback_past_known_compaction_resumes_identically(spark, tmp_path):
    """Rolling back PAST a known_base compaction round must leave the
    orphaned snapshot invisible (commit-log truncation) and a resumed
    run must rewrite it deterministically — same guarantee the
    delta dirs already have, now for the round-4 known snapshots."""
    cfg = EngineConfig(compact_every=3)
    seed, robots = synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD)

    full = CrawlEngine(spark, SnapshotStore(str(tmp_path / "full")), WORLD, cfg)
    full.init_state(seed, robots)
    full.run(N_ROUNDS)

    store_b = SnapshotStore(str(tmp_path / "rb"))
    other = CrawlEngine(spark, store_b, WORLD, cfg)
    other.init_state(seed, robots)
    other.run(N_ROUNDS)

    # N_ROUNDS=6 with compact_every=3 → known snapshots at rounds 3, 6;
    # roll back to round 2, BEFORE the first compaction: the latest
    # known base is then the round-0 seed base
    assert store_b.latest_snapshot_round("known", N_ROUNDS) == 6
    store_b.rollback(2)
    assert store_b.latest_snapshot_round("known", N_ROUNDS) == 0

    resumed = CrawlEngine(spark, SnapshotStore(str(tmp_path / "rb")), WORLD, cfg)
    resumed.run(N_ROUNDS)
    assert _state_digest(full, N_ROUNDS) == _state_digest(resumed, N_ROUNDS)
    # compacted view equals the raw delta union after the rewrite too
    a = sorted(r["canonical_url"] for r in resumed.known(N_ROUNDS).collect())
    raw = resumed.store.read_deltas(spark, "known", N_ROUNDS)
    assert a == sorted(r["canonical_url"] for r in raw.collect())
