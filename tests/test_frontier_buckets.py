"""The known base as the MUTABLE crawl state: the frontier lives in it
as the rows whose ``seen`` flag is false, so compaction maintains one
bucketed base instead of a known base plus a frontier base.

Fetched URLs flip ``seen``, captcha'd URLs mutate in place, admitted
URLs join. Three guarantees:

(a) INCREMENTAL COMPACTION — a known-base compaction rewrites only the
    buckets some fetched/admitted/captcha'd URL hashes into since the
    previous base; clean buckets carry forward by reference across
    MULTIPLE snapshot generations, and a compaction with NO state
    changes re-commits the previous manifest verbatim (zero writes).
(b) NO EMPTY BUCKETS — a row only ever gains a flag or an override, so
    every dirty bucket has rows; a bucketed write where a declared
    dirty bucket comes out empty raises instead of dropping or
    inheriting it.
(c) SEMANTICS UNCHANGED — the reconstructed frontier equals an
    independent raw-delta twin (seed ∪ known-deltas, ANTI non-captcha
    fetches, captcha overrides last-writer-wins) computed WITHOUT any
    base snapshot, mid-crawl and at the drained end state.

Two worlds: DEEP throttles the per-round politeness budget
(round_seconds=13) so the frontier stays ~100 rows deep while only
~10-20 URLs are touched per compaction interval — the steady-state
shape whose touched-fraction a 10^10-URL frontier shrinks toward;
TINY drains completely, exercising the empty/quiet paths.

The reference rebuilds its whole pending list in memory every loop
(housing_crawler's crawl_wggesucht.py reload habit); this is the same
state kept with rewrite volume ∝ touched rows.
"""

from __future__ import annotations

import dataclasses
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import KNOWN_COLS, CrawlEngine, EngineConfig
from housing_crawler_spark.storage.snapshots import BUCKET, SnapshotStore

DEEP_WORLD = synth.WorldConfig(n_hosts=6, base_pages=20, round_seconds=13)
DEEP_CFG = EngineConfig(
    bloom_min_known=1,
    compact_every=2,
    buckets=64,
)
DEEP_ROUNDS = 6

TINY_WORLD = synth.WorldConfig(n_hosts=4, base_pages=6)
TINY_CFG = EngineConfig(
    bloom_min_known=1,
    compact_every=2,
    buckets=8,
)
TINY_ROUNDS = 7  # drained by ~5; compactions at 2, 4, 6 (6 is a no-op)


def _mk(spark, root, world, cfg, rounds) -> CrawlEngine:
    e = CrawlEngine(spark, SnapshotStore(root), world, cfg)
    e.init_state(synth.seed_frontier_rows(world), synth.robots_rows(world))
    e.run(rounds)
    return e


@pytest.fixture(scope="module")
def deep(spark, tmp_path_factory) -> CrawlEngine:
    return _mk(
        spark, str(tmp_path_factory.mktemp("fdeep")), DEEP_WORLD, DEEP_CFG, DEEP_ROUNDS
    )


@pytest.fixture(scope="module")
def tiny(spark, tmp_path_factory) -> CrawlEngine:
    return _mk(
        spark, str(tmp_path_factory.mktemp("ftiny")), TINY_WORLD, TINY_CFG, TINY_ROUNDS
    )


def _base_snaps(store: SnapshotStore):
    out = []
    for c in store.commits():
        if c["round"] == 0:
            continue  # round-0 seed base, shared with known delta 0
        for t in c["tables"]:
            if t["table"] == "known" and t["kind"] == "snap":
                out.append((c["round"], t, c["metrics"]))
    return out


# -- (a) incremental compaction -------------------------------------------


def test_compaction_rewrites_only_touched_buckets(deep):
    snaps = _base_snaps(deep.store)
    assert [r for r, _, _ in snaps] == [2, 4, 6]
    for rnd, info, m in snaps:
        assert "manifest" in info, f"known @ r{rnd} not bucketed"
        rewritten = [k for k, at in info["manifest"].items() if at == rnd]
        # every rewritten entry lives in THIS round's dir, exactly the
        # engine's dirty count (no bucket can go empty)
        assert len(rewritten) == m["known_dirty_buckets"], (rnd, rewritten)
    # steady state (discovery tapered): far fewer buckets touched than
    # exist, with clean buckets inherited from the PREVIOUS generation
    (_, info4, m4) = snaps[1]
    assert 0 < m4["known_dirty_buckets"] < DEEP_CFG.buckets
    assert 2 in info4["manifest"].values()


def test_manifest_spans_generations(deep):
    """After two incremental compactions the live manifest references
    bucket dirs from THREE snapshot rounds — untouched buckets ride
    along by reference indefinitely (Iceberg's manifest-reuse shape)."""
    (_, info6, _) = _base_snaps(deep.store)[2]
    assert {2, 4, 6} <= set(info6["manifest"].values())


def test_quiet_compaction_writes_nothing(tiny):
    """A compaction round with zero state changes re-commits the
    previous manifest verbatim — no snap dir is even created."""
    snaps = {r: (info, m) for r, info, m in _base_snaps(tiny.store)}
    info6, m6 = snaps[6]
    info4, _ = snaps[4]
    assert m6["known_dirty_buckets"] == 0
    assert info6 == info4
    assert not os.path.exists(os.path.join(tiny.store.root, "known", "snap-000006"))


# -- (c) unchanged semantics ----------------------------------------------


def _raw_twin(eng: CrawlEngine, r: int):
    """frontier(r) recomputed from NOTHING but the delta tables — the
    same append-only algebra, base-free (independent oracle)."""
    spark, store = eng.spark, eng.store
    cand = store.read_deltas(spark, "known", r)  # seeds are delta 0
    log = store.read_deltas(spark, "fetch_log", r, from_round=1)
    if log is None:
        return cand.select(*KNOWN_COLS)
    fetched = log.filter(F.col("kind") != "captcha").select("canonical_url")
    cand = cand.join(fetched, "canonical_url", "left_anti")
    capt = log.filter(F.col("kind") == "captcha").select(
        "canonical_url",
        (F.col("attempts") + 1).alias("c_attempts"),
        (F.col("round") + 1 + F.lit(eng.world.captcha_backoff_rounds)).alias(
            "c_next_round"
        ),
        F.col("round").alias("at_round"),
    )
    w = Window.partitionBy("canonical_url").orderBy(F.desc("at_round"))
    latest = (
        capt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "at_round")
    )
    return (
        cand.join(latest, "canonical_url", "left")
        .withColumn("attempts", F.coalesce("c_attempts", "attempts"))
        .withColumn("next_round", F.coalesce("c_next_round", "next_round"))
        .drop("c_attempts", "c_next_round")
        .select(*KNOWN_COLS)
    )


@pytest.mark.parametrize("r", [3, DEEP_ROUNDS])
def test_frontier_matches_raw_delta_twin(deep, r):
    got = sorted(tuple(x) for x in deep.frontier(r).select(*KNOWN_COLS).collect())
    want = sorted(tuple(x) for x in _raw_twin(deep, r).collect())
    assert len(got) > 50  # a real frontier, not a trivially-empty match
    assert got == want


def test_drained_frontier_matches_twin_and_is_typed(tiny):
    df = tiny.frontier(TINY_ROUNDS)
    assert df.columns == KNOWN_COLS
    got = sorted(tuple(x) for x in df.collect())
    want = sorted(tuple(x) for x in _raw_twin(tiny, TINY_ROUNDS).collect())
    assert got == want == []


# -- (b) no empty buckets, storage-level unit test -------------------------


def test_empty_dirty_bucket_raises(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st"))
    df = spark.createDataFrame([("aaa", 0), ("bbb", 1)], f"u string, {BUCKET} int")
    info1 = store.write_bucketed_snapshot(df, "t", 1)
    store.commit_round(1, [info1], {})
    # bucket 2 is declared dirty, but no row lands in it
    upd = spark.createDataFrame([("zzz", 1)], f"u string, {BUCKET} int")
    with pytest.raises(ValueError, match=r"dirty buckets \['2'\]"):
        store.write_bucketed_snapshot(upd, "t", 2, inherit=info1, dirty=[1, 2])
    assert store.last_round() == 1


# -- plans over files --------------------------------------------------------


@pytest.mark.parametrize(
    "world, r",
    [
        pytest.param("tiny", 3, id="3"),
        pytest.param("tiny", 4, id="4"),
        pytest.param("deep", 3, id="deep-3"),
        pytest.param("deep", 4, id="deep-4"),
    ],
)
def test_state_plans_launch_no_spark_jobs(spark, request, world, r):
    """Every store read of the crawl state passes its table's schema, so
    building frontier(r) and known(r) — off a base (3) and on one (4) —
    runs no footer-inference job; and the session lists a read's paths on
    the driver, so DEEP's 64-bucket manifests (more paths than Spark's
    default parallel-listing threshold of 32) launch no file-listing job
    either: 0 Spark jobs until an action."""
    eng = request.getfixturevalue(world)
    group = f"state-plan-{world}-{r}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "build the state plans only")
    try:
        eng.frontier(r)
        eng.known(r)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_compaction_where_bloom_activates_rewrites_every_bucket(spark, tmp_path, tiny):
    """A base below ``bloom_min_known`` gets no bloom shards, so the
    first compaction whose base reaches it builds every bucket's shard
    and rewrites every known bucket (the full-rewrite compaction) — and
    the state it writes equals the incremental twin's."""
    n_known = {c["round"]: c["metrics"]["n_known"] for c in tiny.store.commits()}
    assert n_known[0] < n_known[2]
    cfg = dataclasses.replace(TINY_CFG, bloom_min_known=n_known[2])
    eng = _mk(spark, str(tmp_path / "late_bloom"), TINY_WORLD, cfg, 2)
    store = eng.store
    assert store.snapshot_info("bloom", 0) is None
    assert store.commits()[-1]["metrics"]["known_dirty_buckets"] == TINY_CFG.buckets
    bloom2 = store.snapshot_info("bloom", 2)
    assert bloom2["manifest"].keys() == store.snapshot_info("known", 2)["manifest"].keys()
    assert set(bloom2["manifest"].values()) == {2}

    def state(e: CrawlEngine) -> list[tuple]:
        return sorted(tuple(x) for x in e.known(2).collect())

    assert state(eng) == state(tiny)
