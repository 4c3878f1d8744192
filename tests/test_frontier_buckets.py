"""Hash-bucketed frontier_base maintenance (round-5: the frontier half
of the incremental-compaction story — round 4 closed it for the known
set, but the frontier rewrite was still O(|frontier|) per cycle).

Unlike ``known``, the frontier is MUTABLE: fetched URLs leave it,
captcha'd URLs mutate in place, admitted URLs join. Three guarantees:

(a) INCREMENTAL COMPACTION — a frontier_base compaction rewrites only
    the buckets some fetched/admitted/captcha'd URL hashes into since
    the previous base; clean buckets carry forward by reference across
    MULTIPLE snapshot generations, and a compaction with NO frontier
    changes re-commits the previous manifest verbatim (zero writes).
(b) REMOVAL SAFETY — a dirty bucket whose rows were all removed goes
    EMPTY (manifest entry dropped), never inherits its old rows; a
    fully-drained frontier still reads back as a typed empty DataFrame
    via the zero-row ``_schema`` sidecar.
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

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import KNOWN_COLS, CrawlEngine, EngineConfig
from housing_crawler_spark.storage.snapshots import SnapshotStore

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


def _fb_snaps(store: SnapshotStore):
    out = []
    for c in store.commits():
        if c["round"] == 0:
            continue  # round-0 seed base, shared with known (no compaction)
        for t in c["tables"]:
            if t["table"] == "frontier_base" and t["kind"] == "snap":
                out.append((c["round"], t, c["metrics"]))
    return out


# -- (a) incremental compaction -------------------------------------------


def test_compaction_rewrites_only_touched_buckets(deep):
    snaps = _fb_snaps(deep.store)
    assert [r for r, _, _ in snaps] == [2, 4, 6]
    for rnd, info, m in snaps:
        assert "manifest" in info, f"frontier_base @ r{rnd} not bucketed"
        rewritten = [
            k for k, p in info["manifest"].items() if f"snap-{rnd:06d}" in p
        ]
        # every rewritten entry lives under THIS round's dir, bounded by
        # the engine's dirty count (a dirty bucket that went empty drops
        # out of the manifest instead of being rewritten)
        assert len(rewritten) <= m["frontier_dirty_buckets"], (rnd, rewritten)
    # steady state (discovery tapered): far fewer buckets touched than
    # exist, with clean buckets inherited from the PREVIOUS generation
    (_, info4, m4) = snaps[1]
    assert 0 < m4["frontier_dirty_buckets"] < DEEP_CFG.buckets
    assert any("snap-000002" in p for p in info4["manifest"].values())


def test_manifest_spans_generations(deep):
    """After two incremental compactions the live manifest references
    bucket dirs from THREE snapshot rounds — untouched buckets ride
    along by reference indefinitely (Iceberg's manifest-reuse shape)."""
    (_, info6, _) = _fb_snaps(deep.store)[2]
    gens = {p.split("snap-")[1][:6] for p in info6["manifest"].values()}
    assert {"000002", "000004", "000006"} <= gens


def test_quiet_compaction_writes_nothing(tiny):
    """A compaction round with zero frontier changes re-commits the
    previous manifest verbatim — no snap dir is even created."""
    snaps = {r: (info, m) for r, info, m in _fb_snaps(tiny.store)}
    info6, m6 = snaps[6]
    info4, _ = snaps[4]
    assert m6["frontier_dirty_buckets"] == 0
    assert info6["manifest"] == info4["manifest"]
    assert info6["path"] == info4["path"]
    assert not os.path.exists(
        os.path.join(tiny.store.root, "frontier_base", "snap-000006")
    )


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


# -- (b) removal safety, storage-level unit test ---------------------------


def test_removed_bucket_goes_empty_not_inherited(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st"))
    rows = [("aaa", 0), ("bbb", 1), ("ccc", 2), ("ddd", 3)]
    df = spark.createDataFrame(rows, "u string, bk int")
    info1 = store.write_bucketed_snapshot(df, "t", 1, "bk")
    store.commit_round(1, [info1], {})
    assert sorted(info1["manifest"]) == ["0", "1", "2", "3"]
    # bucket 2's only row was removed, bucket 3 changed content
    upd = spark.createDataFrame([("zzz", 3)], "u string, bk int")
    info2 = store.write_bucketed_snapshot(
        upd, "t", 2, "bk", inherit=info1["manifest"], dirty=[2, 3]
    )
    store.commit_round(2, [info2], {})
    assert "2" not in info2["manifest"]
    assert info2["manifest"]["0"] == info1["manifest"]["0"]
    assert "snap-000002" in info2["manifest"]["3"]
    got = sorted(r["u"] for r in store.read_snapshot(spark, "t", 2).collect())
    assert got == ["aaa", "bbb", "zzz"]
    # full drain: every remaining bucket removed -> typed empty via sidecar
    empty = spark.createDataFrame([], "u string, bk int")
    info3 = store.write_bucketed_snapshot(
        empty, "t", 3, "bk", inherit=info2["manifest"], dirty=[0, 1, 3]
    )
    store.commit_round(3, [info3], {})
    assert info3["manifest"] == {}
    out = store.read_snapshot(spark, "t", 3)
    assert out.columns == ["u"] and out.count() == 0
