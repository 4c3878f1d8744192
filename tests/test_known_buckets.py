"""Hash-bucketed known-set maintenance (round-4 verdict item 1 — the
last O(|known|)-per-cycle path in the engine).

Three guarantees, each asserted at the artifact level, not inferred:

(a) INCREMENTAL COMPACTION — a known_base compaction rewrites only the
    url_hash buckets that gained rows since the previous base; every
    clean bucket's manifest entry is carried forward BY REFERENCE
    (it keeps naming the older round's snap dir, zero bytes).
(b) PRUNED, SHUFFLE-FREE PROBE — the per-round exact backstop reads
    only the bucket dirs of the buckets the bloom-surviving
    candidates hash into, and the known side of both probe joins is
    never shuffled (BroadcastHashJoin with known as the streamed side:
    no "Exchange hashpartitioning" anywhere in the plan).
(c) SEMANTICS UNCHANGED — crawl results with the bucketed backstop +
    incremental compaction equal the plain-anti-join engine's exactly
    (membership, fetch order, images), incl. across resume.

The reference reloads months of CSV history per page
(crawl_wggesucht.py:244-276); this is the same membership problem done
with bounded I/O at 10^10 URLs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from housing_crawler_spark import crawl, synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.storage.snapshots import BUCKET, LAYOUT_VERSION, SnapshotStore

WORLD = synth.WorldConfig(n_hosts=4, base_pages=6)
N_ROUNDS = 8
CFG = EngineConfig(
    bloom_min_known=1,  # bloom (and with it the pruned backstop) always on
    compact_every=2,  # several compactions within N_ROUNDS
    buckets=8,
)


def _run(spark, root: str, cfg: EngineConfig) -> CrawlEngine:
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, cfg)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(N_ROUNDS)
    return eng


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory) -> CrawlEngine:
    return _run(spark, str(tmp_path_factory.mktemp("kbuck")), CFG)


@pytest.fixture(scope="module")
def plain(spark, tmp_path_factory) -> CrawlEngine:
    # bloom permanently off → the legacy full exact anti-join path
    return _run(
        spark,
        str(tmp_path_factory.mktemp("kplain")),
        EngineConfig(bloom_min_known=10**12, compact_every=2, buckets=8),
    )


# -- (a) incremental compaction -------------------------------------------


def _known_snaps(store: SnapshotStore):
    out = []
    for c in store.commits():
        if c["round"] == 0:
            continue  # round-0 seed base, shared with known delta 0
        for t in c["tables"]:
            if t["table"] == "known" and t["kind"] == "snap":
                out.append((c["round"], t))
    return out


def test_compaction_rewrites_only_dirty_buckets(bucketed):
    snaps = _known_snaps(bucketed.store)
    assert len(snaps) >= 2, "need at least two compactions"
    for rnd, info in snaps:
        assert "manifest" in info, f"known snap @ r{rnd} not bucketed"
    # from the first compaction on, every manifest must inherit ≥1
    # clean bucket from an OLDER snap dir, and rewrite only dirty
    # buckets
    for (r0, a), (r1, b) in zip(snaps, snaps[1:]):
        man0, man1 = a["manifest"], b["manifest"]
        inherited = [k for k, at in man1.items() if man0.get(k) == at]
        rewritten = [k for k, at in man1.items() if man0.get(k) != at]
        assert inherited, f"r{r1}: no bucket carried forward by reference"
        # rewritten buckets are exactly the dirty ones the engine counted
        m = next(
            c["metrics"] for c in bucketed.store.commits() if c["round"] == r1
        )
        assert m["known_dirty_buckets"] == len(rewritten), (r1, rewritten)
        # rewritten entries live in THIS round's snap dir; inherited
        # entries still name older rounds' dirs (zero bytes moved)
        for k in rewritten:
            assert man1[k] == r1, (k, man1[k])
        for k in inherited:
            assert man1[k] < r1, (k, man1[k])


def test_manifest_union_is_exact_membership(spark, bucketed):
    """known() via the manifest == raw union of every delta."""
    got = sorted(
        r["canonical_url"] for r in bucketed.known(N_ROUNDS).collect()
    )
    raw = bucketed.store.read_deltas(spark, "known", N_ROUNDS)
    assert got == sorted(r["canonical_url"] for r in raw.collect())
    assert len(got) == len(set(got))


# -- (b) pruned, shuffle-free probe ---------------------------------------


def test_pruned_membership_reads_only_candidate_buckets(spark, bucketed):
    store = bucketed.store
    b = store.latest_snapshot_round("known", N_ROUNDS)
    info = store.snapshot_info("known", b)
    want = [0, 3]
    df = bucketed._known_membership_pruned(b, want)
    files = df.inputFiles()
    assert files, "pruned read returned no files"
    man = info["manifest"]
    allowed = tuple(
        os.path.join(os.path.abspath(store.root), "known", f"snap-{man[str(x)]:06d}", f"__b={x}")
        for x in want
        if str(x) in man
    )
    for f in files:
        local = os.path.abspath(f.replace("file:", ""))
        assert local.startswith(allowed), f"{f} outside candidate buckets"


def test_probe_joins_never_shuffle_the_known_side(spark, bucketed):
    """The exact backstop = two broadcast joins of the small candidate
    set against the bucket-pruned known scan. Plan-level proof: no
    shuffle Exchange at all (broadcast exchanges only)."""
    store = bucketed.store
    b = store.latest_snapshot_round("known", N_ROUNDS)
    known_sub = bucketed._known_membership_pruned(b, list(range(CFG.buckets)))
    cand = known_sub.limit(5).unionByName(
        spark.createDataFrame(
            [(123456789, "https://host-0/nowhere")], "url_hash long, canonical_url string"
        )
    )
    keys = ["url_hash", "canonical_url"]
    hits = known_sub.join(F.broadcast(cand), keys, "left_semi")
    new = cand.join(F.broadcast(hits), keys, "left_anti")
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert new.count() == 1  # only the synthetic never-seen URL survives


# -- (c) unchanged semantics ----------------------------------------------


def test_bucketed_backstop_matches_plain_engine(bucketed, plain):
    for view in ("seen", "known"):
        a = {r["canonical_url"] for r in getattr(bucketed, view)(N_ROUNDS).collect()}
        c = {r["canonical_url"] for r in getattr(plain, view)(N_ROUNDS).collect()}
        assert a == c, view
    a = [
        (r["round"], r["canonical_url"], r["kind"])
        for r in bucketed.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    c = [
        (r["round"], r["canonical_url"], r["kind"])
        for r in plain.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    assert a == c


def test_shuffle_fallback_backstop_matches_broadcast(
    spark, tmp_path_factory, monkeypatch, bucketed
):
    """BACKSTOP_BROADCAST_MAX=0 forces the candidate-flood fallback
    (shuffle anti-join against the SAME bucket-pruned known scan) on
    every round; membership and fetch order must be unchanged."""
    monkeypatch.setattr(crawl, "BACKSTOP_BROADCAST_MAX", 0)
    flooded = _run(spark, str(tmp_path_factory.mktemp("kflood")), CFG)
    for view in ("seen", "known"):
        a = {r["canonical_url"] for r in flooded.__getattribute__(view)(N_ROUNDS).collect()}
        c = {r["canonical_url"] for r in getattr(bucketed, view)(N_ROUNDS).collect()}
        assert a == c, view
    a = [
        (r["round"], r["canonical_url"], r["kind"])
        for r in flooded.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    c = [
        (r["round"], r["canonical_url"], r["kind"])
        for r in bucketed.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    assert a == c


@pytest.mark.parametrize("stamp", [None, 2, 4], ids=["unstamped", "older", "newer"])
def test_store_of_another_layout_is_rejected(spark, tmp_path, stamp):
    """Stores written at another layout are rejected, not crawled on:
    one commit entry without the ``LAYOUT_VERSION`` stamp, or stamped
    with another version, fails the first frontier, known or run call
    with a ValueError naming the found and expected versions, and the
    failed run leaves the commit log byte-identical."""
    import json

    root = str(tmp_path / "klayout")
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(1)
    commits_path = os.path.join(root, "_commits.json")
    with open(commits_path) as f:
        commits = json.load(f)
    if stamp is None:
        del commits[1]["layout"]
    else:
        commits[1]["layout"] = stamp
    with open(commits_path, "w") as f:
        json.dump(commits, f)
    with open(commits_path, "rb") as f:
        before = f.read()

    found = "none" if stamp is None else stamp
    msg = f"layout version {found}, expected {LAYOUT_VERSION}"
    resumed = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    for call in (resumed.frontier, resumed.known, resumed.run):
        with pytest.raises(ValueError, match=msg):
            call(2)
    with open(commits_path, "rb") as f:
        assert f.read() == before


def test_bucketed_write_requires_static_overwrite_mode(spark, tmp_path):
    """Dynamic partitionOverwriteMode would let stale bucket dirs from a
    crashed attempt survive into the listdir-derived manifest; the write
    refuses up front (round-5 advice)."""
    store = SnapshotStore(str(tmp_path / "kdyn"))
    df = spark.range(10).withColumn(BUCKET, (F.col("id") % 4).cast("int"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        with pytest.raises(ValueError, match="partitionOverwriteMode"):
            store.write_bucketed_snapshot(df, "known", 1)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    # back to static: the same write succeeds
    info = store.write_bucketed_snapshot(df, "known", 1)
    assert sorted(info["manifest"]) == ["0", "1", "2", "3"]


def test_resume_over_bucketed_base_is_bit_identical(spark, tmp_path, bucketed):
    """Kill after a compaction round, resume, and the final state must
    equal the uninterrupted bucketed run's exactly."""
    root = str(tmp_path / "kresume")
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(5)  # stops after a compaction at round 4
    resumed = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    resumed.run(N_ROUNDS)
    a = sorted(r["canonical_url"] for r in resumed.known(N_ROUNDS).collect())
    b = sorted(r["canonical_url"] for r in bucketed.known(N_ROUNDS).collect())
    assert a == b
    la = [
        tuple(r)
        for r in resumed.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    lb = [
        tuple(r)
        for r in bucketed.fetch_log(N_ROUNDS).orderBy("round", "host_idx", "rank").collect()
    ]
    assert la == lb


def test_store_moved_to_another_root_resumes_identically(spark, tmp_path, bucketed):
    """A commit entry names its data by round, never by path: a store
    copied to a root of another length, past a compaction with a bloom,
    and with its original deleted, resumes to the uninterrupted run's
    state, and its log never mentions the old root."""
    import shutil

    from .test_crawl_resume import _state_digest

    old = str(tmp_path / "kmove")
    eng = CrawlEngine(spark, SnapshotStore(old), WORLD, CFG)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(5)  # compaction (known + bloom bases) at rounds 2 and 4
    assert eng.store.snapshot_info("bloom", 4) is not None
    new = str(tmp_path / "elsewhere" / "kmoved")
    shutil.copytree(old, new)
    shutil.rmtree(old)
    with open(os.path.join(new, "_commits.json")) as f:
        assert old not in f.read()

    moved = CrawlEngine(spark, SnapshotStore(new), WORLD, CFG)
    moved.run(N_ROUNDS)
    assert _state_digest(moved, N_ROUNDS) == _state_digest(bucketed, N_ROUNDS)


def test_failed_concurrent_delta_write_leaves_round_uncommitted(
    spark, tmp_path, monkeypatch, bucketed
):
    """The fetch_log/known/images delta writes run concurrently. When
    the images write of round k fails, its finished siblings' dirs are
    never committed: the log still ends at k-1, and a resumed engine
    overwrites them and reproduces the uninterrupted run."""
    import hashlib

    k = 3
    root = str(tmp_path / "kfail")
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(k - 1)

    real = SnapshotStore.write_delta

    def failing(self, df, table, rnd):
        if table == "images" and rnd == k:
            raise OSError("injected images write failure")
        return real(self, df, table, rnd)

    monkeypatch.setattr(SnapshotStore, "write_delta", failing)
    with pytest.raises(OSError, match="injected"):
        eng.run(k)
    monkeypatch.setattr(SnapshotStore, "write_delta", real)
    assert [c["round"] for c in eng.store.commits()] == list(range(k))
    # the sibling write finished but stays invisible
    assert os.path.isdir(os.path.join(root, "fetch_log", f"delta-{k:06d}"))

    resumed = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    resumed.run(k)

    def state(e):
        log = sorted(tuple(r) for r in e.fetch_log(k).collect())
        known = sorted(r["canonical_url"] for r in e.known(k).collect())
        images = sorted(
            (r["image_id"], hashlib.sha256(bytes(r["bytes"])).hexdigest(), r["phash"])
            for r in e.images(k).collect()
        )
        return log, known, images

    # round k of the uninterrupted run did write images
    assert bucketed.store.read_deltas(spark, "images", k, from_round=k) is not None
    assert state(resumed) == state(bucketed)
