"""Engine ≡ reference simulator: fetch order, seen membership, images,
politeness ledger — the north_rule correctness contract."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.operators.images import LOSSLESS, decode, psnr
from housing_crawler_spark.simulator import simulate
from housing_crawler_spark.storage.snapshots import SnapshotStore

WORLD = synth.WorldConfig(n_hosts=6, base_pages=8)
N_ROUNDS = 8


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("crawlstore")))
    eng = CrawlEngine(spark, store, WORLD, EngineConfig())
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(N_ROUNDS)
    return eng


@pytest.fixture(scope="module")
def sim():
    return simulate(WORLD, N_ROUNDS)


def engine_order(engine):
    rows = (
        engine.fetch_log(N_ROUNDS)
        .orderBy("round", "host_idx", "rank")
        .select("round", "host", "canonical_url", "kind")
        .collect()
    )
    return [(r["round"], r["host"], r["canonical_url"], r["kind"]) for r in rows]


def test_fetch_order_matches_simulator(engine, sim):
    got = engine_order(engine)
    assert len(got) == len(sim.fetch_order)
    assert got == sim.fetch_order


def test_seen_membership_matches_simulator(engine, sim):
    got = {r["canonical_url"] for r in engine.seen(N_ROUNDS).collect()}
    assert got == sim.seen


def test_politeness_budget_never_exceeded(engine, sim):
    per = (
        engine.fetch_log(N_ROUNDS)
        .groupBy("round", "host", "host_idx")
        .count()
        .collect()
    )
    sim_ledger = {(r, h): n for r, h, n, _ in sim.ledger}
    budgets = {synth.host_name(i): synth.budget(WORLD, i) for i in range(WORLD.n_hosts)}
    assert len(per) == len(sim_ledger)
    for row in per:
        assert row["count"] <= budgets[row["host"]], row
        assert sim_ledger[(row["round"], row["host"])] == row["count"]


def test_images_match_simulator(engine, sim):
    got = {
        r["image_id"]: (
            r["caption"],
            r["phash"],
            r["fmt"],
            r["w"],
            r["h"],
            hashlib.sha256(bytes(r["bytes"])).hexdigest(),
        )
        for r in engine.images(N_ROUNDS).collect()
    }
    want = {
        im["image_id"]: (
            im["caption"],
            im["phash"],
            im["fmt"],
            im["w"],
            im["h"],
            hashlib.sha256(im["bytes"]).hexdigest(),
        )
        for im in sim.images
    }
    assert len(got) == len(want) and got == want
    assert len(got) > 50  # the world actually produced a corpus


def test_per_row_image_invariants(engine, sim):
    """input_hint invariants: lossless bit-exact, lossy PSNR >= 40 dB,
    phash equality vs the oracle's original pixels."""
    originals = {}
    for im in sim.images:
        originals[im["image_id"]] = im
    rows = engine.images(N_ROUNDS).collect()
    assert rows
    from housing_crawler_spark.operators.images import phash64

    for r in rows[:200]:
        img, fmt = decode(bytes(r["bytes"]))
        assert fmt == r["fmt"]
        assert img.shape == (r["h"], r["w"])
        oracle = originals[r["image_id"]]
        oimg, _ = decode(oracle["bytes"])
        if fmt in LOSSLESS:
            assert np.array_equal(img, oimg)
        else:
            assert psnr(img, oimg) == float("inf")  # same encoder both sides
        assert phash64(img) == r["phash"] or fmt == "dctq"
        assert r["caption"] == oracle["caption"]


def test_lossy_psnr_vs_true_original():
    """dctq decode vs the pre-encode pixels stays >= 40 dB."""
    rng = np.random.Generator(np.random.PCG64(123))
    from housing_crawler_spark.operators.images import encode

    for _ in range(20):
        img = synth.gen_image(int(rng.integers(0, 2**60)), 0)
        out, _ = decode(encode(img, "dctq"))
        assert psnr(img, out) >= 40.0


def test_salting_and_compaction_do_not_change_selection(spark, tmp_path):
    """Two-phase salted top-B is EXACT and frontier compaction is
    transparent: forcing both on yields the identical crawl."""
    store = SnapshotStore(str(tmp_path / "salted"))
    eng = CrawlEngine(
        spark,
        store,
        WORLD,
        EngineConfig(salt_threshold=2, bloom_min_known=0, compact_every=2),
    )
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(N_ROUNDS)
    sim_res = simulate(WORLD, N_ROUNDS)
    assert engine_order(eng) == sim_res.fetch_order
