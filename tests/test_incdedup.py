"""IncrementalDeduper vs a pure-Python union-find twin (the simulator
pattern): replay the SAME simhash sketches the engine computed through
the sequential reference rule and assert identical assignments, over a
multi-round stream with planted intra-round, cross-round, and chained
duplicates. Plus the scale-shape pins: the probe reads only the
candidate buckets of the state manifest, and the state side of the
probe join is never shuffled (broadcast)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from housing_crawler_spark.operators import incdedup
from housing_crawler_spark.operators.incdedup import (
    _TABLE,
    BAND_BITS,
    N_BANDS,
    TAU,
    IncrementalDeduper,
    sketch_table,
)
from housing_crawler_spark.storage.snapshots import SnapshotStore


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _text(i: int) -> str:
    # per-doc-unique token stream: docs built from a shared natural-
    # language base measured ham 0-7 apart (13 shared tokens dominate
    # every bit vote), so unrelated docs must share ~no tokens to sit
    # outside the tau=6 radius (measured ~30 bits apart this way)
    # 40 tokens: long enough that a one-token edit flips only ~4 of 60
    # simhash bits (vote margins grow with sqrt(n_tokens)), so the
    # planted near-dup sits reliably inside tau=6
    return " ".join(f"t{(i * 97 + j * 13) % 100003}x{j}" for j in range(40))


def _near_text(i: int) -> str:
    # one-token edit of _text(i): inside the Hamming confirm radius
    return _text(i).rsplit(" ", 1)[0] + " edited"


def _bands(sh: int) -> list[int]:
    m = (1 << BAND_BITS) - 1
    return [(sh >> (k * BAND_BITS)) & m for k in range(N_BANDS)]


def _near(a: int, b: int) -> bool:
    """Band-nominated + Hamming-confirmed (the engine's match rule)."""
    if all(x != y for x, y in zip(_bands(a), _bands(b))):
        return False
    return bin(a ^ b).count("1") <= TAU


def _twin(rounds_sketch: list[dict[int, int]]) -> dict[int, int]:
    """Reference implementation of the documented rule: within-round
    components over band+Hamming matches; rep = min matched state rep
    if any member confirms against state, else component min; all
    docs' sketches then enter state at their resolved rep."""
    state: list[tuple[int, int]] = []  # (simhash, rep)
    out: dict[int, int] = {}
    for sk in rounds_sketch:
        docs = sorted(sk)
        parent = {d: d for d in docs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                if _near(sk[a], sk[b]):
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        comps: dict[int, list[int]] = {}
        for d in docs:
            comps.setdefault(find(d), []).append(d)
        for members in comps.values():
            matched = [
                rep
                for d in members
                for sh, rep in state
                if _near(sk[d], sh)
            ]
            rep = min(matched) if matched else min(members)
            for d in members:
                out[d] = rep
        for d in docs:  # append AFTER the whole round resolved
            state.append((sk[d], out[d]))
    return out


@pytest.fixture()
def stream(spark):
    """Three rounds: r1 = 8 originals; r2 = 6 new + exact cross-round
    dups of docs 0 and 2 + an intra-round exact pair; r3 = a dup of the
    r2 dup (chain: 300 ~ 201 ~ 0 must resolve to 0) + new docs."""
    r1 = [(i, _text(i)) for i in range(8)]
    r2 = (
        [(100 + i, _text(20 + i)) for i in range(6)]
        + [(201, _text(0)), (202, _text(2))]  # cross-round exact dups
        + [(205, _near_text(3))]  # cross-round NEAR dup (tau>0 path)
        + [(210, _text(50)), (211, _text(50))]  # intra-round pair
    )
    r3 = [(300, _text(0))] + [(310 + i, _text(40 + i)) for i in range(4)]
    return [
        _mkdocs(spark, r1),
        _mkdocs(spark, r2),
        _mkdocs(spark, r3),
    ]


def _ingest_vs_twin(spark, root: str, rounds: list) -> dict[int, int]:
    """Ingest ``rounds`` (one docs frame each) into a fresh deduper and
    assert its assignments equal the twin's; returns the twin's."""
    dd = IncrementalDeduper(spark, SnapshotStore(root), n_buckets=8)
    got: dict[int, int] = {}
    rounds_sketch = []
    for rnd, docs in enumerate(rounds, start=1):
        rounds_sketch.append(
            {
                int(r["doc_id"]): int(r["simhash"])
                for r in sketch_table(docs).collect()
            }
        )
        for r in dd.ingest(rnd, docs).collect():
            got[int(r["doc_id"])] = int(r["rep_id"])
            assert r["is_new_rep"] == (r["rep_id"] == r["doc_id"])
    want = _twin(rounds_sketch)
    assert got == want
    return want


def test_incdedup_matches_twin(spark, tmp_path, stream):
    want = _ingest_vs_twin(spark, str(tmp_path / "store"), stream)
    # the planted structure actually exercised the machinery
    assert want[201] == 0 and want[202] == 2  # cross-round dups caught
    assert want[205] == 3  # near-dup (one-token edit) caught at tau>0
    assert want[300] == 0  # chain through a non-rep duplicate
    assert want[211] == 210  # intra-round pair
    # unrelated docs did NOT merge (the false-positive check the
    # MinHash-band-only design failed)
    assert want[100] == 100 and want[310] == 310
    assert sum(1 for d, r in want.items() if d != r) >= 5


def test_incdedup_zero_document_round_writes_no_state(spark, tmp_path, stream):
    """A zero-document first round commits no state entry (no write, no
    schema sidecar), and the two rounds after it still match the twin."""
    root = str(tmp_path / "store")
    empty = _mkdocs(spark, [])
    want = _ingest_vs_twin(spark, root, [empty, stream[0], stream[1]])
    assert want[201] == 0  # round 3 still resolves against round 2's state
    commits = SnapshotStore(root).commits()
    assert [c["round"] for c in commits] == [1, 2, 3]
    assert commits[0]["tables"] == []
    assert not any("_schema" in dirs for _, dirs, _ in os.walk(root))


def test_incdedup_shuffle_fallback_matches_twin(spark, tmp_path, stream, monkeypatch):
    """BROADCAST_MAX=0 forces the candidate-flood fallback (shuffle join
    against the same pruned state buckets) on every probe; the
    assignments still equal the twin's (so the broadcast path's), and
    the state rows after every round equal the broadcast path's."""

    def states(root: str) -> list[list[tuple]]:
        store = SnapshotStore(root)
        return [
            sorted(tuple(r) for r in store.read_snapshot(spark, _TABLE, rnd).collect())
            for rnd in range(1, len(stream) + 1)
        ]

    broadcast, flood = str(tmp_path / "broadcast"), str(tmp_path / "flood")
    _ingest_vs_twin(spark, broadcast, stream)
    monkeypatch.setattr(incdedup, "BROADCAST_MAX", 0)
    want = _ingest_vs_twin(spark, flood, stream)
    assert want[300] == 0 and want[205] == 3  # cross-round matches probed
    assert states(flood) == states(broadcast)


def test_incdedup_resume_from_store(spark, tmp_path, stream):
    """A NEW deduper over the same store (process restart) keeps the
    accumulated state: the r3 chain still resolves to doc 0."""
    store = SnapshotStore(str(tmp_path / "store"))
    dd = IncrementalDeduper(spark, store, n_buckets=8)
    dd.ingest(1, stream[0])
    dd.ingest(2, stream[1])
    dd2 = IncrementalDeduper(spark, store, n_buckets=8)
    got = {
        int(r["doc_id"]): int(r["rep_id"])
        for r in dd2.ingest(3, stream[2]).collect()
    }
    assert got[300] == 0


def test_state_plan_launches_no_spark_jobs(spark, tmp_path, stream):
    """The state read passes ``STATE_SCHEMA``, so building ``_state_sub``'s
    plan runs no footer-inference job: 0 Spark jobs until an action.
    The schema is the written files' own."""
    store = SnapshotStore(str(tmp_path / "store"))
    dd = IncrementalDeduper(spark, store, n_buckets=8)
    dd.ingest(1, stream[0])
    group = "incdedup-state-plan"
    sc = spark.sparkContext
    sc.setJobGroup(group, "build the state plan only")
    try:
        sub = dd._state_sub(list(range(8)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    written = spark.read.parquet(os.path.join(store.root, _TABLE, "snap-000001", "__b=*"))
    assert [(f.name, f.dataType) for f in written.schema] == [
        (f.name, f.dataType) for f in sub.schema
    ]


def test_incdedup_probe_is_bucket_pruned_and_unshuffled(
    spark, tmp_path, stream, monkeypatch
):
    """Scale shape: (a) the round-2 probe asks the store for ONLY the
    candidate buckets; (b) the state side of the probe join carries no
    shuffle (broadcast join, state streamed)."""
    store = SnapshotStore(str(tmp_path / "store"))
    dd = IncrementalDeduper(spark, store, n_buckets=8)
    dd.ingest(1, stream[0])

    asked: list[list[int]] = []
    real = store.read_snapshot_buckets

    def spy(sparkp, table, rnd, buckets, schema=None):
        if table == _TABLE:
            asked.append(sorted(buckets))
        return real(sparkp, table, rnd, buckets, schema)

    monkeypatch.setattr(store, "read_snapshot_buckets", spy)
    docs2 = stream[1]
    sk2 = {
        int(r["doc_id"]): int(r["simhash"])
        for r in sketch_table(docs2).collect()
    }
    cand_buckets = sorted(
        {
            (bv * N_BANDS + k) % 8
            for sh in sk2.values()
            for k, bv in enumerate(_bands(sh))
        }
    )
    dd.ingest(2, docs2)
    assert asked and all(a == cand_buckets for a in asked)

    # the probe join is a broadcast join — the state side is streamed,
    # never shuffled for the join
    state_sub = store.read_snapshot_buckets(spark, _TABLE, 2, cand_buckets)
    probe = spark.createDataFrame(
        [(d, s, k, b) for d, s in sk2.items() for k, b in enumerate(_bands(s))],
        "doc_id long, simhash long, band_k int, band_val long",
    )
    st = state_sub.select(
        "band_k", "band_val", F.col("simhash").alias("sh2"), "rep"
    )
    plan = (
        st.join(F.broadcast(probe), ["band_k", "band_val"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_m15_twins_share_rep_and_reps_are_first_seen(spark, sf_smoke):
    """m15 beyond the oracle mirror. Two invariants hold EXACTLY:
    every doc's rep was ingested no later than the doc (first-seen-wins
    follows ingest order, not id order — wrap-around twins land EARLIER
    than their originals and own their clusters despite larger ids),
    and every twin is a dup of SOMETHING (it has a ≤2-bit neighbor by
    construction). Twin-pair co-clustering is NOT exact by design:
    near-dup is not transitive and assignment is single-pass
    min-over-matched-reps, so a base sitting near TWO earlier clusters
    can be pulled away from its twin's (measured 142/151 at sf0.001) —
    the test pins that the overwhelming majority co-cluster."""
    from housing_crawler_spark.queries_ml6 import (
        _M15_TWIN_BIT,
        m15_incremental_image_dedup,
    )

    rows = m15_incremental_image_dedup(spark, sf_smoke).collect()
    rep = {r.doc_id: r.rep_id for r in rows}
    rnd = {r.doc_id: r.rnd for r in rows}
    # rep ingested no later than any member — for EVERY row
    for d, rp in rep.items():
        assert rnd[rp] <= rnd[d], (d, rp)
    twins = [d for d in rep if d & _M15_TWIN_BIT]
    assert twins  # ~1/5 of images — never vacuous
    same = wrapped = 0
    for t in twins:
        base = t ^ _M15_TWIN_BIT
        # the twin pair is within Hamming 2, so NEITHER side can be a
        # singleton cluster containing only itself... unless it is the
        # rep of the shared cluster; at minimum one of the two is a dup
        assert rep[t] != t or rep[base] != base, (t, base)
        if rep[t] == rep[base]:
            same += 1
            if rnd[t] < rnd[base]:
                wrapped += 1
                # twin arrived first: the rep must NOT be the base
                assert rep[t] != base
    assert same >= 0.9 * len(twins), (same, len(twins))
    assert wrapped  # the mod-3 wrap case actually occurred


def test_m17_funnel_attribution(spark, sf_smoke):
    """m17 beyond the oracle mirror: every stage label actually occurs
    (no vacuous gate), every planted re-post that reaches the dedup
    stage loses to its prefix original (never the other way), and a
    twin pair always shares its early-drop verdict (identical pixels →
    identical features)."""
    from housing_crawler_spark.queries_ml6 import m17_image_corpus_prep

    rows = m17_image_corpus_prep(spark, sf_smoke).collect()
    stage = {r.image_id: r.stage for r in rows}
    seen_stages = set(stage.values())
    assert seen_stages == {"basic", "ocr", "exposure", "duplicate", "kept"}, (
        seen_stages
    )
    scrs = [i for i in stage if i.endswith("~scr")]
    assert scrs
    for s in scrs:
        # a screenshot either falls to its caption at the basic gate or
        # is caught by the OCR gate — it can never reach exposure/dedup
        assert stage[s] in ("basic", "ocr"), (s, stage[s])
    assert any(stage[s] == "ocr" for s in scrs)
    twins = [i for i in stage if i.endswith("~re")]
    assert twins
    for t in twins:
        base = t[: -len("~re")]
        s_t, s_b = stage[t], stage[base]
        if s_t in ("basic", "ocr", "exposure") or s_b in (
            "basic", "ocr", "exposure"
        ):
            assert s_t == s_b, (t, s_t, s_b)  # identical features
        else:
            # both reached dedup: the original is the keeper
            assert s_b == "kept" and s_t == "duplicate", (t, s_t, s_b)
