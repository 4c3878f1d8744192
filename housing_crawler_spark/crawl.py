"""The crawl engine: deterministic round loop over append-only delta tables.

Each round is one Spark job pipeline (SURVEY §2.9: the reference's
while-loop over cities/pages, crawl_wggesucht.py:497-549, becomes a
driver-side round loop — rounds are the unit of determinism and
checkpointing).

State model (designed for a 10^10-URL frontier — nothing is rewritten
per round):

- ``known``   — one row per canonical URL ever admitted to the frontier
  (seed round 0, then per-round discovered links after robots +
  membership gates), carrying a ``seen`` flag and its captcha state.
  Because every fetched URL was first admitted, ``seen ⊆ known``, so the
  J1 discovered-link gate is a single exact check against *known*:
  exact against the known deltas since the latest base, and against
  the base itself bloom-prefiltered, served at scale by the
  HASH-BUCKETED base: rows live in pmod(url_hash, buckets) buckets
  behind a per-bucket manifest, and the per-round backstop reads ONLY
  the buckets the bloom-surviving candidates hash into, joined
  broadcast so the known side is never shuffled
  (test_known_buckets.py).
- ``fetch_log`` — append-only: the URLs fetched per round. Its
  non-captcha rows are the reference's URL-seen membership
  (crawl_wggesucht.py:297-299); its captcha rows are per-round
  attempt/backoff overrides (utils.py:109-123 semantics).
- the crawl state after round r is one algebra (``_state``) over the
  latest known base, the known deltas since and the fetch_log deltas
  since: a non-captcha fetch sets ``seen``, the latest captcha fetch
  overrides (attempts, next_round). The FRONTIER is derived, never
  stored:

      frontier(r) = state(r) filtered to ~seen

  Every ``compact_every`` rounds the state is materialized as the next
  known base, so reconstruction reads a bounded number of delta files.
  A compaction rewrites ONLY the buckets some URL admitted or fetched
  since the previous base hashes into (url_hash-sorted within each
  bucket for rowgroup range pruning): clean buckets carry forward by
  reference across generations, a quiet interval re-commits the old
  manifest without writing a byte, and since a row only ever gains a
  flag or an override, no bucket goes empty (test_frontier_buckets.py).
- round 0 is an ordinary bucketed state: the seeds are written once as
  a bucketed snapshot whose manifest (bucket → round 0) both the known
  base and known delta 0 commit, so every probe and compaction reads a
  manifest and every compaction is incremental.
- ``bloom`` — the seen-filter of a known base: one shard per base
  bucket (the same ``buckets`` modulus), committed as a bucketed
  snapshot in the same round as the base. Whenever a base with at
  least ``bloom_min_known`` rows is written, the shards of exactly the
  buckets written are built from their rows, and every other shard
  carries forward by manifest reference; the bloom is never written
  between bases. A base without shards (below ``bloom_min_known``)
  gates links with one plain exact anti-join.
- ``images`` — append-only deltas (the input_hint image table).

The engine reads only stores of its own layout, and never checks a
store's shape itself: every commit is stamped with
``storage.snapshots.LAYOUT_VERSION``, and the commit log refuses any
other (ValueError), so a base is always bucketed and flagged, every
bloom indexes its base, and every round records ``dirty_since_base``,
the base buckets changed since the latest base ([] in a round that
writes a base), so a compaction reads its dirty set from one commit.

A round:

    frontier @ r-1 ──eligible──> select_round (politeness budgets,
        salted exact top-B per host, priority = depth/page/card/url)
      ──mapInPandas fetch (Arrow batches; synth mock web)──>
        ├─ fetch_log delta (non-captcha rows: seen; captcha rows:
        │    attempts+1, eligible after backoff)
        ├─ listing out_links ─canonicalize→ robots gate →
        │    anti-join vs known deltas since base b → bloom@b probe →
        │    pruned backstop vs base b → first-seen-wins dedup →
        │    known delta (eligible round r+1)
        └─ detail rows ─clean caption (native exprs)─mapInPandas
             image stage─> images delta (input_hint shape)
    every compact_every rounds: known base @r (dirty buckets) ─>
        bloom @r (the same buckets' shards)

All deltas committed atomically (SnapshotStore) — kill the process
anywhere and re-running resumes bit-identically (test_crawl_resume).
Equivalence with the single-process reference simulator (simulator.py)
on fetch order, seen membership, images, and the politeness ledger is
asserted by test_crawl_parity.py.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas, synth
from .functions.strings import clean_caption
from .functions.urls import canonicalize_url, path_of, url_hash
from .operators import bloom
from .operators.frontier import first_seen_wins, robots_gate, select_round, with_budgets
from .storage.snapshots import BUCKET, SnapshotStore


@dataclass
class EngineConfig:
    salt_threshold: int = 100_000
    # a known base of at least this many rows gets bloom shards; below
    # it an exact anti-join is cheaper
    bloom_min_known: int = 200_000
    compact_every: int = 8  # rounds between base materializations
    buckets: int = 16  # url_hash buckets of the known base AND the bloom
    # seen-filter's shards (one modulus: a bloom shard is the base bucket
    # of its keys. At 10^10 URLs: thousands of buckets, so a probe's
    # candidate set prunes to a small fraction of the table and a
    # compaction rewrites only the buckets, and their shards, some
    # admitted/fetched URL hashes into)
    verify_decode: bool = False  # round-trip decode + invariant check at ingest


# maybe-seen rows above which the exact backstop falls back from
# broadcast joins to a shuffle anti-join (a revisit-heavy round can make
# MOST links bloom survivors; broadcasting an unbounded candidate set
# would pressure the driver, while the fallback still reads only pruned
# buckets)
BACKSTOP_BROADCAST_MAX = 2_000_000

# frontier rows (attempts/next_round only meaningful post-captcha-
# override); a known row (``schemas.KNOWN``) is a frontier row plus its
# ``seen`` flag. Every store read passes its table's schema: inferring
# it from the footers costs a one-task Spark job per read
KNOWN_COLS = [f.name for f in schemas.FRONTIER.fields]
STATE_COLS = schemas.KNOWN.names
LOG_COLS = ["round", "canonical_url", "kind", "attempts"]  # what _state reads

def _union(dfs: list[DataFrame | None], cols: list[str]) -> DataFrame | None:
    """unionByName of the non-None frames' ``cols``; None if there are none."""
    dfs = [d.select(*cols) for d in dfs if d is not None]
    return reduce(DataFrame.unionByName, dfs) if dfs else None


def _keyed(df: DataFrame) -> DataFrame:
    """(url_hash, canonical_url) of ``df``'s rows: the exact membership
    key (the hash co-partitions cheaply, the URL string makes 64-bit
    collisions unable to drop a distinct new URL at 10^10 scale)."""
    return df.select(url_hash(F.col("canonical_url")).alias("url_hash"), "canonical_url")


def _shuffle_partitions(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


# ---------------------------------------------------------------------------
# Arrow-batched stages (the only Python in the data path — the fetch/decode
# boundary, exactly where real HTTP/codec work would live)
# ---------------------------------------------------------------------------


def make_fetch_stage(cfg: synth.WorldConfig):
    def fetch_batches(it):
        for pdf in it:
            out = {
                "kind": [],
                "out_links": [],
                "caption_raw": [],
                "n_images": [],
                "payload_seed": [],
            }
            for url, attempts in zip(pdf["canonical_url"], pdf["attempts"]):
                fr = synth.fetch(cfg, url, int(attempts))
                out["kind"].append(fr.kind)
                out["out_links"].append(list(fr.out_links) if fr.out_links else None)
                out["caption_raw"].append(fr.caption_raw or None)
                out["n_images"].append(fr.n_images)
                out["payload_seed"].append(fr.payload_seed)
            yield pd.DataFrame(
                {
                    "canonical_url": pdf["canonical_url"],
                    "host": pdf["host"],
                    "host_idx": pdf["host_idx"],
                    "rank": pdf["rank"],
                    "depth": pdf["depth"],
                    "listing_page_no": pdf["listing_page_no"],
                    "card_idx": pdf["card_idx"],
                    "attempts": pdf["attempts"],
                    **out,
                }
            )

    return fetch_batches


def make_image_stage(cfg: synth.WorldConfig, verify_decode: bool = False):
    """detail rows (canonical_url, caption, n_images, payload_seed) →
    input_hint image rows. Decode/encode is numpy inside Arrow batches.
    ``verify_decode`` additionally round-trips every encoded payload and
    asserts the input_hint invariants (lossless bit-exact, lossy PSNR
    ≥ 40 dB) at ingest — the production-shaped decode path."""
    from .operators.images import LOSSLESS, decode, encode, phash64, psnr

    CHUNK = 128  # details per emitted Arrow batch — bounds task memory
    # (a whole 10k-row input batch at 512px payloads would be ~600 MB)

    def image_batches(it):
        for pdf in it:
            for lo in range(0, len(pdf), CHUNK):
                part = pdf.iloc[lo : lo + CHUNK]
                rows = {
                    k: []
                    for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
                }
                for url, uh64, caption, n_img, pseed in zip(
                    part["canonical_url"],
                    part["url_hash"],
                    part["caption"],
                    part["n_images"],
                    part["payload_seed"],
                ):
                    uh = int(uh64) & ((1 << 64) - 1)
                    for idx in range(int(n_img)):
                        img = synth.gen_image(int(pseed), idx, cfg.img_lo, cfg.img_hi, cfg.img_noise)
                        fmt = synth.image_fmt(cfg, url, idx)
                        buf = encode(img, fmt)
                        if verify_decode:
                            out, f2 = decode(buf)
                            ok = f2 == fmt and (
                                np.array_equal(out, img)
                                if fmt in LOSSLESS
                                else psnr(img, out) >= 40.0
                            )
                            if not ok:
                                raise ValueError(f"verify-decode failed: {url} image {idx} ({fmt})")
                        rows["image_id"].append(f"{uh:016x}-{idx}")
                        rows["bytes"].append(buf)
                        rows["w"].append(img.shape[1])
                        rows["h"].append(img.shape[0])
                        rows["fmt"].append(fmt)
                        rows["caption"].append(caption)
                        rows["phash"].append(phash64(img))
                yield pd.DataFrame(rows)

    return image_batches


# ---------------------------------------------------------------------------
# Engine
# ---------------------------------------------------------------------------


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        world: synth.WorldConfig,
        cfg: EngineConfig | None = None,
    ):
        self.spark = spark
        self.store = store
        self.world = world
        self.cfg = cfg or EngineConfig()
        # robots is written once at init (round 0) and never mutated, so
        # its scan plan is memoized across rounds — rebuilding it was
        # pure per-round driver fixed cost
        self._robots: DataFrame | None = None
        from .session import _ship_package

        _ship_package(spark)  # worker-side imports under any session

    # -- initialization ------------------------------------------------

    def init_state(self, seed_rows: list[dict], robots_rows: list[dict]) -> None:
        """Round 0: canonicalize + gate + dedup the seed list into ONE
        bucketed snapshot whose manifest two commit entries share: the
        known base and known delta 0 (a bucket is shared by reference,
        exactly as a compaction's ``inherit`` does), so the seeds are
        stored once."""
        spark = self.spark
        raw = spark.createDataFrame(
            pd.DataFrame(seed_rows)[
                ["url", "host", "depth", "listing_page_no", "card_idx"]
            ]
        )
        robots = spark.createDataFrame(pd.DataFrame(robots_rows), schemas.ROBOTS)
        canon = raw.withColumn("canonical_url", canonicalize_url(F.col("url"))).withColumn(
            "path", path_of(F.col("canonical_url"))
        )
        gated = robots_gate(canon, robots).drop("path", "url")
        types = {f.name: f.dataType.simpleString() for f in schemas.FRONTIER.fields}
        known0 = (
            first_seen_wins(gated)
            .withColumn(
                "host_idx",
                F.regexp_extract("host", r"host-(\d+)", 1).cast("int"),
            )
            .withColumn("attempts", F.lit(0))
            .withColumn("next_round", F.lit(1))
            .select(
                *[F.col(c).cast(types[c]).alias(c) for c in KNOWN_COLS],
                F.lit(False).alias("seen"),
            )
        )
        base0 = self._write_buckets(known0, 0)
        infos = [
            {**base0, "kind": "delta"},
            base0,
            # a few rows per host: one file, not one per core
            self.store.write_snapshot(robots.coalesce(1), "robots", 0),
        ]
        n_known = self.store.footer_rows(base0, 0)
        if n_known >= self.cfg.bloom_min_known:
            infos.append(self._write_bloom(base0, 0))
        self.store.commit_round(
            0,
            infos,
            {"streaks": {}, "halted": [], "n_known": n_known, "n_seen": 0, "dirty_since_base": []},
        )

    # -- derived state ---------------------------------------------------

    def frontier(self, r: int) -> DataFrame:
        """Reconstruct the frontier as of after round ``r``: the crawl
        state (``_state`` of the known base ∪ known deltas since, under
        the fetch_log deltas since) filtered to unseen rows — a round
        commits just fetch_log + known + images."""
        _, base, adds, log = self._since_base(r)
        return self._frontier(base, adds, log)

    def _since_base(
        self, r: int
    ) -> tuple[int, DataFrame, DataFrame | None, DataFrame | None]:
        """(b, known base @b, known deltas since, fetch_log deltas since)
        for the latest known base at or before round ``r``: one read of
        each serves the frontier, the known set and the compaction of a
        round."""
        spark, store = self.spark, self.store
        b = store.latest_snapshot_round("known", r)
        return (
            b,
            store.read_snapshot(spark, "known", b, schemas.KNOWN),
            store.read_deltas(spark, "known", r, b + 1, schemas.KNOWN),
            store.read_deltas(spark, "fetch_log", r, b + 1, schemas.FETCH_LOG),
        )

    def _state(self, rows: DataFrame, log: DataFrame | None) -> DataFrame:
        """Apply fetch_log rows to known rows (``STATE_COLS``): a
        non-captcha fetch sets ``seen``; a captcha fetch at round k sets
        (attempts, next_round) to (attempts + 1, k + 1 + backoff), the
        latest round winning. One per-URL aggregate of the log, one
        join."""
        if log is None:
            return rows
        capt = F.col("kind") == "captcha"
        events = log.groupBy("canonical_url").agg(
            F.max(~capt).alias("__fetched"),
            F.max(
                F.when(
                    capt,
                    F.struct(
                        "round",
                        (F.col("attempts") + 1).alias("attempts"),
                        (
                            F.col("round") + 1 + F.lit(self.world.captcha_backoff_rounds)
                        ).alias("next_round"),
                    ),
                )
            ).alias("__capt"),
        )
        new = {
            "attempts": F.coalesce("__capt.attempts", "attempts"),
            "next_round": F.coalesce("__capt.next_round", "next_round"),
            "seen": F.col("seen") | F.coalesce("__fetched", F.lit(False)),
        }
        return rows.join(events, "canonical_url", "left").select(
            *[new.get(c, F.col(c)).alias(c) for c in STATE_COLS]
        )

    def _frontier(
        self, base: DataFrame, adds: DataFrame | None, log: DataFrame | None
    ) -> DataFrame:
        # seen never reverts, so the base's seen rows skip the log join
        unseen = base.filter(~F.col("seen"))
        state = self._state(_union([unseen, adds], STATE_COLS), log)
        return state.filter(~F.col("seen")).select(*KNOWN_COLS)

    def known(self, r: int) -> DataFrame:
        """The crawl state after round ``r``: every admitted URL with its
        seen flag and captcha state, read as the latest known base ∪ the
        deltas since (bounded union-on-read — the round-3 verdict's item
        5: unioning EVERY delta since round 0 lists 10^4 dirs per round
        at 10^4 rounds)."""
        _, base, adds, log = self._since_base(r)
        return self._state(_union([base, adds], STATE_COLS), log)

    def _bucket(self, col) -> F.Column:
        """Base bucket of a url_hash column (pmod keeps negative xxhash64
        values in range)."""
        return F.pmod(col, F.lit(self.cfg.buckets)).cast("int")

    def _write_buckets(
        self,
        rows: DataFrame,
        r: int,
        prev: dict | None = None,
        dirty: list[int] | None = None,
    ) -> dict:
        """Write ``rows`` — the FULL current rows of the ``dirty`` buckets,
        every bucket when None (round 0) — as round ``r``'s known base,
        url_hash-sorted within each bucket (rowgroup range stats); every
        other bucket of ``prev``'s manifest carries forward by
        reference."""
        # hash-partitioning by bucket keeps each bucket in ONE task, so
        # one file per bucket; capping the tasks at the session's shuffle
        # parallelism avoids paying the per-task fixed cost once per
        # bucket (the round-0 write covers every bucket)
        n_tasks = min(
            self.cfg.buckets if dirty is None else len(dirty),
            _shuffle_partitions(self.spark),
        )
        out = (
            rows.withColumn("__h", url_hash(F.col("canonical_url")))
            .withColumn(BUCKET, self._bucket(F.col("__h")))
            .repartition(n_tasks, BUCKET)
            .sortWithinPartitions(BUCKET, "__h")
            .drop("__h")
        )
        return self.store.write_bucketed_snapshot(out, "known", r, prev, dirty)

    def _write_bloom(
        self, base: dict, r: int, dirty: list[int] | None = None, prev: dict | None = None
    ) -> dict:
        """Round ``r``'s bloom snapshot: the seen-filter of the known base
        ``base`` just written. One shard per bucket written (``dirty``;
        every bucket when None), built from that bucket's rows read back
        from its files; every other shard carries forward by reference
        from ``prev``, the previous base's bloom."""
        rows = self.store.read_info(self.spark, base, r, schemas.KNOWN, dirty)
        shards = bloom.build_shards(_keyed(rows), self.cfg.buckets)
        return self.store.write_bucketed_snapshot(
            shards.withColumn(BUCKET, F.col("shard_id")), "bloom", r, prev, dirty
        )

    def _known_membership_pruned(self, b: int, buckets: list[int]) -> DataFrame | None:
        """(url_hash, canonical_url) membership rows of the given url_hash
        buckets of the bucketed known base @``b``: a manifest-pruned read
        (only those buckets' parquet dirs are even listed), so I/O is ∝
        candidate buckets — never ∝ |known|."""
        sub = self.store.read_snapshot_buckets(self.spark, "known", b, buckets, schemas.KNOWN)
        return None if sub is None else _keyed(sub)

    def _bucket_pruned_backstop(
        self, b: int, links: DataFrame, shards: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """Exact not-in-base-@``b`` gate for links, through ``shards``
        (bloom@``b``) in the 100×-scale shape: the bloom passes the
        definitely-new majority through untouched; the maybe-seen
        minority's url_hash buckets are collected (≤ buckets ints) and
        ONLY those buckets of base @``b`` are read. The exact check then
        runs as two broadcast joins of the SMALL candidate set against
        the pruned scan — the known side is never shuffled (no Exchange;
        asserted by test_known_buckets) and never read in full.

        Returns (gated_links, cache_handle) — caller unpersists the
        handle once the round's downstream caches are materialized."""
        spark, cfg = self.spark, self.cfg
        probed = bloom.probe(spark, links, shards, n_shards=cfg.buckets).cache()
        fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        row = (
            maybe.select(self._bucket(F.col("url_hash")).alias("__b"))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("__b").alias("bs"))
            .first()
        )
        n_maybe, buckets = int(row["n"]), sorted(int(x) for x in row["bs"])
        if not buckets:
            return fresh, probed
        known_sub = self._known_membership_pruned(b, buckets)
        if known_sub is None:
            # a shard exists only for a base bucket with rows
            raise ValueError(
                f"{self.store.root}: bloom@{b} has shards for buckets {buckets}"
                f" that known@{b} has no rows in"
            )
        keys = ["url_hash", "canonical_url"]
        if n_maybe > BACKSTOP_BROADCAST_MAX:
            # candidate flood (revisit-heavy round): a broadcast this big
            # would pressure the driver — shuffle the candidates instead;
            # the known side is STILL only the pruned candidate buckets
            gated = fresh.unionByName(maybe.join(known_sub, keys, "left_anti"))
            return gated, probed
        hits = known_sub.join(F.broadcast(maybe.select(*keys)), keys, "left_semi")
        gated = fresh.unionByName(
            maybe.join(F.broadcast(hits), keys, "left_anti")
        )
        return gated, probed

    def seen(self, r: int) -> DataFrame:
        """Derived view: URL-seen membership = non-captcha fetch_log rows."""
        log = self.store.read_deltas(self.spark, "fetch_log", r, schema=schemas.FETCH_LOG)
        if log is None:
            return self.spark.createDataFrame([], schemas.SEEN)
        return log.filter(F.col("kind") != "captcha").select(
            "canonical_url",
            url_hash(F.col("canonical_url")).alias("url_hash"),
            F.col("round").alias("first_seen_round"),
        )

    def fetch_log(self, up_to_round: int) -> DataFrame:
        df = self.store.read_deltas(
            self.spark, "fetch_log", up_to_round, schema=schemas.FETCH_LOG
        )
        return df if df is not None else self.spark.createDataFrame([], schemas.FETCH_LOG)

    def images(self, up_to_round: int) -> DataFrame:
        df = self.store.read_deltas(self.spark, "images", up_to_round, schema=schemas.IMAGES)
        return df if df is not None else self.spark.createDataFrame([], schemas.IMAGES)

    def _images_of(self, fetched: DataFrame) -> DataFrame:
        """Image rows (``schemas.IMAGES``) of the detail pages among
        ``fetched`` (``schemas.FETCHED``) rows: caption cleaned by native
        exprs, payloads generated/encoded by the Arrow image stage."""
        return (
            fetched.filter(F.col("kind") == "detail")
            .select(
                "canonical_url",
                url_hash(F.col("canonical_url")).alias("url_hash"),
                clean_caption(F.col("caption_raw")).alias("caption"),
                "n_images",
                "payload_seed",
            )
            .mapInPandas(
                make_image_stage(self.world, self.cfg.verify_decode), schemas.IMAGES
            )
        )

    # -- one round -------------------------------------------------------

    def run_round(self, r: int) -> dict:
        t0 = time.perf_counter()
        timings: dict[str, float] = {}

        def mark(phase: str) -> None:
            nonlocal t0
            now = time.perf_counter()
            timings[phase] = round(now - t0, 3)
            t0 = now

        spark, store, world, cfg = self.spark, self.store, self.world, self.cfg
        last_metrics = store.commits()[-1]["metrics"]
        streaks: dict[str, int] = dict(last_metrics["streaks"])
        halted: set[str] = set(last_metrics["halted"])
        n_known_prev = last_metrics["n_known"]
        n_seen_prev = last_metrics["n_seen"]

        if self._robots is None:
            self._robots = store.read_snapshot(spark, "robots", 0, schemas.ROBOTS)
        robots = self._robots
        budgets = with_budgets(robots, world.round_seconds)

        b, base, adds, log_since = self._since_base(r - 1)
        frontier = self._frontier(base, adds, log_since)
        eligible = frontier.filter(F.col("next_round") <= r)
        if halted:
            eligible = eligible.filter(~F.col("host").isin(sorted(halted)))

        hint = max(0, n_known_prev - n_seen_prev)
        sel = select_round(eligible, budgets, cfg.salt_threshold, hint)
        fetched = (
            sel.repartition(_shuffle_partitions(spark), "canonical_url")
            .mapInPandas(make_fetch_stage(world), schemas.FETCHED)
            .cache()
        )
        # discovered links: canonicalize → robots → anti-join vs known
        # (seen ⊆ known, so one gate suffices) → first-seen-wins
        links = (
            fetched.filter(F.col("kind") == "listing")
            .select(
                "host",
                "host_idx",
                "depth",
                "listing_page_no",
                F.posexplode("out_links").alias("card_idx", "dirty_url"),
            )
            .withColumn("canonical_url", canonicalize_url(F.col("dirty_url")))
            .withColumn("path", path_of(F.col("canonical_url")))
        )
        links = robots_gate(links, robots).drop("path", "dirty_url")
        links = links.withColumn("url_hash", url_hash(F.col("canonical_url")))
        keys = ["url_hash", "canonical_url"]
        bloom_info, probe_cache = store.snapshot_info("bloom", b), None
        if bloom_info is None:
            # base b has no shards (small-known regime): one exact
            # anti-join against base ∪ deltas is cheapest
            known = _union([base, adds], ["canonical_url"])
            links = links.join(_keyed(known), keys, "left_anti")
        else:
            # exact against the deltas since b, then base b through its
            # bloom and the bucket-pruned backstop
            if adds is not None:
                links = links.join(_keyed(adds), keys, "left_anti")
            shards = store.read_info(spark, bloom_info, b, bloom.BLOOM_SCHEMA)
            links, probe_cache = self._bucket_pruned_backstop(b, links, shards)
        links = links.drop("url_hash")
        new_entries = (
            first_seen_wins(links)
            .select(
                "canonical_url",
                "host",
                "host_idx",
                (F.col("depth") + 1).cast("int").alias("depth"),
                "listing_page_no",
                "card_idx",
                F.lit(0).alias("attempts"),
                F.lit(r + 1).alias("next_round"),
                F.lit(False).alias("seen"),
            )
            .cache()
        )
        mark("plan_build")

        # ONE driver-side accounting job: fetch counts per (host, kind)
        # unioned with new-frontier counts per host, each with the base
        # buckets its URLs hash into (what a compaction must rewrite) —
        # materializes both caches as a side effect
        counts = [
            F.count(F.lit(1)).alias("count"),
            F.collect_set(self._bucket(url_hash(F.col("canonical_url")))).alias("buckets"),
        ]
        stats = (
            fetched.groupBy("host", "kind")
            .agg(*counts)
            .unionByName(
                new_entries.groupBy("host")
                .agg(*counts)
                .withColumn("kind", F.lit("__new__"))
                .select("host", "kind", "count", "buckets")
            )
            .collect()
        )
        # the base buckets changed since base b, this round's included
        touched = {int(x) for row in stats for x in row["buckets"]}
        dirty_since = sorted(touched.union(last_metrics["dirty_since_base"]))
        mark("fetch_and_links_exec")
        if probe_cache is not None:
            # new_entries' cache is materialized by the stats job above,
            # so the probe-stage cache has served both its consumers
            probe_cache.unpersist()
        kind_host = [row for row in stats if row["kind"] != "__new__"]
        new_per_host = {
            row["host"]: row["count"] for row in stats if row["kind"] == "__new__"
        }
        n_selected = sum(row["count"] for row in kind_host)
        n_captcha = sum(row["count"] for row in kind_host if row["kind"] == "captcha")
        n_listing_by_host: dict[str, int] = {}
        for row in kind_host:
            if row["kind"] == "listing":
                n_listing_by_host[row["host"]] = (
                    n_listing_by_host.get(row["host"], 0) + row["count"]
                )

        images = self._images_of(fetched)
        log = fetched.select(
            F.lit(r).alias("round"),
            "host",
            "host_idx",
            "rank",
            "canonical_url",
            "kind",
            "attempts",
            F.spark_partition_id().alias("partition_id"),
        )

        # -- streak / halt accounting (reference 3-empty-pages rule) -------
        for host, n_listing in n_listing_by_host.items():
            if n_listing > 0:
                streaks[host] = 0 if new_per_host.get(host, 0) > 0 else streaks.get(host, 0) + 1
                if streaks[host] >= world.empty_streak_halt:
                    halted.add(host)

        # -- append-only commits (skip writes that would be empty — the
        # counts are already known driver-side, and read_deltas tolerates
        # missing rounds, so every skipped write is a whole Spark job saved)
        n_detail = sum(
            row["count"] for row in kind_host if row["kind"] == "detail"
        )
        # r07 (guide §2.6): the three delta writes are independent jobs
        # over already-materialized caches (fetched / new_entries) and
        # distinct output dirs — submit them concurrently so the small
        # fetch_log/known writes ride the image job's ramp-up and tail
        # instead of serializing after it. infos keeps the historical
        # [fetch_log, known, images] commit order. If one write
        # fails, the pool still waits for its siblings and result() then
        # re-raises before commit_round: the finished sibling dirs are
        # never listed in _commits.json, so readers ignore them, and the
        # retried round overwrites them (write mode "overwrite") — the
        # same at-most-once commit that makes a crash mid-round safe.
        # The writes may run concurrently only because they share the
        # store's one parquet format: parquet-mr's default values-writer
        # factory is a JVM-wide singleton that each new file writer
        # re-initializes with its own properties, so writers with
        # different option sets pick up each other's dictionary settings
        # (storage/snapshots.py module docstring).
        jobs: list[tuple[str, object]] = [
            ("fetch_log", lambda: store.write_delta(log, "fetch_log", r))
        ]
        if sum(new_per_host.values()) > 0:
            jobs.append(("known", lambda: store.write_delta(new_entries, "known", r)))
        if n_detail > 0:
            jobs.append(("images", lambda: store.write_delta(images, "images", r)))
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futs = {name: pool.submit(fn) for name, fn in jobs}
        done_infos = {name: f.result() for name, f in futs.items()}
        infos = list(done_infos.values())
        mark("delta_writes")

        n_new = sum(new_per_host.values())
        n_known = n_known_prev + n_new

        n_dirty = None  # known-base buckets rewritten (compaction rounds only)
        if r % cfg.compact_every == 0:
            # The base is INCREMENTAL: every state change since base b
            # flows through the known deltas (admissions) and fetch_log
            # (seen flags, captcha overrides), so the buckets that changed
            # are exactly those some admitted or fetched URL hashes into —
            # ``dirty_since``, the previous commit's set plus this round's.
            # Every such URL is known, so no dirty bucket is empty. Round
            # r's rows are read back from the dirs just written, so the
            # plan is over files, not over the round's lineage. Rewrite
            # volume ∝ dirty-bucket rows, not |known|; known() still reads
            # O(compact_every) dirs via the manifest. A base of at least
            # bloom_min_known rows gets the written buckets' bloom shards
            # (every bucket's, when base b has none).
            prev = store.snapshot_info("known", b)
            with_bloom = n_known >= cfg.bloom_min_known
            dirty = None if with_bloom and bloom_info is None else dirty_since
            scan = range(cfg.buckets) if dirty is None else dirty
            n_dirty = len(scan)
            if scan:
                new_known = (
                    store.read_info(spark, done_infos["known"], r, schemas.KNOWN)
                    if "known" in done_infos
                    else None
                )
                rows = _union(
                    [
                        store.read_snapshot_buckets(spark, "known", b, scan, schemas.KNOWN),
                        adds,
                        new_known,
                    ],
                    STATE_COLS,
                )
                new_log = store.read_info(spark, done_infos["fetch_log"], r, schemas.FETCH_LOG)
                log_all = _union([log_since, new_log], LOG_COLS)
                base_r = self._write_buckets(self._state(rows, log_all), r, prev, dirty)
                infos.append(base_r)
                if with_bloom:
                    infos.append(self._write_bloom(base_r, r, dirty, bloom_info))
            else:  # a quiet interval re-commits the old manifests
                infos.extend(dict(i) for i in (prev, bloom_info) if i is not None)
            dirty_since = []  # round r is the new base
            mark("compaction")

        metrics = {
            "streaks": streaks,
            "halted": sorted(halted),
            "n_selected": n_selected,
            "n_new_known": n_new,
            "n_known": n_known,
            "n_seen": n_seen_prev + (n_selected - n_captcha),
            "per_host_fetched": {
                h: sum(row["count"] for row in kind_host if row["host"] == h)
                for h in {row["host"] for row in kind_host}
            },
            "dirty_since_base": dirty_since,
            "timings": timings,
            **({} if bloom_info is None else {"bloom_base": b}),
            **({} if n_dirty is None else {"known_dirty_buckets": n_dirty}),
        }
        store.commit_round(r, infos, metrics)
        fetched.unpersist()
        new_entries.unpersist()
        return metrics

    # -- backfill (SURVEY J8: the reference's fix_older_table,
    # ads_table_generator.py:21-107 — re-crawl rows with missing data and
    # merge, here as detect-missing → refetch stage → append delta) -------

    def backfill_images(self, up_to_round: int) -> dict:
        """Regenerate image rows for every fetched detail page that has
        none in the images table; committed as a new round. When no page
        lacks images, nothing is written or committed and ``round`` is
        the last committed one."""
        spark = self.spark
        details = self.fetch_log(up_to_round).filter(F.col("kind") == "detail")
        present = (
            self.images(up_to_round)
            .select(F.substring("image_id", 1, 16).alias("h16"))
            .distinct()
        )
        h16 = F.lpad(F.lower(F.hex(url_hash(F.col("canonical_url")))), 16, "0")
        missing = (
            details.withColumn("h16", h16)
            .join(present, "h16", "left_anti")
            .select(
                "canonical_url",
                "host",
                "host_idx",
                "rank",
                # positional metadata isn't logged; irrelevant to a refetch
                F.lit(0).alias("depth"),
                F.lit(0).alias("listing_page_no"),
                F.lit(0).alias("card_idx"),
                "attempts",
            )
        )
        if missing.isEmpty():
            return {"round": self.store.last_round(), "n_backfilled_images": 0}
        refetched = missing.repartition(
            _shuffle_partitions(spark),
            "canonical_url",
        ).mapInPandas(make_fetch_stage(self.world), schemas.FETCHED)
        images = self._images_of(refetched)
        r = self.store.last_round() + 1
        infos = [self.store.write_delta(images, "images", r)]
        prev = self.store.commits()[-1]["metrics"]
        n = self.store.footer_rows(infos[0], r)
        # images only: the round carries the previous round's crawl state
        carried = ("streaks", "halted", "n_known", "n_seen", "dirty_since_base")
        self.store.commit_round(
            r, infos, {**{k: prev[k] for k in carried}, "backfill": True, "n_backfilled_images": n}
        )
        return {"round": r, "n_backfilled_images": n}

    # -- loop --------------------------------------------------------------

    def run(self, n_rounds: int) -> list[dict]:
        """Run rounds, resuming after the last committed round."""
        last = self.store.last_round()
        if last is None:
            raise ValueError(f"{self.store.root}: no round committed; run init_state first")
        start = last + 1
        out = []
        for r in range(start, n_rounds + 1):
            out.append(self.run_round(r))
        return out
