"""Incremental cross-round corpus near-dedup over bucketed snapshot
state — the Manku/Jain/Sarma design (WWW 2007, "Detecting
Near-Duplicates for Web Crawling"): a 60-bit SimHash per document,
banded into 4×15-bit tables for candidate lookup, with an exact
Hamming-distance confirm. State is 8 bytes per (doc, band) — no gram
arrays — so it stays compact at corpus scale.

The d1-d7 dedup family is batch: it answers "which of THESE docs
duplicate each other". A crawl emits documents round by round, and
re-running batch dedup over the whole corpus every round is the
O(|known|)-rewrite mistake the crawl engine's known set already
solved. This operator generalizes that machinery:

- **state** = an append-only table (band_k, band_val, simhash, rep,
  bucket) of every ingested doc's 4 simhash bands, hash-bucketed by
  band key and persisted via ``SnapshotStore.write_bucketed_snapshot``
  — each round rewrites only dirty buckets; untouched buckets carry
  forward by manifest reference (the Iceberg shape, same as the
  crawl's known set).
- **probe** = the new round's band table is collected to its distinct
  bucket ids (≤ n_buckets ints driver-side), ONLY those buckets of the
  state are read (manifest-pruned I/O ∝ candidate buckets, not
  |state|), and the round-bounded band table is broadcast into the
  join so the state side is never shuffled — the
  ``_bucket_pruned_backstop`` idiom from crawl.py, with the same
  row-count guard falling back to a shuffle join on candidate floods.
  Band equality nominates; ``bit_count(xor) <= tau`` confirms.
- **within-round transitivity** = same-round docs that band-match AND
  pass the Hamming confirm are edges, closed with ``star_components``
  (O(log n) supersteps). The component then takes the minimum over its
  members' matched state reps and its own min doc id.

Why SimHash and not MinHash bands alone: band collision is a
CANDIDATE signal, not a verdict — char-3-gram MinHash bands over
same-language text collide massively (the shared-trigram floor of
English pushes fixed-permutation signature matches far above pairwise
Jaccard), and without a confirm the corpus collapses into one
component (measured: 542 of 550 sf0.001 docs merged). The batch
pipelines confirm with exact Jaccard over gram arrays (d7/j10); an
incremental state cannot afford gram arrays, and SimHash+Hamming is
the published compact answer.

Assignment semantics (deterministic, order-free within a round,
first-seen-wins across rounds):
  rep(doc) = min state rep any member of doc's round-component
             confirms against, if any — else the component's min
             doc id (a new representative)
Every ingested doc's bands are appended to state pointing at its
resolved rep (a later doc matching ANY earlier near-dup — rep or
not — resolves to the same representative). Probes take min(rep) over
confirmed rows, so duplicate band keys in state are harmless. Reps
are immutable once assigned; doc ids must be unique across rounds
(caller contract). Docs whose text yields no tokens have no sketch
and are out of scope.

Within-round candidate enumeration is all-pairs per band bucket; a
template-heavy production corpus needs the m2/m3 bucket-cap
star-fallback in front (same shape, queries_ml2._banded_hamming).

Correctness evidence: ``tests/test_incdedup.py`` replays the same
sketches through a pure-Python union-find twin (the simulator pattern
used for the crawl engine), and ``d11_incremental_dedup``
(queries_ml6.py) unrolls the full 3-round semantics into a recursive-
CTE DuckDB oracle for the driver gate.

Reference parity: none — the reference (chvieira2/housing_crawler)
has no dedup; this exists for the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries_ml import md5int, tokens
from ..storage.snapshots import BUCKET, SnapshotStore
from .graph import star_components

_TABLE = "dedup_bands"
SIM_BITS = 60  # md5int token hashes are 60-bit, so bits 60+ never vote
BAND_BITS = 15
N_BANDS = 4
TAU = 6  # Hamming confirm threshold (exact copies hash identically)
# band rows above which the probe falls back from broadcasting the
# round's band table to a shuffle join (still over pruned buckets)
BROADCAST_MAX = 2_000_000
# the rows of the state table, passed to every state read: an inferred
# schema costs a one-task footer job per read
STATE_SCHEMA = "band_k int, band_val long, simhash long, rep long"


def sketch_table(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit token-level SimHash (d4's scheme
    widened): one explode, one groupBy with 60 signed bit votes.
    Exposed so the twin test replays the exact sketches the engine
    saw."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    th = tok.select("doc_id", md5int(F.col("tok")).alias("th"))
    votes = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("th").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIM_BITS)
        ]
    )
    sim = None
    for j in range(SIM_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.cast("long").alias("simhash"))


def band_col(simhash: F.Column, k: int, band_bits: int = BAND_BITS) -> F.Column:
    """``band_bits``-wide band k of a simhash. ``shiftrightunsigned``
    then mask is a pure bit-field read, so it agrees with DuckDB's
    arithmetic ``>>`` + mask for every band that fits in 64 bits —
    including bit 63 of a possibly-negative 64-bit phash (after the
    mask, only the field's own bits survive either shift)."""
    return F.shiftrightunsigned(simhash, k * band_bits).bitwiseAND(
        F.lit((1 << band_bits) - 1)
    )


class IncrementalDeduper:
    """Cross-round near-dedup state machine over a ``SnapshotStore``.

    One instance per store; call :meth:`ingest` once per round with
    that round's new documents (doc_id long, text string), or
    :meth:`ingest_sketches` with precomputed (doc_id, simhash) rows —
    the image/audio path, where the sketch is a 64-bit perceptual hash
    from the Arrow codec stage rather than a token SimHash. Returns the
    round's assignments (doc_id, rep_id, is_new_rep).

    Sketch geometry (``sim_bits``/``band_bits``/``n_bands``/``tau``)
    defaults to the 60-bit text scheme; pass 64/16/4 + a Hamming
    threshold for phash64 state.
    """

    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        n_buckets: int = 16,
        band_bits: int = BAND_BITS,
        n_bands: int = N_BANDS,
        tau: int = TAU,
        table: str = _TABLE,
    ):
        self.spark = spark
        self.store = store
        self.n_buckets = n_buckets
        self.band_bits = band_bits
        self.n_bands = n_bands
        self.tau = tau
        self.table = table
        self._last_round = store.latest_snapshot_round(table, store.last_round() or 0)

    def _bucket(self, band_k: F.Column, band_val: F.Column) -> F.Column:
        return F.pmod(
            band_val * self.n_bands + band_k, F.lit(self.n_buckets)
        ).cast("int")

    def _state_sub(self, buckets: list[int]) -> DataFrame | None:
        """Bucket-pruned read of the latest state snapshot."""
        if self._last_round is None:
            return None
        return self.store.read_snapshot_buckets(
            self.spark, self.table, self._last_round, buckets, STATE_SCHEMA
        )

    def ingest(self, rnd: int, docs: DataFrame) -> DataFrame:
        """Process one round of new documents; persists updated state
        as round ``rnd`` and returns (doc_id, rep_id, is_new_rep)."""
        shuffle = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        return self.ingest_sketches(
            rnd, sketch_table(docs.repartition(shuffle, "doc_id"))
        )

    def ingest_sketches(self, rnd: int, sketches: DataFrame) -> DataFrame:
        """Same round-ingest over precomputed (doc_id, simhash) rows."""
        spark, store = self.spark, self.store
        sketch = sketches.select("doc_id", "simhash").cache()
        bands = sketch.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("band_k"),
                            band_col(
                                F.col("simhash"), k, self.band_bits
                            ).alias("band_val"),
                        )
                        for k in range(self.n_bands)
                    ]
                )
            ).alias("bk"),
        ).select(
            "doc_id",
            "simhash",
            F.col("bk.band_k").alias("band_k"),
            F.col("bk.band_val").alias("band_val"),
        )
        bands = bands.withColumn(
            "bucket", self._bucket(F.col("band_k"), F.col("band_val"))
        ).cache()
        # one driver-side job: candidate volume + the candidate buckets
        # (≤ n_buckets ints — the crawl backstop's accounting pattern)
        row = (
            bands.groupBy()
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("bucket").alias("bs"))
            .first()
        )
        n_bands_rows, buckets = int(row["n"]), sorted(int(b) for b in row["bs"])

        ham = F.bit_count(F.col("simhash").bitwiseXOR(F.col("sh2")))
        tau = self.tau
        state_sub = self._state_sub(buckets) if buckets else None
        if state_sub is None:
            matched = None
        else:
            probe = bands.select("doc_id", "simhash", "band_k", "band_val")
            st = state_sub.select(
                "band_k",
                "band_val",
                F.col("simhash").alias("sh2"),
                "rep",
            )
            if n_bands_rows <= BROADCAST_MAX:
                # round-bounded probe side broadcasts; the state side is
                # never shuffled (asserted by test_incdedup)
                hits = st.join(F.broadcast(probe), ["band_k", "band_val"])
            else:
                # candidate flood: fall back to the shuffle join — the
                # state side is STILL only the pruned candidate buckets
                hits = st.join(probe, ["band_k", "band_val"])
            matched = (
                hits.filter(ham <= tau)
                .groupBy("doc_id")
                .agg(F.min("rep").alias("mrep"))
            )

        # within-round transitivity: band-nominated, Hamming-confirmed
        # edges, then O(log n) component closure
        a = bands.select("doc_id", "simhash", "band_k", "band_val")
        b = bands.select(
            F.col("doc_id").alias("doc2"),
            F.col("simhash").alias("sh2"),
            "band_k",
            "band_val",
        )
        edges = (
            a.join(b, ["band_k", "band_val"])
            .filter((F.col("doc_id") > F.col("doc2")) & (ham <= tau))
            .select(F.col("doc_id").alias("hi"), F.col("doc2").alias("lo"))
            .distinct()
        )
        ids = sketch.select("doc_id")
        if edges.isEmpty():
            comp = ids.withColumn("component", F.col("doc_id"))
        else:
            comp = ids.join(
                star_components(edges, a="hi", b="lo").withColumnRenamed(
                    "node", "doc_id"
                ),
                "doc_id",
                "left",
            ).withColumn("component", F.coalesce("component", "doc_id"))
        if matched is not None:
            comp = comp.join(matched, "doc_id", "left")
        else:
            comp = comp.withColumn("mrep", F.lit(None).cast("long"))
        # first-seen wins: a component that confirms against ANY state
        # rep joins that (earliest) cluster — even when its own min doc
        # id is numerically smaller than the rep (ids don't order time
        # across rounds). Only an unmatched component founds a new rep.
        rep_tbl = comp.groupBy("component").agg(
            F.coalesce(F.min("mrep"), F.min("component")).alias("rep_id")
        )
        assign = (
            comp.join(rep_tbl, "component")
            .select(
                "doc_id",
                "rep_id",
                (F.col("rep_id") == F.col("doc_id")).alias("is_new_rep"),
            )
            .cache()
        )
        # materialize before the state write reuses bands; the count is
        # also the round metric (one job, not two)
        n_assigned = assign.count()

        # append this round's bands (pointing at resolved reps) into the
        # dirty buckets only; clean buckets carry forward by reference. A
        # round with no band rows changes no bucket: it commits no state
        # entry, and the latest state stays the previous round's
        new_rows = bands.join(assign.select("doc_id", "rep_id"), "doc_id").select(
            "band_k",
            "band_val",
            "simhash",
            F.col("rep_id").alias("rep"),
            "bucket",
        )
        infos = []
        if buckets:
            prev_info = store.snapshot_info(self.table, self._last_round)
            # bucket-dir reads don't carry the partition column (it lives
            # in the dir name — same as the crawl's known-set reads, which
            # re-derive it); recompute from the band key
            old_dirty = self._state_sub(buckets)
            df_dirty = (
                new_rows
                if old_dirty is None
                else old_dirty.select(
                    "band_k",
                    "band_val",
                    "simhash",
                    "rep",
                    self._bucket(F.col("band_k"), F.col("band_val")).alias("bucket"),
                ).unionByName(new_rows)
            )
            infos.append(
                store.write_bucketed_snapshot(
                    df_dirty.withColumnRenamed("bucket", BUCKET),
                    self.table,
                    rnd,
                    inherit=prev_info,
                    dirty=buckets,
                )
            )
        store.commit_round(
            rnd,
            infos,
            {"n_docs_sketched": n_assigned, "n_band_rows": n_bands_rows},
        )
        self._last_round = store.latest_snapshot_round(self.table, rnd)
        bands.unpersist()
        sketch.unpersist()
        return assign
