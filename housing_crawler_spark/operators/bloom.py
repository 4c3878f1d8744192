"""Sharded bloom filter over the URL-seen set.

PySpark doesn't expose ``DataFrameStatFunctions.bloomFilter`` objects we
could ship around, so the engine builds its own shards as plain rows
``(shard_id, n_bits, bitset)`` — one shard per
``pmod(url_hash, n_shards)`` bucket — via ``applyInPandas``
(Arrow-batched numpy bit twiddling, no per-row Python).

Scale design (docs/SCALE_DESIGN.md): at 10^10 URLs the bloom is ~12.5 GB
of bits across shards, far too big to collect or broadcast. ``probe``
therefore CO-PARTITIONS: candidates shuffle once by
``pmod(url_hash, n_shards)`` and cogroup with the shard rows, so each
task touches exactly one shard's bitset (~12 MB) and nothing ever
passes through the driver. A ``SUB_SPLITS`` fan-out key keeps task
parallelism above the shard count without duplicating work (each
(shard, sub) task still reads one bitset).

The shard count is EXPLICIT: the caller passes it to ``build_shards``
and the same count to ``probe``. Inferring it from ``max(shard_id)+1``
would misroute every probe whenever the highest buckets happen to be
empty — silently voiding the zero-false-negative guarantee
(test_bloom.py pins this). Each shard sizes itself from its own key
count: ``BITS_PER_KEY`` bits per key rounded up to a whole byte, at
least ``MIN_BITS``, recorded in the shard row the probe reads. Every
shard uses ``N_HASHES`` probes; changing it changes what a stored
bitset means, so it is part of the store layout
(``storage.snapshots.LAYOUT_VERSION``).

The engine keys its shards by the known base's bucket modulus and
builds them with the base: whenever a compaction writes known buckets
it rebuilds exactly those buckets' shards from the rows just written,
and every clean shard carries forward by manifest reference — the
bloom is an index of one known base, never maintained between bases.

The exact ``left_anti`` join against the known set remains the
correctness backstop (the engine's bucket-pruned one, ``crawl.py``),
keyed on the canonical URL itself (not just its 64-bit hash — at 10^10
URLs, xxhash64 birthday collisions ~n²/2^65 would otherwise silently
drop a handful of distinct new URLs). The bloom is *only* a
work-pruning pre-filter: zero false negatives by construction, false
positives just cost extra join work.

Double hashing (Kirsch-Mitzenmacher, public result): bit_i =
(h1 + i*h2) mod m with h1 = url_hash, h2 = odd mix of h1 — k probes
from one stored 64-bit key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = "shard_id int, n_bits long, bitset binary"
N_HASHES = 4
BITS_PER_KEY = 10  # ~1% false positives at N_HASHES
MIN_BITS = 1 << 12
SUB_SPLITS = 4  # probe tasks per shard


def _positions(hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """(n, N_HASHES) bit positions from int64 url hashes (vectorized)."""
    h1 = hashes.astype(np.uint64)
    h2 = ((h1 >> np.uint64(33)) ^ h1) * np.uint64(0xFF51AFD7ED558CCD) | np.uint64(1)
    i = np.arange(N_HASHES, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(n_bits)).astype(np.int64)


def build_shards(seen: DataFrame, n_shards: int) -> DataFrame:
    """seen(url_hash long) → one bitset row per non-empty shard, each
    ``BITS_PER_KEY`` bits per key rounded up to a multiple of 8 (at least
    ``MIN_BITS``)."""

    def one_shard(key, pdf: pd.DataFrame):
        n_bits = max(MIN_BITS, -(-BITS_PER_KEY * len(pdf) // 8) * 8)
        arr = np.zeros(n_bits // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash"].to_numpy(np.int64), n_bits)
        np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"shard_id": [int(key[0])], "n_bits": [n_bits], "bitset": [arr.tobytes()]}
        )

    keyed = seen.withColumn("shard_id", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))
    return keyed.groupBy("shard_id").applyInPandas(one_shard, BLOOM_SCHEMA)


def probe(
    spark: SparkSession,
    candidates: DataFrame,
    shards: DataFrame,
    n_shards: int,
) -> DataFrame:
    """Add ``maybe_seen`` to candidates. False ⇒ definitely not in seen.

    Distributed, co-partitioned: candidates shuffle once by shard id and
    cogroup with the shard rows — no driver collect, no broadcast of the
    shard table; each task touches only its own shard's bitset.

    ``n_shards`` MUST equal the build-time shard count — it is never
    inferred from which shard ids happen to be present."""
    sid = F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
    sub = F.pmod(F.shiftrightunsigned(F.col("url_hash"), 13), F.lit(SUB_SPLITS)).cast("int")
    cand = candidates.withColumn("__sid", sid).withColumn("__sub", sub)
    subs = spark.range(SUB_SPLITS).select(F.col("id").cast("int").alias("__sub"))
    sh = shards.select("shard_id", "n_bits", "bitset").crossJoin(F.broadcast(subs))

    out_fields = list(candidates.schema.fields) + [
        T.StructField("maybe_seen", T.BooleanType(), False)
    ]
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def probe_group(key, cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame):
        res = cand_pdf.drop(columns=["__sid", "__sub"])
        if shard_pdf.empty:
            # no shard row ⇒ the build saw no keys in this bucket ⇒
            # definitely new (empty buckets emit no row by design)
            return res.assign(maybe_seen=False)[out_cols]
        arr = np.frombuffer(shard_pdf["bitset"].iloc[0], np.uint8)
        n_bits = int(shard_pdf["n_bits"].iloc[0])
        pos = _positions(res["url_hash"].to_numpy(np.int64), n_bits)
        bits = (arr[pos >> 3] >> (pos & 7)) & 1
        return res.assign(maybe_seen=bits.all(axis=1))[out_cols]

    return (
        cand.groupBy("__sid", "__sub")
        .cogroup(sh.groupBy("shard_id", "__sub"))
        .applyInPandas(probe_group, out_schema)
    )

