"""Bloom shards: zero false negatives (hard guarantee), measured FP rate,
explicit shard count (empty top shards must not change the probe
modulus), per-shard sizing from the shard's own key count, and no
driver collect of the shard table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from housing_crawler_spark.operators import bloom


def test_probe_empty_top_shards_explicit_modulus(spark):
    """Regression: keys occupying only LOW shard ids must still probe
    with the BUILD-time modulus. Inferring n_shards = max(shard_id)+1
    from the rows present would misroute every hash and produce false
    negatives — voiding the zero-FN guarantee."""
    n_shards = 8
    base = spark.range(0, 60_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    # keep only keys whose shard id < 5 → shards 5,6,7 emit no row
    low = base.filter(F.pmod(F.col("url_hash"), F.lit(n_shards)) < 5)
    shards = bloom.build_shards(low, n_shards=n_shards)
    assert shards.agg(F.max("shard_id")).first()[0] < 5
    # the build-time modulus is passed, never inferred from the rows
    probed = bloom.probe(spark, low, shards, n_shards=n_shards)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_probe_no_driver_collect(spark, monkeypatch):
    """The probe path must never collect the shard table to the driver
    (12.5 GB at the 10^10 design point): the whole probe is a
    co-partitioned cogroup."""
    seen = spark.range(0, 10_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    shards = bloom.build_shards(seen, n_shards=4)

    def boom(self, *a, **k):  # pragma: no cover - fires only on bug
        raise AssertionError("driver collect inside bloom.probe")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    probed = bloom.probe(spark, seen, shards, n_shards=4)
    monkeypatch.undo()
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_no_false_negatives_and_fp_rate(spark):
    seen = spark.range(0, 20_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    # ~2,500 keys per shard: each sizes itself to 10 bits per key,
    # rounded up to a whole byte (at least 2^12 bits)
    shards = bloom.build_shards(seen, n_shards=8)
    keys = seen.groupBy(F.pmod("url_hash", F.lit(8)).cast("int").alias("shard_id")).count()
    widths = {r["shard_id"]: r["n_bits"] for r in shards.collect()}
    want = {r["shard_id"]: max(1 << 12, -(-10 * r["count"] // 8) * 8) for r in keys.collect()}
    assert widths == want
    probed = bloom.probe(spark, seen, shards, n_shards=8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # zero FN

    fresh = spark.range(100_000, 140_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = bloom.probe(spark, fresh, shards, n_shards=8).filter(F.col("maybe_seen")).count()
    assert fp / 40_000 < 0.05  # 10 bits/key, 4 hashes → ~1% expected

