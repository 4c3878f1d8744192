"""Bloom shards: zero false negatives (hard guarantee), measured FP rate,
explicit geometry (empty top shards must not change the probe
modulus), no driver collect of the shard table, and incremental
OR-merge touching only dirty shards."""

from __future__ import annotations

import pandas as pd
import pytest
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
    shards = bloom.build_shards(low, n_shards=n_shards, n_bits=1 << 17)
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
    shards = bloom.build_shards(seen, n_shards=4, n_bits=1 << 15)

    def boom(self, *a, **k):  # pragma: no cover - fires only on bug
        raise AssertionError("driver collect inside bloom.probe")

    monkeypatch.setattr(DataFrame, "collect", boom)
    monkeypatch.setattr(DataFrame, "first", boom)
    monkeypatch.setattr(DataFrame, "toPandas", boom)
    probed = bloom.probe(spark, seen, shards, n_shards=4)
    monkeypatch.undo()
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_or_shards_touches_only_dirty(spark):
    """Incremental maintenance: OR-ing a delta must return rows only for
    the shard ids the delta touches, and the merged bitset must be the
    exact union of bits."""
    n_shards, n_bits = 8, 1 << 14
    old = spark.range(0, 8_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    current = bloom.build_shards(old, n_shards=n_shards, n_bits=n_bits)
    # a delta confined to two shards
    new = (
        spark.range(8_000, 12_000)
        .select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
        .filter(F.pmod(F.col("url_hash"), F.lit(n_shards)).isin(2, 5))
    )
    delta = bloom.build_shards(new, n_shards=n_shards, n_bits=n_bits)
    merged = bloom.or_shards(current, delta).toPandas()
    assert sorted(merged["shard_id"]) == [2, 5]
    # merged = bitwise union, and probing old+new through
    # (untouched ∪ merged) has zero false negatives
    import numpy as np

    cur_pdf = current.toPandas().set_index("shard_id")
    dl_pdf = delta.toPandas().set_index("shard_id")
    for sid in (2, 5):
        want = np.frombuffer(cur_pdf.loc[sid, "bitset"], np.uint8) | np.frombuffer(
            dl_pdf.loc[sid, "bitset"], np.uint8
        )
        got = np.frombuffer(
            merged.set_index("shard_id").loc[sid, "bitset"], np.uint8
        )
        assert (want == got).all()
    untouched = current.filter(~F.col("shard_id").isin(2, 5))
    shards_now = untouched.unionByName(
        spark.createDataFrame(merged, schema=untouched.schema)
    )
    probed = bloom.probe(spark, old.unionByName(new), shards_now, n_shards=n_shards)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_or_shards_rejects_mixed_geometry(spark):
    a = bloom.build_shards(
        spark.range(0, 100).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ),
        n_shards=2,
        n_bits=1 << 12,
    )
    b = bloom.build_shards(
        spark.range(100, 200).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        ),
        n_shards=2,
        n_bits=1 << 13,
    )
    with pytest.raises(Exception):
        bloom.or_shards(a, b).collect()


def test_no_false_negatives_and_fp_rate(spark):
    seen = spark.range(0, 20_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    # 2,500 keys per shard: 2^15 bits is >10 bits/key
    shards = bloom.build_shards(seen, n_shards=8, n_bits=1 << 15)
    probed = bloom.probe(spark, seen, shards, n_shards=8)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # zero FN

    fresh = spark.range(100_000, 140_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = bloom.probe(spark, fresh, shards, n_shards=8).filter(F.col("maybe_seen")).count()
    assert fp / 40_000 < 0.05  # 10 bits/key, 4 hashes → ~1% expected

