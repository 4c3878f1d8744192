"""The store writes every parquet file in one format
(``snapshots.WRITE_FORMAT``): zstd pages everywhere, dictionary encoding
for every column but the image payloads, min/max statistics for every
column but the bloom bitsets. Because it is one format,
concurrent writers cannot leak their settings into each other's files
(parquet-mr's values-writer factory is JVM-wide), so two crawls of the
same world write byte-for-byte equally sized files. A store written in
the older per-table codecs (snappy state tables, uncompressed images)
still reads, resumes and compacts like any other."""

from __future__ import annotations

import os
import re

import pyarrow.parquet as pq
import pytest

from housing_crawler_spark import synth
from housing_crawler_spark.crawl import CrawlEngine, EngineConfig
from housing_crawler_spark.storage.snapshots import SnapshotStore

from .test_crawl_resume import _state_digest

WORLD = synth.WorldConfig(n_hosts=4, base_pages=6)
# bloom shards from the round-0 base on; one compaction (known + bloom
# bases) at round 2
CFG = EngineConfig(bloom_min_known=1, buckets=8, compact_every=2)
# Spark's per-write job id in part-file names
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def _crawl(spark, root: str, n_rounds: int) -> CrawlEngine:
    eng = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    eng.init_state(synth.seed_frontier_rows(WORLD), synth.robots_rows(WORLD))
    eng.run(n_rounds)
    return eng


def _parquet_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, n)
        for d, _sub, names in os.walk(root)
        for n in names
        if n.endswith(".parquet")
    )


def _table_of(root: str, path: str) -> str:
    return os.path.relpath(path, root).split(os.sep)[0]


def _chunks(path: str):
    md = pq.ParquetFile(path).metadata
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            yield rg.column(c)


def _encodings(root: str, table: str, column: str) -> set[str]:
    return {
        e
        for p in _parquet_files(root)
        if _table_of(root, p) == table
        for ch in _chunks(p)
        if ch.path_in_schema == column
        for e in ch.encodings
    }


def _sizes(root: str) -> list[tuple[str, int]]:
    return [
        (_UUID.sub("*", os.path.relpath(p, root)), os.path.getsize(p))
        for p in _parquet_files(root)
    ]


@pytest.fixture(scope="module")
def store_root(spark, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("fmt"))
    _crawl(spark, root, 2)
    return root


def test_every_parquet_file_is_zstd(store_root):
    files = _parquet_files(store_root)
    tables = {_table_of(store_root, p) for p in files}
    assert {"known", "fetch_log", "images", "bloom", "robots"} <= tables, tables
    codecs = {(_table_of(store_root, p), ch.compression) for p in files for ch in _chunks(p)}
    assert {c for _t, c in codecs} == {"ZSTD"}, sorted(codecs)


def test_only_image_payloads_skip_dictionary_encoding(store_root):
    assert not any("DICTIONARY" in e for e in _encodings(store_root, "images", "bytes"))
    for table, column in (("images", "fmt"), ("known", "host_idx")):
        enc = _encodings(store_root, table, column)
        assert any("DICTIONARY" in e for e in enc), (table, column, enc)


def test_only_bloom_bitsets_skip_min_max_statistics(store_root):
    """A bitset under 4 KiB would otherwise be copied into the footer as
    its own min and max."""
    min_max = {
        (_table_of(store_root, p), ch.path_in_schema): ch.is_stats_set
        and ch.statistics.has_min_max
        for p in _parquet_files(store_root)
        for ch in _chunks(p)
        if _table_of(store_root, p) in ("bloom", "known")
    }
    assert {c for c, has in min_max.items() if not has} == {("bloom", "bitset")}


def test_same_seed_crawls_write_equal_file_sizes(spark, store_root, tmp_path):
    """Rows and payloads are a pure function of the world, and the format
    is one constant, so every file of a second crawl has the same size.
    Writers with different option sets running at once can flip a
    file's dictionary encoding, which this would catch whenever the
    race hits."""
    other = str(tmp_path / "again")
    _crawl(spark, other, 2)
    assert _sizes(other) == _sizes(store_root)


def _rewrite_in_per_table_codecs(root: str) -> None:
    """Rewrite every parquet file of the store the way it was written
    before it had one format: snappy for the state tables, uncompressed
    and dictionary-free images. The Hadoop ``.crc`` side file of a
    rewritten file no longer matches, so it goes."""
    for p in _parquet_files(root):
        images = _table_of(root, p) == "images"
        t = pq.ParquetFile(p).read()
        pq.write_table(
            t,
            p,
            compression="none" if images else "snappy",
            use_dictionary=not images,
        )
        d, n = os.path.split(p)
        crc = os.path.join(d, f".{n}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def test_resume_across_the_format_change(spark, tmp_path):
    """Rounds 0-2 in the per-table codecs, rounds 3-4 (with the round-4
    compaction reading the snappy base and bloom) in zstd: the result
    and the whole commit log but its timings equal an uninterrupted
    zstd run's, written under a root of another length."""
    root = str(tmp_path / "mixed")
    _crawl(spark, root, 2)
    _rewrite_in_per_table_codecs(root)
    old = {ch.compression for p in _parquet_files(root) for ch in _chunks(p)}
    assert old == {"SNAPPY", "UNCOMPRESSED"}, old

    resumed = CrawlEngine(spark, SnapshotStore(root), WORLD, CFG)
    resumed.run(4)
    full = _crawl(spark, str(tmp_path / "full"), 4)

    codecs = {ch.compression for p in _parquet_files(root) for ch in _chunks(p)}
    assert codecs == {"SNAPPY", "UNCOMPRESSED", "ZSTD"}, codecs
    assert _state_digest(resumed, 4) == _state_digest(full, 4)

    def log(store: SnapshotStore) -> list[dict]:
        return [
            {**c, "metrics": {k: v for k, v in c["metrics"].items() if k != "timings"}}
            for c in store.commits()
        ]

    # the two roots differ in length; entries name data by round, not path
    assert len(root) != len(full.store.root)
    assert log(resumed.store) == log(full.store)
    for table in ("known", "bloom"):
        a = resumed.store.read_snapshot(spark, table, 4).collect()
        b = full.store.read_snapshot(spark, table, 4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), table
