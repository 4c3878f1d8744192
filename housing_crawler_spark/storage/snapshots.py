"""Snapshot-versioned table store over Parquet (Iceberg stand-in).

The sandbox has no Iceberg runtime jars (offline), so this module
implements the minimal Iceberg-shaped contract the engine needs —
immutable per-round snapshots, atomic commit, read-at-snapshot,
append-only logs, resume from the last committed round — as plain
parquet directories plus JSON manifests. The interface is deliberately
narrow so a real Iceberg catalog (``df.writeTo(...).append()`` /
``MERGE INTO`` / snapshot ids) is a drop-in replacement on a cluster.

Layout:

    root/
      _commits.json                     # [{round, layout, tables, metrics}, ...]
      <table>/snap-000007/*.parquet     # full state of <table> at round 7
      <table>/delta-000007/*.parquet    # append-only delta for round 7
      <table>/snap-000007/__b=<b>/      # bucketed snapshot: one dir per
                                        # bucket (partition column BUCKET)

A commit entry names its data, never a path, like a Delta Lake "add"
action names its file relative to the table root: a plain entry is
``{table, kind}`` and its data is the ``<kind>-NNNNNN`` dir of the
round it is committed in; a bucketed entry's ``manifest`` maps each
bucket to the round whose ``snap-`` dir holds it (an older round for a
bucket carried forward by reference). ``SnapshotStore`` is the only
code that turns an entry into paths (``_paths``), so a store can be
moved or copied and resumed, and its log does not grow with the length
of its root.

Every parquet file of every table (crawl state, bloom shards, images,
incdedup state) is written in ONE format, ``WRITE_FORMAT``:

- zstd pages, the codec Iceberg has defaulted its parquet writes to
  since 1.4. parquet-mr 1.16 takes one codec per file, so the image
  payloads are zstd too. An older per-table format left them
  uncompressed because snappy serialized on them under concurrency at
  32 cores. At 4 cores zstd does not: four concurrent tasks writing
  117 MB of dctq payloads (crawl_codec world) kept ~3.7 cores busy and
  took 0.42 s and 1.5 CPU-s, against 0.29 s and 1.0 CPU-s uncompressed
  (medians of 7 alternating writes), for 0.2% fewer bytes.
- dictionary encoding for every column except ``bytes``, the image
  payloads: they are already codec-compressed and all distinct, so a
  dictionary attempt only costs a fallback. The small image columns
  (``fmt``, ``w``, ``h``) keep it.
- no min/max statistics for ``bitset``, the bloom shards. A shard is one
  binary value, and parquet-mr copies a binary min/max under 4 KiB into
  the footer (crawl_frontier, seed 1, round 2: 136 KB of bloom footers
  for 29 KB of bitsets, 17 KB without the statistics). Nothing prunes on
  a bitset's range.
- 4 MiB row groups: the default 128 MB write buffer per concurrent task
  crowds the single local JVM, and blobs gain nothing from big groups.

It must be one format for every write, not one per table. parquet-mr
builds each file writer's column writers through
``ParquetProperties.DEFAULT_VALUES_WRITER_FACTORY``, a JVM-wide
singleton that every new writer re-initializes with ITS properties. So
writers with different option sets that open files at the same moment
(a crawl round's concurrent fetch_log/known/images delta writes) build
column writers from each other's settings. With per-table options, 65
concurrent write trios of crawl tables gave 18 of 780 files another
table's dictionary setting (0 of 780 with one format), and one images
file of two same-seed crawls was 186,282 B in one run and 181,095 B in
the other: the ~0.5% store-size jitter between identical crawls. With
one format every writer installs the same properties, and same-seed
crawls write equal-sized files (test_store_format.py).

The layout is versioned as a whole, like an Iceberg table's
``format-version``: ``commit_round`` stamps ``LAYOUT_VERSION`` on every
commit entry, and ``commits()`` raises ValueError on any entry stamped
otherwise or not at all. Readers above the store therefore never sniff
a store's shape (a manifest, a column, a metric key). A change to the
layout, or to what a commit must record, bumps ``LAYOUT_VERSION``; so
does a change to what stored bytes mean (3: dctq image payloads became
``DCZ2``), since one table must not mix two payload layouts.

Commit protocol (crash-safe):
1. write every table's ``snap-``/``delta-`` dir for round r (parquet
   write is to a temp name then rename by Spark itself);
2. atomically replace ``_commits.json`` (write ``_commits.json.tmp`` +
   ``os.replace``) recording round r, its table entries and bucket
   manifests, and the round's metrics (the per-partition lineage the
   north_rule asks for).

Readers only ever look at rounds listed in ``_commits.json`` (a read of
an uncommitted snapshot raises ValueError); a crash mid-round leaves
orphan dirs that are ignored and overwritten on retry,
so resume-from-checkpoint is bit-identical to an uninterrupted run
(test_crawl_resume.py proves it).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# a table's schema (StructType or DDL string); None infers it from footers
Schema = StructType | str | None

# the store layout every commit entry is stamped with (module docstring)
LAYOUT_VERSION = 3

# the partition column of every bucketed snapshot: a caller's rows carry
# their bucket in it, and bucket b's dir is ``snap-NNNNNN/__b=b``
BUCKET = "__b"

# the parquet format of every file the store writes (module docstring)
WRITE_FORMAT = {
    "compression": "zstd",
    "parquet.enable.dictionary#bytes": "false",
    "parquet.column.statistics.enabled#bitset": "false",
    "parquet.block.size": str(4 * 1024 * 1024),
}


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- commit log --------------------------------------------------------

    def _commits_path(self) -> str:
        return os.path.join(self.root, "_commits.json")

    def _write_log(self, commits: list[dict]) -> None:
        """Atomically replace the commit log: ``.tmp`` + ``os.replace``."""
        tmp = self._commits_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(commits, f, indent=1)
        os.replace(tmp, self._commits_path())

    def commits(self) -> list[dict]:
        """The commit log; ValueError if an entry is not stamped with
        ``LAYOUT_VERSION``."""
        p = self._commits_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            commits = json.load(f)
        for c in commits:
            if c.get("layout") != LAYOUT_VERSION:
                raise ValueError(
                    f"{self.root}: round {c.get('round')} was committed at store"
                    f" layout version {c.get('layout', 'none')}, expected"
                    f" {LAYOUT_VERSION}. Crawl again from init_state into a fresh store."
                )
        return commits

    def last_round(self) -> int | None:
        c = self.commits()
        return c[-1]["round"] if c else None

    # -- write -------------------------------------------------------------

    def _dir(self, table: str, kind: str, rnd: int) -> str:
        return os.path.join(self.root, table, f"{kind}-{rnd:06d}")

    def _paths(self, info: dict, rnd: int, buckets: list[int] | None = None) -> list[str]:
        """The data dirs of ``info``, an entry of round ``rnd``: its own
        snap/delta dir, or the bucket dirs its manifest names (only those
        of ``buckets`` when given), each in the snap dir of its round."""
        if "manifest" not in info:
            return [self._dir(info["table"], info["kind"], rnd)]
        man = info["manifest"]
        keys = man.keys() if buckets is None else man.keys() & {str(b) for b in buckets}
        return sorted(
            os.path.join(self._dir(info["table"], "snap", man[k]), f"{BUCKET}={k}")
            for k in keys
        )

    def write_snapshot(self, df: DataFrame, table: str, rnd: int) -> dict:
        return self._write(df, table, "snap", rnd)

    def write_bucketed_snapshot(
        self,
        df_dirty: DataFrame,
        table: str,
        rnd: int,
        inherit: dict | None = None,
        dirty: list[int] | None = None,
    ) -> dict:
        """Incremental (Iceberg-manifest-shaped) snapshot: ``df_dirty``
        holds the FULL current rows of only the buckets that changed,
        keyed by the ``BUCKET`` column. They are written partitioned by
        bucket under this round's snap dir; every other bucket of
        ``inherit`` (the previous snapshot's entry) is carried forward by
        REFERENCE — its manifest entry keeps naming the older round, zero
        bytes rewritten. Readers use the manifest (``read_snapshot`` /
        ``read_snapshot_buckets`` / ``read_info``), so a compaction's
        write volume is ∝ dirty-bucket rows, not |table|.

        ``dirty`` (when given) lists every bucket the caller knows
        changed, and each must come out with rows: no table this store
        holds loses rows, so a dirty bucket that writes no partition dir
        is a caller bug and raises (ValueError) rather than silently
        inheriting its old rows or dropping out of the manifest.

        Old snap dirs stay referenced by later manifests until every
        bucket has gone dirty — a vacuum must walk manifest
        reachability before deleting (exactly Iceberg's rule)."""
        path = self._dir(table, "snap", rnd)
        # The manifest is rebuilt from the directory listing below, which
        # is only exact under STATIC partition overwrite (the whole path
        # is wiped first). Under dynamic mode, bucket dirs left by a
        # crashed earlier attempt would survive the overwrite and be
        # silently re-adopted as live buckets (round-5 advice).
        mode = (
            df_dirty.sparkSession.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            or "static"
        ).lower()
        if mode != "static":
            raise ValueError(
                "write_bucketed_snapshot requires"
                " spark.sql.sources.partitionOverwriteMode=static; got "
                f"{mode!r} — the listdir-derived manifest would adopt stale"
                " bucket dirs from crashed attempts"
            )
        self._writer(df_dirty).partitionBy(BUCKET).parquet(path)
        prefix = f"{BUCKET}="
        written = [d[len(prefix):] for d in sorted(os.listdir(path)) if d.startswith(prefix)]
        if dirty is not None:
            keys = {str(b) for b in dirty}
            missing = sorted(keys - set(written))
            if missing:
                raise ValueError(
                    f"{table}@{rnd}: declared dirty buckets {missing} came out with no rows"
                )
            # never adopt a dir outside the declared dirty set (second
            # line of defense vs stale dirs)
            written = [k for k in written if k in keys]
        manifest = {**(inherit["manifest"] if inherit else {}), **dict.fromkeys(written, rnd)}
        return {"table": table, "kind": "snap", "manifest": manifest}

    def write_delta(self, df: DataFrame, table: str, rnd: int) -> dict:
        return self._write(df, table, "delta", rnd)

    @staticmethod
    def _writer(df: DataFrame):
        """An overwriting parquet writer in the store's one WRITE_FORMAT."""
        return df.write.mode("overwrite").options(**WRITE_FORMAT)

    def _write(self, df: DataFrame, table: str, kind: str, rnd: int) -> dict:
        self._writer(df).parquet(self._dir(table, kind, rnd))
        return {"table": table, "kind": kind}

    def footer_rows(self, info: dict, rnd: int) -> int:
        """Row count of ``info``, a write info of round ``rnd``, read from
        its files' footers on the driver — no Spark job."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
            for d in self._paths(info, rnd)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("_")
        )

    def commit_round(self, rnd: int, table_infos: list[dict], metrics: dict) -> None:
        """Atomically record round ``rnd`` as committed.

        ``metrics`` carries the per-round lineage (per-host fetch counts,
        per-partition row counts) so a resumed run can verify state."""
        commits = self.commits()
        if any(c["round"] == rnd for c in commits):
            raise ValueError(f"round {rnd} already committed")
        commits.append(
            {"round": rnd, "layout": LAYOUT_VERSION, "tables": table_infos, "metrics": metrics}
        )
        self._write_log(commits)

    # -- read --------------------------------------------------------------

    def snapshot_info(self, table: str, rnd: int) -> dict | None:
        """Commit-log entry of ``table``'s snapshot at round ``rnd``
        (carries the bucket manifest for bucketed snapshots)."""
        for c in self.commits():
            if c["round"] != rnd:
                continue
            for t in c["tables"]:
                if t["table"] == table and t["kind"] == "snap":
                    return t
        return None

    @staticmethod
    def _reader(spark: SparkSession, schema: Schema):
        """A parquet reader; a known ``schema`` skips Spark's footer-
        inference job (one 1-task job per read otherwise)."""
        return spark.read if schema is None else spark.read.schema(schema)

    def read_snapshot(
        self, spark: SparkSession, table: str, rnd: int, schema: Schema = None
    ) -> DataFrame:
        """The committed snapshot of ``table`` at round ``rnd``; ValueError
        when none is committed (an orphan snap dir stays invisible)."""
        info = self.snapshot_info(table, rnd)
        if info is None:
            raise ValueError(f"{self.root}: no committed {table} snapshot at round {rnd}")
        return self.read_info(spark, info, rnd, schema)

    def read_info(
        self,
        spark: SparkSession,
        info: dict,
        rnd: int,
        schema: Schema = None,
        buckets: list[int] | None = None,
    ) -> DataFrame | None:
        """The rows of ``info``, a write info of round ``rnd`` (committed
        or not yet): a plain snap/delta dir, or the bucket dirs of its
        manifest, only those of ``buckets`` when given; None when that
        names no bucket."""
        paths = self._paths(info, rnd, buckets)
        return self._reader(spark, schema).parquet(*paths) if paths else None

    def read_snapshot_buckets(
        self,
        spark: SparkSession,
        table: str,
        rnd: int,
        buckets: list[int],
        schema: Schema = None,
    ) -> DataFrame | None:
        """Bucket-pruned read of a bucketed snapshot: only the dirs of
        ``buckets`` are listed/scanned — the I/O the per-round
        membership probe pays is ∝ candidate buckets, not |table|."""
        info = self.snapshot_info(table, rnd)
        if info is None or "manifest" not in info:
            raise ValueError(f"{table}@{rnd} not bucketed")
        return self.read_info(spark, info, rnd, schema, buckets)

    def _delta_paths(self, table: str, from_round: int, up_to_round: int) -> list[str]:
        """Committed delta dirs for ``table`` in [from_round, up_to]. A
        delta entry with a bucket manifest owns no dir of its own: its
        rows are the manifest's bucket dirs (data committed once and
        shared with a snapshot)."""
        return [
            p
            for c in self.commits()
            if from_round <= c["round"] <= up_to_round
            for t in c["tables"]
            if t["table"] == table and t["kind"] == "delta"
            for p in self._paths(t, c["round"])
        ]

    def read_deltas(
        self,
        spark: SparkSession,
        table: str,
        up_to_round: int,
        from_round: int = 0,
        schema: Schema = None,
    ) -> DataFrame | None:
        """Union of committed deltas for ``table`` in [from_round, up_to]."""
        paths = self._delta_paths(table, from_round, up_to_round)
        if not paths:
            return None
        return self._reader(spark, schema).parquet(*paths)

    # -- rollback ----------------------------------------------------------

    def rollback(self, to_round: int) -> list[int]:
        """Iceberg-style rollback: atomically truncate the commit log to
        rounds ≤ ``to_round``. Readers see the store exactly as it was
        after ``to_round`` committed, and a resumed engine continues
        from there (round r+1 rewrites the orphaned snap-/delta- dirs
        via overwrite, so no cleanup pass is required — the same
        reasoning that makes uncommitted dirs invisible,
        test_commit_log_is_atomic). Returns the discarded rounds."""
        commits = self.commits()
        keep = [c for c in commits if c["round"] <= to_round]
        dropped = [c["round"] for c in commits if c["round"] > to_round]
        if not keep:
            raise ValueError(f"no committed round <= {to_round} to roll back to")
        if dropped:
            self._write_log(keep)
        return dropped

    def latest_snapshot_round(self, table: str, up_to_round: int) -> int | None:
        """Round of the most recent committed full snapshot of ``table``."""
        best = None
        for c in self.commits():
            if c["round"] > up_to_round:
                continue
            for t in c["tables"]:
                if t["table"] == table and t["kind"] == "snap":
                    best = c["round"]
        return best
