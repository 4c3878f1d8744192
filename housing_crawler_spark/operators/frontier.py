"""Frontier scheduling: politeness-budgeted, salted, exact top-B per host.

Re-expresses the reference's implicit crawl ordering — fixed city order,
ascending pages, DOM-order cards (crawl_wggesucht.py:538-543,262,282-285)
— as a deterministic window ranking (SURVEY §2.5 W1):

    priority = (depth, listing_page_no, card_idx, canonical_url)

which is a TOTAL order per host, so the selection is a pure function of
the frontier snapshot (north_rule: rounds are the unit of determinism).

Politeness: budget(host) = floor(round_seconds / crawl_delay_s) on a
virtual clock — the reference's per-page/per-ad sleeps (:79,:302-307)
become a per-round fetch cap, asserted by test_crawl_parity.py's ledger.

Skew: a hot host with 10% of a 10^10-row frontier would funnel one
window partition through one task. ``select_round`` therefore runs a
two-phase EXACT top-B: rank within (host, salt) partitions and keep the
per-salt top-B (any global top-B row is necessarily in its salt's local
top-B), then re-rank the ≤ salt_n*B survivors per host. AQE's skew-join
handling doesn't cover windows, hence the explicit salting
(SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PRIORITY_COLS = ("depth", "listing_page_no", "card_idx", "canonical_url")
MAX_SALTS = 64


def with_budgets(robots: DataFrame, round_seconds: int) -> DataFrame:
    """robots(host, crawl_delay_s) → (host, budget) on the virtual clock."""
    return robots.select(
        "host",
        F.greatest(
            F.lit(1), (F.lit(round_seconds) / F.col("crawl_delay_s")).cast("int")
        ).alias("budget"),
    )


def select_round(
    cand: DataFrame,
    budgets: DataFrame,
    salt_threshold: int = 100_000,
    frontier_size_hint: int | None = None,
) -> DataFrame:
    """Top-``budget`` eligible rows per host by priority order — exact,
    skew-safe. Returns the input columns + ``rank`` (1-based per host).

    ``frontier_size_hint`` (tracked driver-side, free) picks the path:
    small frontiers take one window pass; large ones pay a per-host
    counting pass to size salts, then the two-phase EXACT top-B (local
    top-B per (host, salt) — any global top-B row is in its salt's local
    top-B — then re-rank the ≤ salt_n*B survivors). Both paths produce
    identical selections (test_crawl_parity)."""
    order = [F.col(x) for x in PRIORITY_COLS]
    w_host = Window.partitionBy("host").orderBy(*order)
    if frontier_size_hint is not None and frontier_size_hint <= salt_threshold:
        return (
            cand.join(F.broadcast(budgets), "host")
            .withColumn("rank", F.row_number().over(w_host))
            .filter(F.col("rank") <= F.col("budget"))
            .drop("budget")
        )
    counts = cand.groupBy("host").agg(F.count(F.lit(1)).alias("n_cand"))
    plan = counts.join(budgets, "host").select(
        "host",
        "budget",
        F.when(
            F.col("n_cand") > salt_threshold,
            F.least(
                F.lit(MAX_SALTS), F.ceil(F.col("n_cand") / salt_threshold).cast("int")
            ),
        )
        .otherwise(F.lit(1))
        .alias("salt_n"),
    )
    c = cand.join(F.broadcast(plan), "host").withColumn(
        "salt", F.pmod(F.xxhash64("canonical_url"), F.col("salt_n"))
    )
    w_local = Window.partitionBy("host", "salt").orderBy(*order)
    pruned = c.withColumn("local_rank", F.row_number().over(w_local)).filter(
        F.col("local_rank") <= F.col("budget")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w_host))
        .filter(F.col("rank") <= F.col("budget"))
        .drop("salt", "salt_n", "local_rank", "n_cand", "budget")
    )


def robots_gate(links: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop rows whose path falls under the host's disallow prefix
    (north_rule robots gating; the reference has none — SURVEY §2, F10
    note). robots is a tiny dim → broadcast, no shuffle."""
    r = robots.select("host", "disallow_prefix")
    return (
        links.join(F.broadcast(r), "host", "left")
        .filter(
            F.col("disallow_prefix").isNull()
            | ~F.col("path").startswith(F.col("disallow_prefix"))
        )
        .drop("disallow_prefix")
    )


def first_seen_wins(links: DataFrame) -> DataFrame:
    """Within-batch dedup of discovered links: keep the minimum-priority
    discovery per canonical URL (SURVEY W5/J2; the reference's
    drop_duplicates(keep='first'), crawl_wggesucht.py:186-189)."""
    w = Window.partitionBy("canonical_url").orderBy(
        "depth", "listing_page_no", "card_idx"
    )
    return (
        links.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
