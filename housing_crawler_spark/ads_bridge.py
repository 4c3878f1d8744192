"""Crawl output → analytics-layer bridge.

The reference runs as two chained daemons (reference main.py:47-98:
EP1 crawls and appends raw ad rows per city CSV; EP2 re-runs
``ads_table_processing.process_ads_tables`` over those tables on a
timer). This module is that chain's joint: it turns the snapshot
store's crawl output (the ``fetch_log`` detail rows, whose images +
captions live in the ``images`` table keyed by ``<url_hash:016x>-i``)
into the raw-ads table the 6-stage ETL (etl.py) consumes.

In the synthetic world every attribute of a fetched detail page is a
pure function of the page identity — exactly how caption_raw and the
image payloads are generated (synth.py) — so the "parse the fetched
HTML into an ad record" step is ``build_raw_ads`` keyed on the URL
hash. On a real deployment this module is the seam where a
BeautifulSoup-equivalent extraction (a vectorized mapInPandas stage
like crawl.py's fetch stage) would slot in; everything downstream
(ETL, dedup, analytics) is shape-identical.

All native expressions; one narrow scan of fetch_log deltas. The ETL
itself is delta-local (tests/test_golden_etl_full.py), so at 10^10-URL
scale this chain runs incrementally per round over
``read_deltas(from_round=...)`` instead of the full log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .queries_etl_pipeline import build_raw_ads
from .storage.snapshots import SnapshotStore

# crawl rounds are the store's only clock; anchor them to the epoch the
# reference's shipped month uses so date features are in-domain
_EPOCH = "2023-02-01"


def ads_from_fetch_log(details: DataFrame) -> DataFrame:
    """Raw-ads table from ``fetch_log`` detail rows (columns: round,
    canonical_url, ...). One ad per detail URL — the seen-set
    guarantees a URL succeeds at most once (kind='detail'; captcha
    retries log as kind='captcha' until then), and the ETL's id dedup
    is the safety net if that invariant is ever relaxed."""
    # full non-negative 64-bit domain: a 2^31 id space starts taking
    # birthday collisions around ~65k URLs and saturates at the module's
    # 10^10-URL design scale, silently merging distinct ads in the ETL
    # id-dedup. Masking the sign bit == pmod(x, 2^63) in two's
    # complement (2^63 itself overflows a long literal) and keeps the
    # collision odds negligible (~n^2/2^64) while satisfying
    # build_raw_ads's non-negative-integral contract.
    k = F.xxhash64(F.col("canonical_url")).bitwiseAND(F.lit((1 << 63) - 1))
    od = F.date_add(F.to_date(F.lit(_EPOCH)), F.col("round") * 7)
    price = (200 + k % 2800).cast("int")
    # mostly in-Germany coordinates (real listings are); ~1/8 land
    # outside the bbox so the NULL-then-drop path stays exercised
    lat = F.when(k % 8 == 0, F.lit(40.0)).otherwise(47.5 + (k % 70) / F.lit(10.0))
    lon = 6.0 + (k % 90) / F.lit(10.0)
    return build_raw_ads(details, k, od, price, lat=lat, lon=lon)


def etl_from_store(
    spark: SparkSession,
    store: SnapshotStore,
    up_to_round: int | None = None,
    from_round: int = 0,
    grid: DataFrame | None = None,
    cell_geometry: str = "rect",
) -> DataFrame:
    """The full EP2 chain: store → detail pages → raw ads → 6-stage ETL
    wide table. ``from_round`` > 0 gives the incremental (delta-local)
    variant."""
    from .etl import process_ads_tables

    r = store.last_round() if up_to_round is None else up_to_round
    if r is None:
        raise ValueError("store has no committed rounds")
    log = store.read_deltas(spark, "fetch_log", r, from_round, schemas.FETCH_LOG)
    if log is None:
        raise ValueError("store has no fetch_log deltas")
    details = log.filter(F.col("kind") == "detail")
    return process_ads_tables(
        ads_from_fetch_log(details), grid=grid, cell_geometry=cell_geometry
    )
