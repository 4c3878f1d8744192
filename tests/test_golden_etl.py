"""ETL semantic parity against the reference's ONLY golden data: the
shipped month /root/reference/raw_data/202302_ads_OSM.csv (2,284 rows,
real crawl output processed by the reference's own pipeline).

We recompute the reference's engineered features from their raw inputs
with native Spark expressions and compare to the values the reference's
pandas pipeline actually produced (formulas at
ads_table_processing.py:285-298,535-576,687-702):

- days_since_2022, day_of_week_publication (3-letter), day_week_int,
  sin/cos_published_at, sin/cos_day_week_int
- days_available (available_to null → 730; from null → published_on)
- rental_length_term bucket chain
- price_per_sqm_warm/cold incl. the reference's quirks: non-WG 'warm'
  takes the COLD per-sqm value, WG values are unrounded, and
  home_total_size == 0 yields inf.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

GOLDEN = "/root/reference/raw_data/202302_ads_OSM.csv"
pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason=f"golden reference CSV {GOLDEN} is absent"
)

RAW_COLS = [
    "id",
    "published_on",
    "published_at",
    "available_from",
    "available_to",
    "price_euros",
    "size_sqm",
    "cold_rent_euros",
    "capacity",
    "home_total_size",
    "type_offer_simple",
]
DERIVED = [
    "days_since_2022",
    "day_of_week_publication",
    "sin_published_at",
    "cos_published_at",
    "sin_day_week_int",
    "cos_day_week_int",
    "days_available",
    "rental_length_term",
    "price_per_sqm_warm",
    "price_per_sqm_cold",
]


@pytest.fixture(scope="module")
def golden(spark):
    pdf = pd.read_csv(GOLDEN, low_memory=False)
    pdf = pdf[RAW_COLS + DERIVED].reset_index().rename(columns={"index": "row_idx"})
    return pdf, spark.createDataFrame(
        pdf[["row_idx"] + RAW_COLS].astype(object).where(pd.notna(pdf), None)
    )


def recompute(df):
    two_pi = 2 * math.pi
    pub = F.to_date("published_on")
    avail_from = F.coalesce(F.to_date("available_from"), pub)
    avail_to = F.to_date("available_to")
    days_avail = F.when(avail_to.isNull(), F.lit(730)).otherwise(
        F.datediff(avail_to, avail_from)
    )
    d = F.col("days_available_rc")
    term = (
        F.when(d <= 30, "30days")
        .when(d <= 90, "90days")
        .when(d <= 180, "180days")
        .when(d <= 270, "270days")
        .when(d < 365, "365days")
        .when(d < 540, "540days")
        .otherwise("plus540days")
    )
    # reference quirks: non-WG price_per_sqm_warm takes the rounded COLD
    # value (ads_table_processing.py:286,291); WG values stay unrounded;
    # pandas round() is HALF_EVEN → Spark's bround, not round
    cold_rounded = F.bround(F.col("cold_rent_euros") / F.col("size_sqm"), 2)
    is_wg = F.col("type_offer_simple") == "WG"
    wg_warm = F.col("price_euros") * F.col("capacity") / F.col("home_total_size")
    wg_cold = F.col("cold_rent_euros") * F.col("capacity") / F.col("home_total_size")
    dow_int = ((F.dayofweek(pub) + 5) % 7) + 1  # Mon=1..Sun=7

    return (
        df.withColumn("days_since_2022_rc", F.datediff(pub, F.lit("2022-01-01").cast("date")))
        .withColumn("day_of_week_publication_rc", F.date_format(pub, "EEE"))
        .withColumn("day_week_int_rc", dow_int)
        .withColumn("sin_published_at_rc", F.sin(F.lit(two_pi) * F.col("published_at") / 24))
        .withColumn("cos_published_at_rc", F.cos(F.lit(two_pi) * F.col("published_at") / 24))
        .withColumn("sin_day_week_int_rc", F.sin(F.lit(two_pi) * dow_int / 7))
        .withColumn("cos_day_week_int_rc", F.cos(F.lit(two_pi) * dow_int / 7))
        .withColumn("days_available_rc", days_avail)
        .withColumn("rental_length_term_rc", term)
        .withColumn(
            "price_per_sqm_warm_rc", F.when(is_wg, wg_warm).otherwise(cold_rounded)
        )
        .withColumn(
            "price_per_sqm_cold_rc", F.when(is_wg, wg_cold).otherwise(cold_rounded)
        )
    )


def _close(a, b):
    a = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
    b = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    both_inf = np.isinf(a) & np.isinf(b) & (np.sign(a) == np.sign(b))
    finite = ~(both_nan | both_inf)
    return np.all(both_nan | both_inf | (np.abs(a - b) <= 1e-6 + 1e-9 * np.abs(b)) | ~finite & False) or np.allclose(
        a[finite], b[finite], rtol=1e-9, atol=1e-6
    )


def test_engineered_features_match_golden(spark, golden):
    pdf, sdf = golden
    out = recompute(sdf).toPandas().sort_values("row_idx").reset_index(drop=True)
    g = pdf.sort_values("row_idx").reset_index(drop=True)

    for col in (
        "days_since_2022",
        "days_available",
    ):
        assert _close(out[f"{col}_rc"], g[col]), col

    for col in (
        "sin_published_at",
        "cos_published_at",
        "sin_day_week_int",
        "cos_day_week_int",
        "price_per_sqm_warm",
        "price_per_sqm_cold",
    ):
        assert _close(out[f"{col}_rc"], g[col]), col

    for col in ("day_of_week_publication", "rental_length_term"):
        got = out[f"{col}_rc"].fillna("__null__")
        want = g[col].fillna("__null__")
        mism = (got != want).sum()
        assert mism == 0, f"{col}: {mism} mismatches; e.g. {list(zip(got[got != want][:3], want[got != want][:3]))}"
