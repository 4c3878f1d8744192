"""END-TO-END ETL parity against the reference's shipped month.

/root/reference/raw_data/202302_ads_OSM.csv is real crawl output
processed by the reference's own pandas pipeline (2,284 rows, 147
columns). We reconstruct the RAW crawl table it came from (inverting
the pipeline where it is invertible; where a raw string was collapsed
into derived columns we synthesize a raw string that the reference's
forward rules map to exactly the golden values), run OUR full Spark
pipeline (housing_crawler_spark/etl.py process_ads_tables) on that raw
table, and require every reproducible output column to match the golden
file row-exactly — including the OSM grid features for the cities whose
200 m grids ship with the reference (the others' grids are not in the
repo, so their OSM columns are untestable).

This verifies the FORWARD semantics of all 6 stages at once: if our
WHEN-chains, maps, multi-hot substring splits, filters, imputation
re-nulls, polar transforms or the bowtie spatial join disagreed with
the reference anywhere, the corresponding golden cell would differ.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from housing_crawler_spark.etl import (
    ENERGY_CLASS_MAP,
    FLOOR_MAP,
    HEAT_SOURCE_CHAIN,
    INTERNET_SPEED_CHAIN,
    SPLIT_FAMILIES,
    multihot_name,
    process_ads_tables,
)
from housing_crawler_spark.sources.geojson import load_grid_features

GOLDEN = "/root/reference/raw_data/202302_ads_OSM.csv"
pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLDEN), reason=f"golden reference CSV {GOLDEN} is absent"
)
GRID_CITIES = {  # cities whose *_grid_feats.geojson ships in the reference
    "Düsseldorf": "duesseldorf",
    "Heidelberg": "heidelberg",
    "Mainz": "mainz",
    "Regensburg": "regensburg",
    "Tübingen": "tuebingen",
    "Würzburg": "wuerzburg",
}
OSM_FEATURES = [
    "km_to_centroid", "comfort_leisure_spots", "comfort_warehouse",
    "activities_education", "mobility_public_transport_bus",
    "activities_economic", "comfort_industrial", "activities_goverment",
    "social_life_eating", "comfort_comfort_spots", "social_life_culture",
    "activities_supermarket", "activities_public_service",
    "social_life_community", "comfort_leisure_mass",
    "activities_educational", "mobility_street_secondary",
    "mobility_public_transport_rail", "activities_retail",
    "social_life_night_life", "comfort_green_natural", "comfort_railway",
    "mobility_bike_infraestructure", "comfort_green_forests",
    "mobility_street_primary", "comfort_lakes",
    "activities_health_regional", "activities_health_local",
    "comfort_green_space", "comfort_rivers", "activities_post",
    "comfort_green_parks", "comfort_street_motorway",
    "sin_degrees_to_centroid", "cos_degrees_to_centroid",
]

_INV_FLOOR = {v: k for k, v in FLOOR_MAP.items() if k != "Dachgeschoss"}
_INV_CLASS = {v: k for k, v in ENERGY_CLASS_MAP.items()}
_INV_SOURCE = {label: needle for needle, label in HEAT_SOURCE_CHAIN}
_INV_SPEED = {}
for needle, speed in INTERNET_SPEED_CHAIN:
    _INV_SPEED.setdefault(speed, needle)
_INV_TOILET = {1.0: "Eigenes Bad", 0.5: "Badmitbenutzung", 0.0: "Nicht vorhanden"}
_INV_OFFER = {
    "WG": "WG",
    "Single-room flat": "1 Zimmer Wohnung",
    "Apartment": "2 Zimmer Wohnung",
}
_LANG_FILLERS = [
    "Spanisch", "Italienisch", "Polnisch", "Russisch", "Türkisch",
    "Arabisch", "Griechisch", "Japanisch",
]


def _nn(v) -> bool:
    return v is not None and v == v


def _terms(row, cat: str) -> list[str]:
    """golden multi-hot columns → the raw comma-joined term list,
    respecting the reference's substring semantics (a term implied by a
    longer term is not re-added)."""
    on = [t for t in SPLIT_FAMILIES[cat] if row.get(multihot_name(cat, t)) == 1.0]
    if cat == "extras":
        # 'Gartenmitbenutzung' CONTAINS 'Garten' so the forward substring
        # split always sets both; 'Fahrradkeller' does NOT contain
        # 'Keller' (lowercase k), so Keller stays independent
        if "Gartenmitbenutzung" in on and "Garten" in on:
            on.remove("Garten")
    return on


def reconstruct_raw(g: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for _, r in g.iterrows():
        searched = r["details_searched"] == 1

        def dmy(iso):
            return (
                pd.Timestamp(iso).strftime("%d.%m.%Y") if _nn(iso) else None
            )

        raw: dict = {
            "id": int(r["id"]),
            "url": r["url"],
            "landlord_type": {1.0: "Verifiziert", 0.0: "Private"}.get(
                r["commercial_landlord"]
            ),
            "title": r["title"] if _nn(r["title"]) else None,
            "price_euros": r["price_euros"],
            "size_sqm": r["size_sqm"],
            "available_rooms": r["available_rooms"],
            "WG_size": r["capacity"],
            "available_spots_wg": r["available_spots_wg"],
            "male_flatmates": r["male_flatmates"],
            "female_flatmates": r["female_flatmates"],
            "diverse_flatmates": r["diverse_flatmates"],
            "published_on": dmy(r["published_on"]),
            "published_at": r["published_at"] if _nn(r["published_at"]) else None,
            "address": r["address"],
            "city": r["city"],
            "crawler": r["crawler"],
            "latitude": r["latitude"],
            "longitude": r["longitude"],
            "available from": dmy(r["available_from"]),
            "available to": dmy(r["available_to"]),
            "details_searched": int(r["details_searched"]),
            "type_offer": _INV_OFFER[r["type_offer_simple"]],
            "zip_code": r["zip_code"],
            "home_total_size": r["home_total_size"],
            "cold_rent_euros": r["cold_rent_euros"],
        }
        if not searched:
            detail_nones = [
                "mandatory_costs_euros", "extra_costs_euros",
                "transfer_costs_euros", "deposit", "Schufa_needed", "smoking",
                "wg_type", "languages", "age_range", "gender_search", "energy",
                "wg_possible", "building_type", "building_floor", "furniture",
                "kitchen", "shower_type", "TV", "floor_type", "heating",
                "public_transport_distance", "internet", "parking", "extras",
            ]
            raw.update({c: None for c in detail_nones})
            rows.append(raw)
            continue

        raw["mandatory_costs_euros"] = r["mandatory_costs_euros"]
        raw["extra_costs_euros"] = r["extra_costs_euros"]
        raw["transfer_costs_euros"] = r["transfer_costs_euros"]
        raw["deposit"] = r["deposit"]
        raw["Schufa_needed"] = "SCHUFA erwünscht" if r["schufa_needed"] == 1.0 else None
        raw["smoking"] = r["smoking"] if _nn(r["smoking"]) else None
        raw["furniture"] = r["furniture"] if _nn(r["furniture"]) else None
        raw["kitchen"] = r["kitchen"] if _nn(r["kitchen"]) else None
        for c in ("heating", "parking", "building_type"):
            raw[c] = r[c] if _nn(r[c]) and r[c] != "no_answer" else None
        raw["building_floor"] = (
            _INV_FLOOR[r["building_floor"]] if _nn(r["building_floor"]) else None
        )
        raw["public_transport_distance"] = (
            f"{int(r['public_transport_distance'])} Minuten"
            if _nn(r["public_transport_distance"])
            else None
        )
        raw["wg_possible"] = (
            None
            if r["type_offer_simple"] == "WG"
            else ("Ja" if r["wg_possible"] == 1.0 else None)
        )

        # age_range (flat_with_kids=1 ⇒ the raw minimum was <18 and got
        # clamped to NULL; any sub-18 value round-trips)
        mn = 10.0 if r["flat_with_kids"] == 1.0 else r["min_age_flatmates"]
        mx = r["max_age_flatmates"]
        if _nn(mn) and _nn(mx):
            raw["age_range"] = f"{int(mn)} bis {int(mx)} Jahre"
        elif _nn(mn):
            raw["age_range"] = f"ab {int(mn)} Jahren"
        elif _nn(mx):
            raw["age_range"] = f"bis {int(mx)} Jahre"
        else:
            raw["age_range"] = None

        g_, lo, hi = r["gender_searched"], r["min_age_searched"], r["max_age_searched"]
        gender = "" if g_ == "Egal" else g_
        if lo > 0 and hi < 99:
            gs = f"{gender} zwischen {int(lo)} und {int(hi)} Jahren"
        elif lo > 0:
            gs = f"{gender} ab {int(lo)} Jahren"
        elif hi < 99:
            gs = f"{gender} bis {int(hi)} Jahre"
        else:
            gs = gender or "Egal"
        raw["gender_search"] = gs.strip()

        parts = []
        if _nn(r["energy_certificate"]) and r["energy_certificate"] != "no_answer":
            parts.append(r["energy_certificate"])
        if _nn(r["construction_year"]):
            parts.append(f"Baujahr {int(r['construction_year'])}")
        if _nn(r["energy_usage"]):
            parts.append(f"V: {int(r['energy_usage'])}kW h/(m²a)")
        if _nn(r["energy_efficiency_class"]):
            parts.append(
                f"Energieeffizienzklasse {_INV_CLASS[r['energy_efficiency_class']]}"
            )
        if _nn(r["heating_energy_source"]) and r["heating_energy_source"] != "no_answer":
            parts.append(_INV_SOURCE[r["heating_energy_source"]])
        raw["energy"] = ", ".join(parts) if parts else None

        # multi-hot families back to comma-joined strings
        raw["wg_type"] = ", ".join(_terms(r, "wg_type")) or None
        raw["floor_type"] = ", ".join(_terms(r, "floor_type")) or None
        raw["extras"] = ", ".join(_terms(r, "extras")) or None
        raw["TV"] = ", ".join(_terms(r, "tv")) or None

        sh = _terms(r, "shower_type")
        if _nn(r["toilet"]):
            sh = [_INV_TOILET[r["toilet"]]] + sh
        raw["shower_type"] = ", ".join(sh) or None

        net = _terms(r, "internet")
        if _nn(r["internet_speed"]):
            net.append(_INV_SPEED[r["internet_speed"]])
        raw["internet"] = ", ".join(net) or None

        langs = _terms(r, "languages")
        n = int(r["number_languages"]) if _nn(r["number_languages"]) else 1
        fillers = [f for f in _LANG_FILLERS if f not in langs]
        while len(langs) < n:
            langs.append(fillers.pop(0))
        assert len(langs) == n, (r["id"], langs, n)
        raw["languages"] = ", ".join(langs)

        rows.append(raw)
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def golden() -> pd.DataFrame:
    return pd.read_csv(GOLDEN, low_memory=False)


@pytest.fixture(scope="module")
def pipeline_out(spark, golden):
    raw = reconstruct_raw(golden)
    sdf = spark.createDataFrame(raw.astype(object).where(pd.notna(raw), None))
    grid = load_grid_features(
        spark,
        [
            f"/root/reference/housing_crawler/data/{d}/{d}_grid_feats.geojson"
            for d in GRID_CITIES.values()
        ],
    )
    out = process_ads_tables(sdf, grid=grid, cell_geometry="bowtie")
    return out.toPandas()


def _compare(col: str, got: pd.Series, want: pd.Series, ids) -> list:
    bad = []
    gn = pd.to_numeric(got, errors="coerce")
    wn = pd.to_numeric(want, errors="coerce")
    numeric = want.dropna().map(
        lambda v: isinstance(v, (int, float, np.integer, np.floating))
    )
    if len(numeric) and numeric.all():
        a, b = gn.to_numpy(float), wn.to_numpy(float)
        ok = (
            (np.isnan(a) & np.isnan(b))
            | (np.isinf(a) & np.isinf(b) & (np.sign(a) == np.sign(b)))
            | (np.abs(a - b) <= 1e-6 + 1e-9 * np.abs(b))
        )
    else:
        ok = (
            got.fillna("__null__").astype(str).to_numpy()
            == want.fillna("__null__").astype(str).to_numpy()
        )
    if not ok.all():
        idx = np.where(~ok)[0][:5]
        bad = [(col, ids[i], got.iloc[i], want.iloc[i]) for i in idx]
    return bad


def test_full_pipeline_matches_golden(golden, pipeline_out):
    g = golden.sort_values("id").reset_index(drop=True)
    o = pipeline_out.sort_values("id").reset_index(drop=True)
    assert len(o) == len(g), (len(o), len(g))
    assert list(o["id"]) == list(g["id"])

    grid_rows = g["city"].isin(GRID_CITIES).to_numpy()
    failures = []
    skipped = []
    n_checked = 0
    for col in g.columns:
        if col not in o.columns:
            skipped.append(col)
            continue
        if col in OSM_FEATURES:
            failures += _compare(
                col,
                o.loc[grid_rows, col].reset_index(drop=True),
                g.loc[grid_rows, col].reset_index(drop=True),
                g.loc[grid_rows, "id"].to_numpy(),
            )
        else:
            failures += _compare(col, o[col], g[col], g["id"].to_numpy())
        n_checked += 1
    assert not failures, failures[:25]
    assert not skipped, skipped
    assert n_checked == len(g.columns)


def test_bowtie_join_reproduces_reference_null_rate(golden, pipeline_out):
    """~half of each cell is uncovered by the reference's bowtie
    polygons; on the shipped-grid cities our join must reproduce the
    exact per-row NULL pattern (asserted column-wise above) and hence
    the aggregate rate."""
    g = golden[golden["city"].isin(GRID_CITIES)]
    o = pipeline_out[pipeline_out["city"].isin(GRID_CITIES)]
    assert g["km_to_centroid"].isna().sum() == o["km_to_centroid"].isna().sum()
    assert 0.3 < g["km_to_centroid"].isna().mean() < 0.7


def test_etl_is_delta_local(spark, golden):
    """Scale property: every stage is row-local (no cross-row state
    except the final id-dedup), so processing arriving deltas
    independently and unioning equals processing the union — the engine
    can run the ETL incrementally over per-round known deltas instead
    of reprocessing the month like the reference does."""
    import pandas as pd

    from housing_crawler_spark.etl import process_ads_tables

    raw = reconstruct_raw(golden.head(400))
    sdf = spark.createDataFrame(raw.astype(object).where(pd.notna(raw), None))
    a = sdf.filter(F.col("id") % 2 == 0)
    b = sdf.filter(F.col("id") % 2 == 1)
    whole = process_ads_tables(sdf).toPandas().sort_values("id").reset_index(drop=True)
    parts = (
        process_ads_tables(a)
        .unionByName(process_ads_tables(b))
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert list(whole["id"]) == list(parts["id"])
    for col in whole.columns:
        ga = whole[col].fillna("__null__").astype(str)
        gb = parts[col].fillna("__null__").astype(str)
        assert (ga == gb).all(), col
