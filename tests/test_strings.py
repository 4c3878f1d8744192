"""String-normalization family vs pure-python twins of the reference
semantics (string_utils.py:12-68), on the reference's own city list
(params.py:41-67) plus adversarial cases."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from housing_crawler_spark.functions.strings import (
    capitalize_city,
    german_characters,
    simplify_address,
)

CITIES = [
    "Berlin",
    "München",
    "Stuttgart",
    "Köln",
    "Hamburg",
    "Düsseldorf",
    "Bremen",
    "Leipzig",
    "Kiel",
    "Heidelberg",
    "Karlsruhe",
    "Hannover",
    "Dresden",
    "Aachen",
    "Bonn",
    "Darmstadt",
    "Frankfurt am Main",
    "Göttingen",
    "Münster",
    "Mainz",
    "Mannheim",
    "Nürnberg",
    "Regensburg",
    "Tübingen",
    "Würzburg",
    "Rio de Janeiro",
]


# --- python twins (same observable behavior as the reference; used only
# --- as test oracles)


def py_standardize(word: str, sep: str = "_") -> str:
    out = word.lower().replace(" ", sep)
    for a, b in [
        ("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("ß", "ss"), ("æ", "ae"),
        ("ã", "a"), ("õ", "o"), ("á", "a"), ("é", "e"), ("í", "i"),
        ("ó", "o"), ("ú", "u"), ("ç", "c"), ("à", "a"), ("è", "e"),
        ("ì", "i"), ("ò", "o"), ("ù", "u"), ("â", "a"), ("ê", "e"),
        ("î", "i"), ("ô", "o"), ("û", "u"), ("ë", "e"), ("ï", "i"),
        ("ñ", "n"), ("ī", "i"), ("å", "a"), ("ø", "o"), ("ÿ", "y"),
        ("š", "s"), ("ý", "y"), ("ş", "s"), ("ğ", "g"),
    ]:
        out = out.replace(a, b)
    return out


def py_german_chars(word: str) -> str:
    out = word.replace("_", " ").replace("ae", "ä").replace("oe", "ö").replace("ue", "ü")
    if out.capitalize() != "Düsseldorf":
        out = out.replace("ss", "ß")
    return out


def py_capitalize_city(word: str) -> str:
    parts = word.split(" ")
    if len(parts) == 3:
        return " ".join([parts[0].capitalize(), parts[1], parts[2].capitalize()])
    return " ".join(p.capitalize() for p in parts)


def py_simplify_address(address: str) -> str:
    street_house = address.split(",")[0]
    m = re.findall(r"\D+", street_house)
    street = " ".join(w.capitalize().strip() for w in m[0].strip().split(" ")) if m else ""
    nums = re.findall(r"\d+", street_house)
    house = nums[0] if nums else ""
    cn = address.split(",")[1].split(" ")
    city = cn[1].capitalize()
    neigh = " ".join(n.capitalize() for n in cn[2:])
    final = " ".join([street, house]) + ", " + ", ".join([neigh, city])
    final = final.replace("str ", "straße ").replace(" ,", ",")
    return final.strip().replace("  ", " ")


def _run(spark, values: list[str], expr) -> list[str]:
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["out"] for r in df.select(expr(F.col("s")).alias("out")).collect()]


def test_city_roundtrip_reference_list(spark):
    """standardize ∘ german_characters round-trips every reference city
    key, and capitalize restores display form — incl. the Düsseldorf ß
    exception and the Frankfurt-am-Main 3-word rule."""
    keys = [py_standardize(c) for c in CITIES]
    restored = _run(spark, keys, german_characters)
    for key, got in zip(keys, restored):
        assert got == py_german_chars(key), (key, got)
        assert py_standardize(got) == key, (key, got)
    display = _run(spark, restored, capitalize_city)
    for c, got in zip(CITIES, display):
        want = py_capitalize_city(py_german_chars(py_standardize(c)))
        assert got == want, (c, got, want)
    # the two marquee cases the reference singles out
    assert display[keys.index("duesseldorf")] == "Düsseldorf"
    assert display[keys.index("frankfurt_am_main")] == "Frankfurt am Main"
    assert display[keys.index("rio_de_janeiro")] == "Rio de Janeiro"


def test_simplify_address_matches_twin(spark):
    addrs = [
        "darsr xsdd 44, trzc dhhgfhg",
        "hauptstr 12, berlin mitte west",
        "Müllerstraße 187b, München Schwabing",
        "gartenweg , hamburg altona nord",
        "platz der republik 1, frankfurt westend",
    ]
    got = _run(spark, addrs, simplify_address)
    for a, g in zip(addrs, got):
        assert g == py_simplify_address(a), (a, g, py_simplify_address(a))


def py_fix_weird_address(address: str) -> str:
    """Twin of the reference's fix_weird_address
    (geocoding_addresses.py:10-25): sequential str.replace, strip and
    ONE '  '->' ' pass per weird pattern, then ' ,' and the ordered
    misspelling chain."""
    from housing_crawler_spark.functions.strings import MISSPELLINGS, WEIRD_PATTERNS

    for weird in WEIRD_PATTERNS:
        address = address.replace(weird, "").strip().replace("  ", " ")
    address = address.replace(" ,", ",")
    for a, b in MISSPELLINGS:
        address = address.replace(a, b)
    return address


def test_fix_weird_address_matches_twin(spark):
    from housing_crawler_spark.functions.strings import (
        MISSPELLINGS,
        WEIRD_PATTERNS,
        fix_weird_address,
    )

    # every literal pattern the reference enumerates, embedded in
    # realistic addresses, plus adversarial compositions (pattern at
    # start/middle/end, doubles, the 'Halle ' false positive the
    # reference's 'alle ' rule hits — bug-compatible on purpose)
    addrs = (
        [f"{w} Musterstraße 1, Berlin" for w in WEIRD_PATTERNS]
        + [f"Musterweg 2 {w}, Berlin" for w in WEIRD_PATTERNS]
        + [f"{a} 3, Berlin" for a, _ in MISSPELLINGS]
        + [f"Kreuzweg {a} 4" for a, _ in MISSPELLINGS]
        + [
            "Halle an der Saale, Marktplatz 1",
            "Am S Bahnhof Am S Bahnhof Hauptstr 2",
            "xxxx Platzhalterweg 5",
            "  Warschschauer  Strs,  7  ",
            "NaheNahe Gartenweg 8",
            "Close To Close to close to Parkstr, 9",
            "Borndorfer srasse nummer zwei",
        ]
    )
    got = _run(spark, addrs, fix_weird_address)
    for a, g in zip(addrs, got):
        assert g == py_fix_weird_address(a), (a, g, py_fix_weird_address(a))
