"""String normalization expressions (reference string_utils.py semantics,
re-expressed as native Spark SQL functions — SURVEY §2.8)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_caption(col: Column) -> Column:
    """Title/caption cleanup: strip quotes, newlines, tabs, semicolons,
    collapse runs of spaces, trim (reference crawl_wggesucht.py:288-289).
    Twin: synth.clean_caption_py."""
    s = F.regexp_replace(col, '["\\n\\t;]', "")
    s = F.regexp_replace(s, " +", " ")
    return F.trim(s)


def simplify_umlauts(col: Column) -> Column:
    """ä→ae, ö→oe, ü→ue, ß→ss (reference string_utils.py:12-17)."""
    s = F.regexp_replace(col, "ä", "ae")
    s = F.regexp_replace(s, "ö", "oe")
    s = F.regexp_replace(s, "ü", "ue")
    s = F.regexp_replace(s, "Ä", "Ae")
    s = F.regexp_replace(s, "Ö", "Oe")
    s = F.regexp_replace(s, "Ü", "Ue")
    return F.regexp_replace(s, "ß", "ss")


def german_characters(col: Column) -> Column:
    """Reverse transliteration: ``_``→space, ae→ä, oe→ö, ue→ü, and
    ss→ß EXCEPT for Düsseldorf (reference string_utils.py:12-17 applies
    the ß rule only when the restored word is not 'Düsseldorf')."""
    s = F.regexp_replace(col, "_", " ")
    s = F.regexp_replace(s, "ae", "ä")
    s = F.regexp_replace(s, "oe", "ö")
    s = F.regexp_replace(s, "ue", "ü")
    return F.when(F.lower(s) == "düsseldorf", s).otherwise(
        F.regexp_replace(s, "ss", "ß")
    )


def capitalize_city(col: Column) -> Column:
    """City-name capitalization (reference string_utils.py:32-48): for
    exactly-3-word names capitalize only the first and last word and
    leave the middle untouched ('Frankfurt am Main', 'Rio de Janeiro');
    otherwise capitalize every word. F.initcap alone gets the 3-word
    case wrong ('Frankfurt Am Main')."""
    words = F.split(col, " ")
    three = F.concat_ws(
        " ",
        F.initcap(F.element_at(words, 1)),
        F.element_at(words, 2),
        F.initcap(F.element_at(words, 3)),
    )
    return F.when(F.size(words) == 3, three).otherwise(F.initcap(col))


# Address-hygiene constants (reference geocoding_addresses.py:10-25):
# the weird-pattern strips run first, each followed by strip() and ONE
# non-overlapping '  '->' ' pass, exactly like the reference loop; then
# ' ,'->',' and the misspelling chain, in the reference's order (order
# matters: 'xxx' strips before 'xx'; 'strs,' expands before 'str,').
WEIRD_PATTERNS = (
    "Am S Bahnhof",
    "xxx",
    "xx",
    "Nahe",
    "nahe",
    "Nähe",
    "nähe",
    "Close To",
    "Nearby",
    "nearby",
    "Close To",
    "Close to",
    "close to",
    "close To",
)

MISSPELLINGS = (
    ("srasse", "strasse"),
    ("strs,", "strasse,"),
    ("str,", "strasse,"),
    ("Strs,", "Strasse,"),
    ("Str,", "Strasse,"),
    ("stasse,", "strasse,"),
    ("Stasse,", "Strasse,"),
    ("Strß,", "Straße,"),
    ("strasze,", "strasse,"),
    ("Strasze,", "Strasse,"),
    ("Alle ", "Allee "),
    ("alle ", "Allee "),
    ("Alle,", "Allee,"),
    ("alle,", "Allee,"),
    ("feder", "felder"),
    ("kungerstrasse", "kunger strasse"),
    ("nummer zwei", "2"),
    ("Schonehauser", "Schönhauser"),
    ("Warschschauer", "Warschauer"),
    ("Dunkerstraße", "Dunckerstraße"),
    ("Reinstraße", "Rheinstraße"),
    ("Neltstraße", "Neltestraße"),
    ("Camebridger", "Cambridger"),
    ("Koperniskusstraße", "Kopernikusstraße"),
    ("Düsseldoffer", "Düsseldorfer"),
    ("Borndorfer", "Bornsdorfer"),
)


def fix_weird_address(col: Column) -> Column:
    """Address typo/noise correction feeding the geocode join (reference
    geocoding_addresses.py:10-25): strip the weird location qualifiers
    ('Nahe', 'Close To', placeholder x-runs), then apply the user-
    misspelling replace chain ('srasse'→'strasse', 'Warschschauer'→
    'Warschauer', …). Pure literal replaces — bug-compatible with the
    reference, including single-pass space collapsing and the 'Halle '→
    'HAllee ' quirk of the 'alle ' rule."""
    s = col
    for w in WEIRD_PATTERNS:
        s = F.replace(F.trim(F.replace(s, F.lit(w), F.lit(""))), F.lit("  "), F.lit(" "))
    s = F.replace(s, F.lit(" ,"), F.lit(","))
    for a, b in MISSPELLINGS:
        s = F.replace(s, F.lit(a), F.lit(b))
    return s


def fix_weird_address_sql(expr: str) -> str:
    """DuckDB twin of fix_weird_address (nested replace/trim chain)."""
    s = expr
    for w in WEIRD_PATTERNS:
        s = f"replace(trim(replace({s}, '{w}', '')), '  ', ' ')"
    s = f"replace({s}, ' ,', ',')"
    for a, b in MISSPELLINGS:
        s = f"replace({s}, '{a}', '{b}')"
    return s


def simplify_address(col: Column) -> Column:
    """Address canonicalization (reference string_utils.py:50-68):
    '<street-words> <houseN>, <city> <neighborhood...>' →
    '<Street> <houseN>, <Neighborhood>, <City>' with per-word
    capitalization and the 'str ' → 'straße ' expansion. Same split /
    first-digit-run / first-nondigit-run semantics as the reference,
    expressed as one native column expression."""
    parts = F.split(col, ",")
    street_house = F.element_at(parts, 1)
    street = F.initcap(F.trim(F.regexp_extract(street_house, r"(\D+)", 1)))
    house_n = F.regexp_extract(street_house, r"(\d+)", 1)
    cn = F.split(F.element_at(parts, 2), " ")
    # element 1 is the empty string before the leading space (reference
    # indexes [1] for city, [2:] for neighborhood)
    city = F.initcap(F.element_at(cn, 2))
    neigh = F.initcap(F.concat_ws(" ", F.slice(cn, 3, F.greatest(F.size(cn) - 2, F.lit(0)))))
    assembled = F.concat_ws(
        ", ", F.concat_ws(" ", street, house_n), F.concat_ws(", ", neigh, city)
    )
    # the reference assembles then post-fixes: 'str ' → 'straße ',
    # ' ,' → ',', collapse double spaces, trim
    assembled = F.replace(assembled, F.lit("str "), F.lit("straße "))
    assembled = F.replace(assembled, F.lit(" ,"), F.lit(","))
    return F.trim(F.replace(assembled, F.lit("  "), F.lit(" ")))
