"""URL canonicalization + keying.

The reference dedupes on raw url/id string membership
(crawl_wggesucht.py:292-299) and never normalizes; at 10^10-URL scale the
seen set must key on a *canonical* form so trivially-different spellings
of the same page don't multiply state. Canonical semantics (applied
identically by the Spark expression builder and the pure-Python twin used
by the reference simulator oracle):

1. trim surrounding whitespace
2. lowercase scheme and host (path/query case preserved)
3. drop the fragment (#...)
4. drop tracking query params (utm_*, ref, fbclid, gclid, asset_id)
5. sort surviving query params byte-lexicographically (stable total order)
6. drop explicit default ports (:80 for http, :443 for https)
7. strip one trailing slash from a non-root path

The whole pipeline is native Spark SQL expressions — regexp/split/
array_sort/concat — so it runs JVM-side inside whole-stage codegen; the
Python twin exists only for the single-process oracle and property tests
(canonicalize is idempotent; twin == Spark on arbitrary inputs).

Key: ``url_hash = xxhash64(canonical_url)`` (F.xxhash64, seed 42).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PARAMS = ("utm_", "ref=", "fbclid=", "gclid=", "asset_id=")


def canonicalize_url(url: Column) -> Column:
    """Build the canonical-URL Column from a raw URL Column (native exprs)."""
    u = F.trim(url)
    # 3. drop fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # split scheme://hostport / path ? query
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    qs = F.when(rest.contains("?"), F.regexp_extract(rest, r"\?(.*)$", 1)).otherwise(
        F.lit(None)
    )

    # 6. default ports
    hostport = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.regexp_replace(hostport, r":80$", ""),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.regexp_replace(hostport, r":443$", ""),
    ).otherwise(hostport)

    # 7. trailing slash on non-root path
    path = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.regexp_replace(path, r"/$", ""),
    ).otherwise(path)
    path = F.when(path == "", F.lit("/")).otherwise(path)

    # 4+5. filter tracking params, sort the rest
    parts = F.split(qs, "&")
    kept = F.filter(
        parts,
        lambda p: (F.length(p) > 0)
        & ~F.exists(
            F.array(*[F.lit(t) for t in TRACKING_PARAMS]),
            lambda t: p.startswith(t),
        ),
    )
    sorted_q = F.array_join(F.array_sort(kept), "&")
    query_part = F.when(
        qs.isNotNull() & (F.size(kept) > 0), F.concat(F.lit("?"), sorted_q)
    ).otherwise(F.lit(""))

    return F.concat(scheme, F.lit("://"), hostport, path, query_part)


def url_hash(canonical: Column) -> Column:
    """64-bit stable key for the seen set / frontier partitioning.

    Note: ``F.xxhash64`` takes COLUMNS, not a seed — extra args are
    hashed as additional fields. Spark fixes the seed at 42, and the
    pure-Python twin (functions/hashing.py) matches that default.
    """
    return F.xxhash64(canonical)


def path_of(canonical: Column) -> Column:
    return F.regexp_extract(canonical, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?]*)", 1)


# ---------------------------------------------------------------------------
# Pure-Python twin (simulator oracle + property tests only — never in a
# Spark hot path)
# ---------------------------------------------------------------------------


def canonicalize_url_py(url: str) -> str:
    u = url.strip()
    hash_pos = u.find("#")
    if hash_pos >= 0:
        u = u[:hash_pos]
    scheme_end = u.find("://")
    scheme = u[:scheme_end].lower()
    rest = u[scheme_end + 3 :]
    # hostport = up to first / ? or end
    cut = len(rest)
    for ch in "/?":
        p = rest.find(ch)
        if p >= 0:
            cut = min(cut, p)
    hostport = rest[:cut].lower()
    tail = rest[cut:]
    qpos = tail.find("?")
    if qpos >= 0:
        path, qs = tail[:qpos], tail[qpos + 1 :]
    else:
        path, qs = tail, None
    if scheme == "http" and hostport.endswith(":80"):
        hostport = hostport[:-3]
    elif scheme == "https" and hostport.endswith(":443"):
        hostport = hostport[:-4]
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    if path == "":
        path = "/"
    query_part = ""
    if qs is not None:
        kept = [
            p
            for p in qs.split("&")
            if p and not any(p.startswith(t) for t in TRACKING_PARAMS)
        ]
        if kept:
            query_part = "?" + "&".join(sorted(kept))
    return f"{scheme}://{hostport}{path}{query_part}"
