"""Canonicalization: Spark expression == pure-Python twin; idempotence."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from housing_crawler_spark.functions.urls import (
    canonicalize_url,
    canonicalize_url_py,
    path_of,
    url_hash,
)

DIRTY = [
    "https://host-0001.example/list?page=3",
    "HTTPS://HOST-0001.example/list/?page=3",
    "https://host-0001.example:443/list?page=3#frag",
    "http://Host-2.example:80/ad/123/",
    "https://host-0001.example/list?utm_source=x&page=3",
    "https://host-0001.example/list?page=3&utm_campaign=y&b=2&a=1",
    "  https://host-0001.example/list?page=3  ",
    "https://host-0001.example/",
    "https://host-0001.example",
    "https://host-0001.example/ad/9?asset_id=7",
    "https://host-0001.example/ad/9?fbclid=abc&gclid=def&ref=z",
    "https://host-0001.example/a/b/c?z=1&y=2&x=3",
]


def _hosts_strategy():
    host = st.sampled_from(["host-0001.example", "HOST-0001.Example", "h.EX"])
    path = st.sampled_from(["", "/", "/list", "/list/", "/ad/12", "/a/b/"])
    q = st.sampled_from(
        ["", "?page=1", "?utm_source=a", "?b=2&a=1", "?page=2&utm_x=1&a=0"]
    )
    frag = st.sampled_from(["", "#x", "#a/b?c=1"])
    scheme = st.sampled_from(["http", "https", "HTTPS"])
    return st.builds(
        lambda s, h, p, qq, f: f"{s}://{h}{p}{qq}{f}", scheme, host, path, q, frag
    )


@given(_hosts_strategy())
@settings(max_examples=300, deadline=None)
def test_python_twin_idempotent(url):
    c1 = canonicalize_url_py(url)
    assert canonicalize_url_py(c1) == c1


def test_spark_matches_python_twin(spark):
    rng = random.Random(42)
    urls = DIRTY + [
        f"https://host-{rng.randint(0, 20):04d}.example/ad/{rng.randint(0, 999)}"
        + rng.choice(["", "/", "?page=2", "?utm_source=t&page=2#f", ":443/x"])
        for _ in range(200)
    ]
    # ':443/x' appended after the path is junk-but-parseable; drop those
    urls = [u for u in urls if "example:443/x" not in u or u.startswith("https")]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r["c"]
        for r in df.select(canonicalize_url(F.col("url")).alias("c"))
        .collect()
    ]
    want = [canonicalize_url_py(u) for u in urls]
    assert got == want


def test_host_path_extraction(spark):
    df = spark.createDataFrame([("https://h.ex/a/b?q=1",)], "url string")
    row = df.select(
        path_of(F.col("url")).alias("p"),
        url_hash(F.col("url")).alias("k"),
    ).collect()[0]
    assert row["p"] == "/a/b"
    assert isinstance(row["k"], int)
