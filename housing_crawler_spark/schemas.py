"""Explicit StructTypes for every engine table (no schema inference).

The reference reconciles schemas dynamically by NaN-filling unioned CSVs
(crawl_wggesucht.py:180-185); this engine fixes each table's shape up
front — additive evolution belongs to the snapshot/Iceberg layer."""

from __future__ import annotations

from pyspark.sql import types as T

FRONTIER = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_idx", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("listing_page_no", T.IntegerType(), False),
        T.StructField("card_idx", T.IntegerType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("next_round", T.IntegerType(), False),
    ]
)

# the known base and the known deltas share one shape: a frontier row
# plus its ``seen`` flag
KNOWN = T.StructType(
    FRONTIER.fields + [T.StructField("seen", T.BooleanType(), False)]
)

SEEN = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("first_seen_round", T.IntegerType(), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow_prefix", T.StringType(), True),
        T.StructField("crawl_delay_s", T.IntegerType(), False),
    ]
)

# fetch stage (mapInPandas) output
FETCHED = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_idx", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("listing_page_no", T.IntegerType(), False),
        T.StructField("card_idx", T.IntegerType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("out_links", T.ArrayType(T.StringType()), True),
        T.StructField("caption_raw", T.StringType(), True),
        T.StructField("n_images", T.IntegerType(), False),
        T.StructField("payload_seed", T.LongType(), False),
    ]
)

FETCH_LOG = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_idx", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
    ]
)

# BASELINE.json input_hint shape — the engine's output table
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)
