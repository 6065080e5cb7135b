"""Explicit schemas for every engine table (SURVEY.md §1.3: schemas are
declared, never inferred — the driver's oracle compares schemas)."""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
SPANS = T.ArrayType(SPAN_STRUCT)

# the corpus shape mandated by BASELINE.json input_hint
DOCUMENTS_INTERLEAVED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPANS),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("seed_id", T.IntegerType(), False),
        T.StructField("parent_hash", T.LongType(), True),
        T.StructField("discovered_in_batch", T.IntegerType(), False),
        T.StructField("state", T.StringType(), False),
    ]
)

URL_SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
    ]
)

CRAWL_ORDER = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("batch", T.IntegerType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("seed_id", T.IntegerType(), False),
    ]
)

DOCUMENTS_OUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", SPANS),
        T.StructField("batch", T.IntegerType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("batch", T.IntegerType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("blocked_robots", T.LongType(), False),
        T.StructField("admitted", T.LongType(), False),
        T.StructField("deferred", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("discovered", T.LongType(), False),
        T.StructField("deduped", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
    ]
)

ROBOTS_CACHE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("rules_json", T.StringType(), True),
        # robots.txt Crawl-delay directive in seconds (de-facto standard
        # extension, not RFC 9309 core); NULL = none declared
        T.StructField("crawl_delay", T.IntegerType(), True),
        T.StructField("fetched_in_batch", T.IntegerType(), False),
    ]
)

HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("fetched_total", T.LongType(), False),
        T.StructField("last_batch", T.IntegerType(), False),
    ]
)

# Mercator content-seen test (opt-in, WebConfig.content_dedup): one row
# per DISTINCT fetched body — the first fetch (by seq) of each content
# hash is the canonical holder; later fetches of identical bytes keep
# their crawl_order slot but are neither indexed nor link-expanded.
CONTENT_SEEN = T.StructType(
    [
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("batch", T.IntegerType(), False),
    ]
)

# streaming ingestion deltas (streaming/pipeline.py::stream_frontier_to_catalog)
FRONTIER_INGEST = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("host_bucket", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# streaming near-dup maintenance (streaming/pipeline.py::
# stream_neardup_to_catalog): persisted signature index + pair log
MINHASH_INDEX = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sh", T.ArrayType(T.StringType()), True),
        T.StructField("sig", T.ArrayType(T.LongType()), True),
    ]
)

NEARDUP_PAIRS = T.StructType(
    [
        T.StructField("doc_a", T.LongType(), False),
        T.StructField("doc_b", T.LongType(), False),
        T.StructField("jaccard", T.DoubleType(), True),
    ]
)
