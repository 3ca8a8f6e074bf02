"""Explicit StructType schemas for every engine table (SURVEY.md §1).

The reference fixes schemas with Go structs (reference crawler.go:102-160);
we likewise never rely on inference in the hot path. The canonical payload
table shape is mandated by BASELINE.json ``input_hint``:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# --- payload -----------------------------------------------------------

SPAN = StructType(
    [
        StructField("kind", StringType(), False),       # 'text' | 'media' | 'link'
        StructField("text", StringType(), False),       # '' for media/link spans
        StructField("media_ref", StringType(), False),  # '' for text spans
        StructField("offset", IntegerType(), False),    # dense 0-based order
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),  # canonical URL of the page
        StructField("spans", ArrayType(SPAN, False), False),
    ]
)

# --- frontier state (FIXTURES.md §3) ------------------------------------

FRONTIER = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_norm", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("path", StringType(), False),
        StructField("round", IntegerType(), False),       # BFS depth
        StructField("parent_seq", LongType(), False),     # fetch seq of discoverer (0 seeds)
        StructField("link_pos", IntegerType(), False),    # in-page link position
        StructField("attempts", IntegerType(), False),
        StructField("not_before_round", IntegerType(), False),
    ]
)

SEEDS = StructType(
    [
        StructField("url", StringType(), False),
        StructField("priority", DoubleType(), False),
        StructField("seq", IntegerType(), False),
    ]
)

POLITENESS_BUDGET = StructType(
    [
        StructField("host", StringType(), False),
        StructField("max_fetches_per_round", IntegerType(), False),
        StructField("crawl_delay_ms", IntegerType(), False),
    ]
)

ROBOTS_RULES = StructType(
    [
        StructField("host", StringType(), False),
        StructField("rule", StringType(), False),       # 'allow' | 'deny'
        StructField("path_pfx", StringType(), False),
    ]
)

# --- fetch log (FIXTURES.md §7; stats source for SURVEY §2.4) ------------

FETCH_LOG = StructType(
    [
        StructField("url", StringType(), False),
        StructField("url_hash", LongType(), False),
        StructField("host", StringType(), False),
        StructField("seq", LongType(), False),        # per-host order = parity target
        StructField("round", IntegerType(), False),
        StructField("status", IntegerType(), False),
        StructField("content_type", StringType(), False),
        StructField("bytes", LongType(), False),
        StructField("error_class", StringType(), True),
        StructField("blocked", BooleanType(), False),
        StructField("lastmod", DateType(), True),
    ]
)

# the engine's fetch-log table: FETCH_LOG plus ``final``, true when the
# fetch took the URL out of the frontier for good (it was not requeued).
# The seen set is the ``final`` rows and the AIMD ledger a per-(host,
# round) count of the rows, so neither is stored apart from this table.
FETCH_LOG_TABLE = StructType(
    list(FETCH_LOG.fields) + [StructField("final", BooleanType(), False)]
)

# result of the fetch+extract kernel, before documents/links split.
# Frontier metadata (discovery keys, attempts, path) is CARRIED THROUGH
# the kernel so no join back to the schedule is needed afterwards — one
# less shuffle per round.
FETCH_RESULT = StructType(
    list(FETCH_LOG.fields)
    + [
        StructField("spans", ArrayType(SPAN, False), False),
        StructField("outlinks", ArrayType(StringType(), False), False),
        StructField("path", StringType(), False),
        StructField("disc_round", IntegerType(), False),
        StructField("parent_seq", LongType(), False),
        StructField("link_pos", IntegerType(), False),
        StructField("attempts", IntegerType(), False),
    ]
)

# --- JSON feed items (reference jsonfeed.go:25-32) ------------------------

FEED_ITEM = StructType(
    [
        StructField("headline", StringType(), True),
        StructField("link", StringType(), True),
        StructField("date", StringType(), True),
        StructField("datecode", StringType(), True),
        StructField("brief", StringType(), True),
        StructField("tags", StringType(), True),
    ]
)

# --- multimodal (opaque binary + typed metadata) ---------------------------

MEDIA_BLOB = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video|pdf|docx
        StructField("payload", BinaryType(), False),
        StructField("meta", MapType(StringType(), StringType(), False), False),
    ]
)
