"""Explicit StructTypes for every engine table.

The reference declares fixed schemas in Go structs + SQL DDL
(reference models/sqlite/sqlite.go:50-65, models/url.go:50-59,
models/page.go:49-54); we declare the Spark equivalents here and
never infer. Column semantics documented in SURVEY.md §1.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- span: the interleaved text+media unit (BASELINE.json input_hint) ---
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # "text" | "media"
        T.StructField("text", T.StringType(), False),       # prose w/ embedded hrefs; "" for media
        T.StructField("media_ref", T.StringType(), False),  # img://... ; "" for text
        T.StructField("offset", T.IntegerType(), False),    # document order (ascending)
    ]
)

# docs(doc_id, spans) — the interleaved-document table (SURVEY §1.2).
DOCS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN, containsNull=False), False),
    ]
)

# urls — persistent frontier/URL registry (reference models/sqlite/sqlite.go:50-58).
URLS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),            # xxhash64(url): deterministic, parallel-safe
        T.StructField("url", T.StringType(), False),         # canonical, case-sensitive unique
        T.StructField("first_encountered", T.TimestampType(), False),
        T.StructField("last_checked", T.TimestampType(), True),
        T.StructField("last_saved", T.TimestampType(), True),
        T.StructField("is_monitored", T.BooleanType(), False),
        T.StructField("is_alive", T.BooleanType(), False),
        T.StructField("version", T.IntegerType(), False),    # schema parity; MERGE replaces CAS
    ]
)

# pages — append-only fetch log (reference models/sqlite/sqlite.go:59-65);
# content string replaced by doc_id → docs.spans per input_hint.
PAGES = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("url_id", T.LongType(), False),
        T.StructField("added_at", T.TimestampType(), False),
        T.StructField("doc_id", T.StringType(), False),
    ]
)

# frontier — materialization of the reference's in-memory UniqueQueue
# (reference queue/queue.go:19-24) as a table; ordering columns give the
# deterministic n=1 crawl order (SURVEY §3.1 contract).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),        # partition key (salted at scale)
        T.StructField("depth", T.IntegerType(), False),      # BFS wave number
        T.StructField("parent_rank", T.LongType(), False),   # crawl rank of discovering page
        T.StructField("span_offset", T.IntegerType(), False),# offset of discovering span
        T.StructField("link_pos", T.IntegerType(), False),   # position of href within the span
        T.StructField("should_fetch", T.BooleanType(), False),  # queue map value (queue/queue.go:15-17)
        T.StructField("retry_count", T.IntegerType(), False),
        T.StructField("marked", T.BooleanType(), False),
    ]
)

# per-partition lineage row committed every wave (north rule).
LINEAGE = T.StructType(
    [
        T.StructField("wave_id", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("dequeued", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("deduped", T.LongType(), False),
        T.StructField("enqueued", T.LongType(), False),
    ]
)

# invalid-URL cache (reference crawler.go:50-53).
INVALID_URLS = T.StructType([T.StructField("url", T.StringType(), False)])

# TPC-H-ish testdata tables (TESTDATA.md) — names only; parquet carries schema.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
