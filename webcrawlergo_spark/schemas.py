"""Explicit StructTypes for the synthetic web's documents.

The reference declares fixed schemas in Go structs + SQL DDL
(reference models/sqlite/sqlite.go:50-65, models/url.go:50-59,
models/page.go:49-54). The crawl engine's tables are declared as DDL
strings next to the code that writes them (the ``*_COLS`` constants in
plans/wave.py); column semantics are documented in SURVEY.md §1.
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
