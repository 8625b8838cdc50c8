"""X1 — link extraction from interleaved span documents.

The reference walks ``<a href>`` anchors in document order
(reference crawler.go:376-401). Here the document is already the
span array (input_hint shape), so extraction is pure built-ins:

    posexplode(spans) → filter kind='text'
    → regexp_extract_all('<a href="([^"]*)"') → posexplode hrefs

Document order is preserved as computed columns: ``span_offset``
(span position) + ``link_pos`` (anchor index within the span) —
never an execution-order accident. Media spans yield no links
(FIXTURES.md §1). Fully JVM-side / whole-stage-codegen; the
canonicalizer (``normalize_expr``) runs *after* this, on the
already-exploded column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HREF_PATTERN = r'<a href="([^"]*)"'


def extract_links(docs: DataFrame, id_cols: list[str] | None = None) -> DataFrame:
    """docs(doc_id, spans, *extra) → (*id_cols, span_offset, link_pos, raw_href).

    ``id_cols`` are carried through (e.g. the fetching URL's event
    rank, so enqueue keys can be built downstream).
    """
    id_cols = id_cols or ["doc_id"]
    flat = docs.select(
        *id_cols, F.posexplode("spans").alias("_span_idx", "_span")
    ).select(
        *id_cols,
        F.col("_span.kind").alias("_kind"),
        F.col("_span.text").alias("_text"),
        F.col("_span.offset").alias("span_offset"),
    )
    return (
        flat.filter(F.col("_kind") == "text")
        .select(
            *id_cols,
            "span_offset",
            F.posexplode(F.regexp_extract_all("_text", F.lit(HREF_PATTERN), F.lit(1))).alias(
                "link_pos", "raw_href"
            ),
        )
    )
