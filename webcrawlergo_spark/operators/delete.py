"""S9 — URL delete with FK cascade, plus seen-set maintenance.

Reference: models/url.go:175-198 (DeleteById / DeleteByIds) with the
``ON DELETE CASCADE`` FK from pages to urls (models/sqlite/sqlite.go:64
and models/psql setup) — deleting a registry row removes its fetch
log too.

Spark shape: snapshot-isolation delete = rewrite-minus-anti-join over
the immutable state tables (the same stance the checkpoint store
takes instead of row CAS). The cascade is the url_id anti-join on the
pages log. The approximate seen-set tier stays consistent through
the CUCKOO filter (operators/seenset.py), which can forget keys — so
a deleted URL is re-discoverable by a later crawl
without rebuilding the fast path from the exact set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .seenset import cuckoo_delete_shards


def delete_urls_cascade(
    urls: DataFrame,
    pages: DataFrame,
    targets: DataFrame,
    seen: DataFrame | None = None,
    cuckoo_df: DataFrame | None = None,
    n_shards: int | None = None,
) -> dict[str, DataFrame]:
    """Delete ``targets`` (a df with either ``id`` or ``url``) from the
    registry, cascading to pages; optionally maintain the seen set and
    its deletable cuckoo tier (``cuckoo_df``, the executor-side shard
    table — the updated table is returned under ``"cuckoo"``; no
    driver-resident filter state anywhere). Returns the new state
    tables."""
    if "id" in targets.columns and "id" in urls.columns:
        victims = urls.join(targets.select("id"), "id", "left_semi")
    else:
        victims = urls.join(targets.select("url"), "url", "left_semi")
    out: dict[str, DataFrame] = {
        "urls": urls.join(victims.select("url"), "url", "left_anti"),
        # FK cascade (sqlite.go:64): pages keyed by url or url_id
        "pages": (
            pages.join(victims.select("url"), "url", "left_anti")
            if "url" in pages.columns
            else pages.join(victims.selectExpr("id AS url_id"), "url_id", "left_anti")
        ),
    }
    if seen is not None:
        out["seen"] = seen.join(victims.select("url"), "url", "left_anti")
        if cuckoo_df is not None:
            # forget the keys in the approximate tier too — but ONLY
            # keys actually inserted (semi-join against `seen`):
            # cuckoo-deleting a never-inserted key can evict a
            # colliding fingerprint that belongs to a DIFFERENT url,
            # silently un-seeing it (ADVICE r4). One cogrouped job,
            # each task touching ONE shard's table.
            inserted = victims.select("url").join(
                seen.select("url"), "url", "left_semi"
            )
            out["cuckoo"] = cuckoo_delete_shards(
                cuckoo_df, inserted, n_shards=n_shards
            )
    return out
