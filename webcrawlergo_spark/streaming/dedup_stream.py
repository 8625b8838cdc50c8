"""Streaming first-encounter dedup — the crawl seen-set as a
Structured Streaming operator (SURVEY §2.9 extension surface).

The reference's UniqueQueue admits each URL once for its whole
lifetime (queue/queue.go:99-110, J2/U1); the batch engine expresses
that as the seen-set anti-join (operators/seenset.py). This is the
same contract as an UNBOUNDED STREAM: ``dropDuplicates`` keeps
per-key state in the streaming state store and emits only the first
encounter of each key, across micro-batches, forever.

Which representative row is "first" depends on partition race order,
so the operator projects to the KEY COLUMNS before deduplicating —
the emitted set is then exactly the distinct key set, deterministic
and oracle-checkable (batch twin: SELECT DISTINCT), while the state
machinery exercised is the real streaming seen-set.

Scale note: the state store holds every key ever seen — exactly the
crawl's lifetime-dedup semantics. At 10^10 keys that state is what
the cuckoo shard tier bounds in the batch engine; Structured
Streaming's own bounded variant is dropDuplicatesWithinWatermark
when the contract allows expiry, which this one (lifetime dedup)
does not.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

_QUERY_SEQ = [0]


def stream_dedup_distinct(
    spark: SparkSession, sf_dir: str, query_name: str | None = None
) -> DataFrame:
    """events parquet → file stream → dropDuplicates on
    (user_id, event_type) → append-mode memory sink; returns the
    drained sink (one row per distinct key, first-encounter
    semantics)."""
    if query_name is None:
        _QUERY_SEQ[0] += 1
        query_name = f"dedup_out_{_QUERY_SEQ[0]}"
    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage = os.path.join(
        "/tmp",
        "webcrawlergo_stream_src",
        hashlib.md5(sf_dir.encode()).hexdigest()[:12],
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass  # two sessions share the stage dir (ADVICE r5 TOCTOU)
    stream = spark.readStream.schema(batch_schema).parquet(stage)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # materialize off the memory sink, then DROP the sink table
    # (ADVICE r5): each invocation otherwise left a dedup_out_N view
    # pinning its full distinct key set in driver memory for the
    # session's lifetime (bench cold+warm, test loops)
    out = spark.sql(
        f"SELECT user_id, event_type FROM {query_name}"
    ).localCheckpoint(eager=True)
    spark.catalog.dropTempView(query_name)
    return out.orderBy("user_id", "event_type")


STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""
