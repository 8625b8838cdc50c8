"""Seen-tier probe vs exact-anti-join crossover microbench.

Calibrates CrawlConfig.bloom_probe_min_seen (the cuckoo probe gate):
times the J2 dedup of a fixed 1M-candidate wave (50% already seen)
against a growing seen set, as (a) the plain anti-join and (b) the
sharded cuckoo probe + exact confirm. The gate default is set where (b) starts winning on this
host; on a multi-node cluster the anti-join additionally pays a
network shuffle+sort of the whole seen set, so the crossover falls
sharply (size the gate ~4x the expected wave candidate count there).

Usage: python tools/bloom_crossover.py [N ...]   (seen sizes)
Prints one JSON line per N with median-of-3 seconds for both paths.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from webcrawlergo_spark.operators.seenset import (  # noqa: E402
    build_cuckoo_shards,
    cuckoo_probe_sharded,
    dedup_new_urls,
)
from webcrawlergo_spark.session import get_spark  # noqa: E402

N_CAND = 1_000_000


def _urls(spark, a: int, b: int):
    return spark.range(a, b).select(
        F.concat(
            F.lit("https://h"), F.pmod(F.col("id"), 997), F.lit(".test/u"), F.col("id")
        ).alias("url")
    )


def main() -> None:
    sizes = [int(s) for s in sys.argv[1:]] or [1_000_000, 4_000_000, 16_000_000]
    spark = get_spark("tier-xover", cpus=32)
    for n_seen in sizes:
        seen = _urls(spark, 0, n_seen).localCheckpoint(eager=True)
        cand = _urls(spark, n_seen - N_CAND // 2, n_seen + N_CAND // 2).localCheckpoint(
            eager=True
        )
        cuckoo_df = build_cuckoo_shards(
            seen, n_shards=16, expected_per_shard=max(64_000, n_seen * 2 // 16)
        ).localCheckpoint(eager=True)
        dedup_new_urls(cand, seen).count()  # warm both plans
        row = {"n_seen": n_seen, "n_cand": N_CAND}
        for label in ("exact", "cuckoo"):
            ts = []
            for _ in range(3):
                t0 = time.time()
                if label == "exact":
                    n = dedup_new_urls(cand, seen).count()
                else:
                    flagged = cuckoo_probe_sharded(cand, cuckoo_df, n_shards=16).localCheckpoint(
                        eager=True
                    )
                    n_maybe = flagged.filter(F.col("maybe_seen")).count()
                    n = dedup_new_urls(
                        flagged, seen, maybe_col="maybe_seen", n_maybe=n_maybe
                    ).count()
                ts.append(time.time() - t0)
            row[label] = round(statistics.median(ts), 2)
            row[f"{label}_all"] = [round(t, 2) for t in ts]
            row["n_new"] = n
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
