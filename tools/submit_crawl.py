"""spark-submit entry point for a cluster crawl run.

    spark-submit --py-files dist/webcrawlergo_spark.zip tools/submit_crawl.py \\
        --web-index s3://bucket/web_index --docs s3://bucket/docs \\
        --base-url https://example.test \\
        --checkpoint-dir s3://bucket/ckpt --seen-mode cuckoo \\
        [--resume] [--marked /news/ /blog/]

Inputs are parquet tables in the engine's shapes:
  web_index(url, doc_id, status, fail_times), docs(doc_id, spans),
  robots.json lines of (host, robots_txt, status).
The session comes from spark-submit's own conf (no local[] builder
here); the engine only adds AQE + shuffle settings it depends on.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--web-index", required=True)
    p.add_argument("--docs", required=True)
    p.add_argument("--robots", default=None, help="JSON-lines file of [host, robots_txt, status]")
    p.add_argument("--base-url", required=True)
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--seen-mode", default="exact", choices=["exact", "cuckoo"])
    p.add_argument("--marked", nargs="*", default=[])
    p.add_argument("--ignore", nargs="*", default=[])
    p.add_argument(
        "--resume", action="store_true",
        help="continue the crawl in --checkpoint-dir; without it the directory must be empty",
    )
    p.add_argument("--same-host-only", action="store_true")
    p.add_argument("--max-waves", type=int, default=10_000)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine

    spark = (
        SparkSession.builder.appName("webcrawlergo-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    robots = []
    if args.robots:
        with open(args.robots) as f:
            robots = [tuple(json.loads(line)) for line in f if line.strip()]

    cfg = CrawlConfig(
        base_url=args.base_url,
        marked_paths=args.marked,
        ignore_patterns=args.ignore,
        seen_mode=args.seen_mode,
        same_host_only=args.same_host_only,
        checkpoint_dir=args.checkpoint_dir,
        max_waves=args.max_waves,
    )
    eng = CrawlEngine(
        spark,
        spark.read.parquet(args.web_index),
        spark.read.parquet(args.docs),
        robots,
        cfg,
    )
    res = eng.run(resume=args.resume)
    summary = res.lineage.groupBy().sum("dequeued", "fetched", "enqueued").collect()[0]
    print(
        json.dumps(
            {
                "waves": res.waves,
                "dequeued": summary["sum(dequeued)"],
                "fetched": summary["sum(fetched)"],
                "enqueued": summary["sum(enqueued)"],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
