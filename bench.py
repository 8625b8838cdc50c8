"""Benchmark harness. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...},        # warm plan (2nd execution)
     "queries_cold": {name: sec, ...},   # 1st execution incl. planning+codegen
     "sf": ...,
     "crawl": {urls_per_sec, events, waves, ...},
     "crawl_cuckoo": {...},
     "crawl_cuckoo_probe": {...},
     "scaling": {"2v8": .., "8v32": .., "weak": ..}}  # with --scaling

Two workloads:
1. Headline relational/training queries at $SPARK_GRAFT_SF_DIR
   (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
2. The frontier crawl bench — the authoritative BASELINE.json metric:
   frontier URLs processed/sec through the full wave pipeline
   (dequeue → event-rank → fetch-sim → extract → canonicalize →
   validate → dedup → enqueue) over a distributed deterministic
   multi-host web (~2M pages/sf, 25% of pages on a single mega-host
   to exercise skew), BFS from one seed to frontier exhaustion.

--scaling additionally reruns the crawl bench at local[8] vs
local[32] on identical input and reports
efficiency = (urls_per_sec@32 / 32) / (urls_per_sec@8 / 8),
the sandbox stand-in for the N-vs-4N-executors criterion (no real
cluster here). Results are also appended to BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# headline queries: one per operator family (full set runs under the
# driver's correctness gate; bench times the expensive shapes)
HEADLINE = [
    "latest_pages",
    "group_agg_lineitem",
    "topk_orders",
    "urls_never_fetched",
    "href_token_extract",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "cosine_topk",
    "ann_lsh_topk",
    "pq_adc_topk",
    "lang_id",
    "quality_score",
    "token_count",
    "doc_fingerprint",
    "repetition_score",
    "contamination_check",
    "pmi_phrases",
    "tfidf_topterms",
    "dsir_logratio",
    "duplicate_runs",
    "bm25_topk",
    "purchases_asof_clicks",
    "hll_distinct",
    "exact_percentiles",
    "range_join_error_windows",
    "weighted_sample_topk",
    "wav_decode_stats",
    "image_decode_stats",
    "video_decode_stats",
    "neardup_clusters",
    "crawl_bfs_depth",
    "recrawl_priority",
    "link_pagerank",
    "hits_scores",
    "phrase_search",
    "winnowing_pairs",
    "semdedup_keep",
    "cms_heavy_hitters",
    "chunk_documents",
]


def sf_of(sf_dir: str) -> float:
    tag = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(tag.replace("sf", ""))
    except ValueError:
        return 0.1


def run_queries(spark, sf_dir: str) -> tuple[dict[str, float], dict[str, float]]:
    """Each query twice: run 1 (cold) includes Catalyst planning +
    whole-stage codegen compilation — for the iterative queries
    (crawl_bfs_depth builds 7 per-wave plans) that is seconds of
    one-time JVM work and was the r2 builder-vs-driver measurement
    mystery (6.8 s vs 11.2 s = warm vs cold+noise). Run 2 (warm)
    times the plan itself. Both are reported; `queries` carries warm,
    `queries_cold` the first-execution cost."""
    import __spark_entry__ as entry

    # retired-from-driver entries are still benchmarkable operators
    qs = {**entry.retired_queries(), **entry.queries()}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        for out in (cold, warm):
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()  # execute the full plan; don't ship rows to the driver
            out[name] = round(time.time() - t0, 3)
            assert n >= 0
    return cold, warm


def crawl_bench(
    spark,
    n_pages: int,
    seen_mode: str = "exact",
    links_per_page: int = 16,
    seed_frac: int = 20,  # 1/seed_frac of pages are seeds (the seed list)
    **cfg_extra,
) -> dict:
    """The frontier throughput workload (BASELINE.json metric).

    A wide seed list (5% of pages) + 16 links/page keeps every wave
    large, so the measurement is pipeline throughput, not per-wave
    scheduling overhead — the regime a 10^10-URL frontier lives in.
    """
    from pyspark.sql import functions as F

    from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine
    from webcrawlergo_spark.sources.synthweb import scale_web_df

    web = scale_web_df(spark, n_pages=n_pages, links_per_page=links_per_page).localCheckpoint(
        eager=True
    )
    # spans carry real <a href> markup inside filler prose so the bench
    # exercises the true scan→extract→canonicalize path over realistic
    # page-sized text, not a links-only shortcut
    filler = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(59)),
            lambda i: F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("page_id"), i), 99991).cast("string")),
        ),
    )
    docs = web.select(
        "doc_id",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat_ws(
                    " ",
                    filler,
                    F.concat_ws(
                        " ",
                        F.transform(F.col("links"), lambda l: F.concat(F.lit('some text <a href="'), l, F.lit('"> anchor'))),
                    ),
                    filler,
                ).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    ).localCheckpoint(eager=True)
    index = web.select("url", "doc_id", F.lit(200).alias("status"), F.lit(0).alias("fail_times"))
    index = index.localCheckpoint(eager=True)

    seed_url = web.filter(F.col("page_id") == 0).select("url").collect()[0]["url"]
    seeds = (
        web.filter((F.col("page_id") % seed_frac == 0) & (F.col("page_id") != 0))
        .select(
            "url", "host", F.lit(0).alias("depth"),
            F.lit(-1).cast("long").alias("parent_rank"),
            F.col("page_id").cast("int").alias("span_offset"),
            F.lit(0).alias("link_pos"),
            F.lit(False).alias("should_fetch"), F.lit(0).alias("retry_count"),
        )
        .localCheckpoint(eager=True)
    )
    cfg = CrawlConfig(
        base_url=seed_url,
        marked_paths=[],
        ignore_patterns=[],
        retry_times=0,
        same_host_only=False,
        seen_mode=seen_mode,
        analyze_pages=True,    # crawl-time analytics: the full pipeline
        content_minhash=True,  # + in-flight near-dup signatures (8 seeds)
        **cfg_extra,
    )
    eng = CrawlEngine(spark, index, docs, [], cfg)
    t0 = time.time()
    res = eng.run(extra_frontier=seeds)
    n_events = res.events.count()
    n_stats = res.page_stats.count()
    dt = time.time() - t0
    return {
        "n_pages": n_pages,
        "events": n_events,
        "pages_analyzed": n_stats,
        "waves": res.waves,
        "seconds": round(dt, 2),
        "urls_per_sec": round(n_events / dt, 1),
        "seen_mode": seen_mode,
    }


def make_spark(cpus: int):
    from webcrawlergo_spark.session import get_spark

    return get_spark(f"bench-{cpus}", cpus=cpus, shuffle_partitions=max(cpus, 8))


def main() -> None:
    sf = sf_of(SF_DIR)
    n_pages = max(10_000, int(2_000_000 * sf))
    do_scaling = "--scaling" in sys.argv or os.environ.get("SPARK_GRAFT_SCALING") == "1"

    t_start = time.time()
    spark = make_spark(CPUS)
    # JIT/session warmup so per-query numbers measure the plan, not
    # first-query JVM compilation
    spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).count()
    spark.range(1_000_000).selectExpr("md5(cast(id as string)) h").agg({"h": "max"}).collect()
    queries_cold, queries = run_queries(spark, SF_DIR)
    # crawl warmups: one exact leg, one cuckoo leg with the probe gate
    # forced open — the sharded-probe / lazy-absorb plans JIT-compile
    # here so the measured legs compare plans, not codegen
    crawl_bench(spark, max(10_000, n_pages // 4))
    crawl_bench(spark, max(10_000, n_pages // 4), seen_mode="cuckoo", bloom_probe_min_seen=0)
    # THREE measured legs. crawl_cuckoo = cuckoo mode AS SHIPPED: below
    # the measured crossover gate (CrawlConfig.bloom_probe_min_seen,
    # tools/bloom_crossover.py) the engine runs the exact join with NO
    # shard state (r4: shards are built once at gate-crossing), so at
    # bench corpus sizes this leg measures the adaptive default, NOT
    # the probe. crawl_cuckoo_probe forces the gate open so the sharded
    # cogroup probe + broadcast confirm path is measured too — both
    # are recorded, neither is assumed. The exact/cuckoo legs are
    # INTERLEAVED ×3 and the median leg reported: the host shows ±5%
    # session-ordering drift, larger than the real mode difference
    # (below the gate the two run the same per-wave plan).
    exact_legs, cuckoo_legs = [], []
    for _rep in range(3):
        exact_legs.append(crawl_bench(spark, n_pages))
        cuckoo_legs.append(crawl_bench(spark, n_pages, seen_mode="cuckoo"))

    def median_leg(legs: list[dict]) -> dict:
        leg = sorted(legs, key=lambda r: r["urls_per_sec"])[len(legs) // 2]
        leg["urls_per_sec_all"] = [r["urls_per_sec"] for r in legs]
        return leg

    crawl = median_leg(exact_legs)
    crawl_cuckoo = median_leg(cuckoo_legs)
    crawl_cuckoo_probe = crawl_bench(
        spark, n_pages, seen_mode="cuckoo", bloom_probe_min_seen=0
    )
    result = {
        "metric": "frontier URLs processed/sec (dequeue→fetch-sim→dedup→enqueue) + headline query suite",
        "value": round(time.time() - t_start, 2),
        "unit": "sec",
        "queries": queries,
        "queries_cold": queries_cold,
        "sf": sf,
        "cpus": CPUS,
        "crawl": crawl,
        "crawl_cuckoo": crawl_cuckoo,
        "crawl_cuckoo_probe": crawl_cuckoo_probe,
    }

    if do_scaling:
        spark.stop()
        # both N-vs-4N pairs (BASELINE protocol allows either; the host
        # itself stops scaling past ~8 threads — reported side by side
        # with the pure-compute host probe in BENCH.md), plus the
        # weak-scaling protocol (fixed work PER core — the honest
        # scaling story a bandwidth-shared single host permits)
        result["scaling"] = {
            "2v8": run_scaling(n_pages=1_000_000, n_lo=2, n_hi=8),
            "8v32": run_scaling(n_pages=1_000_000, n_lo=8, n_hi=32),
            "weak": run_weak_scaling(),
        }
    else:
        spark.stop()

    print(json.dumps(result))


def run_scaling(n_pages: int, n_lo: int = 8, n_hi: int = 32, reps: int = 3) -> dict:
    """N-vs-4N scaling evidence (sandbox stand-in for two cluster sizes).

    Protocol: identical input, legs interleaved (lo, hi, lo, hi, …),
    fresh JVM + JIT-warmup crawl per leg, ``reps`` runs per leg. The
    host shows ±40% run-to-run noise, so BOTH the median and the
    min-based efficiency are reported — min is the better estimator of
    the machine's actual capability under one-sided noise (a shared
    host can only ever slow a leg down, never speed it up).

    The corpus is sized so the per-wave fixed cost (plan + schedule +
    checkpoint latency, ~3-4 s/wave, core-count independent) is a
    small fraction of the run — at small corpora Amdahl's serial term
    dominates and no engine would show scaling.
    """
    import statistics

    times: dict[int, list[float]] = {n_lo: [], n_hi: []}
    warmup = min(150_000, max(50_000, n_pages // 5))
    events = 0
    for rep in range(reps):
        for n in (n_lo, n_hi):
            spark = make_spark(n)
            crawl_bench(spark, warmup)  # JIT warmup (fresh JVM every leg)
            r = crawl_bench(spark, n_pages)
            times[n].append(r["seconds"])
            events = r["events"]
            spark.stop()

    def eff(t_lo: float, t_hi: float) -> tuple[float, float, float]:
        rate_lo, rate_hi = events / t_lo, events / t_hi
        return rate_lo, rate_hi, (rate_hi / n_hi) / (rate_lo / n_lo)

    rl_med, rh_med, eff_med = eff(statistics.median(times[n_lo]), statistics.median(times[n_hi]))
    rl_min, rh_min, eff_min = eff(min(times[n_lo]), min(times[n_hi]))
    return {
        "n_pages": n_pages,
        "events": events,
        "cores": [n_lo, n_hi],
        "seconds_all": times,
        f"urls_per_sec@{n_lo}": round(rl_med, 1),
        f"urls_per_sec@{n_hi}": round(rh_med, 1),
        "speedup": round(rh_med / rl_med, 3),
        "efficiency": round(eff_med, 3),
        "efficiency_min_based": round(eff_min, 3),
        f"best_urls_per_sec@{n_lo}": round(rl_min, 1),
        f"best_urls_per_sec@{n_hi}": round(rh_min, 1),
    }


def run_weak_scaling(per_core_pages: int = 31_250, cores=(2, 8, 32), reps: int = 3) -> dict:
    """Weak-scaling protocol: the corpus grows WITH the core count
    (fixed pages per core), so the ideal is CONSTANT wall time and
    efficiency(n) = t(cores[0]) / t(n). On this bandwidth-shared
    single host it is the honest scaling protocol: strong scaling
    pins total work and is bounded by the memory subsystem past ~8
    threads (see the pure-compute host probe in BENCH.md), while
    weak scaling asks the question a cluster operator actually asks
    — 'can 4x the machines crawl 4x the web in the same time?'.
    Same hygiene as run_scaling: interleaved legs, fresh JVM +
    warmup crawl per leg, median AND min (one-sided shared-host
    noise can only slow a leg down)."""
    import statistics

    times: dict[int, list[float]] = {n: [] for n in cores}
    events: dict[int, int] = {}
    for rep in range(reps):
        for n in cores:
            spark = make_spark(n)
            crawl_bench(spark, max(20_000, per_core_pages * n // 5))  # JIT warmup
            r = crawl_bench(spark, per_core_pages * n)
            times[n].append(r["seconds"])
            events[n] = r["events"]
            spark.stop()
    base = cores[0]
    out: dict = {
        "per_core_pages": per_core_pages,
        "cores": list(cores),
        "events": events,
        "seconds_all": times,
    }
    for n in cores:
        med = statistics.median(times[n])
        out[f"sec@{n}"] = round(med, 2)
        out[f"urls_per_sec@{n}"] = round(events[n] / med, 1)
        out[f"weak_eff@{n}"] = round(statistics.median(times[base]) / med, 3)
        out[f"weak_eff_min@{n}"] = round(min(times[base]) / min(times[n]), 3)
    return out


if __name__ == "__main__":
    main()
