"""The crawl workload.

A crawl of a multi-host web from a narrow seed list under a per-host
politeness cap, so it runs as small waves whose cost is
mostly the per-wave fixed cost:

- the cap binds on the mega-host from the first wave, so overflow rows
  are deferred (``operators.sampling``); every wave stays under
  ``plans.rank.SMALL_BATCH`` rows;
- the cuckoo seen tier is forced on (``bloom_probe_min_seen=0``) and
  probes every wave's candidates (``operators.seenset``);
- extract/canonicalize/validate run on every fetched page;
- every wave is committed to a checkpoint (``plans.checkpoint``); the
  crawl stops after ``KILL_WAVES`` waves (a simulated kill) and a fresh
  engine resumes it to ``WAVES`` waves in all.

Each wave costs seconds whatever its size, so two waves are all a run
can afford: the crawl measures the engine's start-up, its per-wave
fixed cost and its restart.

A run crawls exactly once, and ``--seconds`` does not change that: the
measured crawl is the first one in the JVM, as in a fresh crawler
process, so its time includes Spark's code generation for the crawl's
plans. (A warm-up crawl costs more than a minute on a 4-vCPU host, more
than the run can afford. The web build in set-up is the session's first
Spark work and takes the session's own warm-up.)
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import statistics
import time

import numpy as np

from cpuclock import tree_cpu_s
from webgen import Web, WebSpec, build_web, crawl_waves, digest

SPEC = WebSpec(n_pages=20_000, links_per_page=4, seed_share=0.02, filler_words=5)
CAP = 20                # politeness_max_per_host_per_wave
KILL_WAVES = 1          # waves before the simulated kill
WAVES = 2               # waves in all; the frontier is not empty then
MARKER = "/p7"          # marked path: these pages are saved


@dataclasses.dataclass
class Expected:
    events: int         # fetches
    order: list[str]    # ok events in fetch order
    seen: set[str]
    pages: list[str]    # saved pages, sorted
    waves: int


def expected(web: Web) -> Expected:
    waves, seen = crawl_waves(web, CAP, WAVES)
    fetched = np.concatenate(waves)
    order = [str(u) for u in web.urls[fetched]]
    pages = sorted(u for u in order if MARKER in u)
    return Expected(fetched.size, order, set(web.urls[seen]), pages, len(waves))


def _urls(df) -> list[str]:
    return df.toArrow().column(0).to_pylist()


def check(res, n_events: int, exp: Expected) -> list[str]:
    """Compare a crawl's outputs with the golden crawl; returns the
    mismatches found (empty when the crawl is correct)."""
    from pyspark.sql import functions as F

    bad = []
    if n_events != exp.events:
        bad.append(f"events {n_events} != {exp.events}")
    if res.waves != exp.waves:
        bad.append(f"waves {res.waves} != {exp.waves}")
    order = _urls(res.events.filter(F.col("status") == "ok").orderBy("event_rank").select("url"))
    if order != exp.order:
        bad.append(f"order digest {digest(order)} != {digest(exp.order)}")
    seen = _urls(res.seen.select("url"))
    if len(seen) != len(exp.seen) or set(seen) != exp.seen:
        bad.append(f"seen set: {len(seen)} urls, expected {len(exp.seen)}")
    pages = sorted(_urls(res.pages.select("url")))
    if pages != exp.pages:
        bad.append(f"pages: {len(pages)} saved, expected {len(exp.pages)}")
    return bad


def lineage_totals(res) -> tuple[int, int]:
    """(candidates, new URLs) summed over the crawl's lineage."""
    from pyspark.sql import functions as F

    row = res.lineage.agg(
        F.sum(F.col("deduped") + F.col("enqueued")).alias("cand"), F.sum("enqueued").alias("new")
    ).collect()[0]
    return int(row["cand"] or 0), int(row["new"] or 0)


def config(web: Web, ckpt: str, max_waves: int):
    from webcrawlergo_spark.plans.wave import CrawlConfig

    return CrawlConfig(
        base_url=web.base_url, marked_paths=[MARKER], retry_times=0, same_host_only=False,
        seen_mode="cuckoo", bloom_probe_min_seen=0, politeness_max_per_host_per_wave=CAP,
        checkpoint_dir=ckpt, max_waves=max_waves,
    )


def crawl(spark, web: Web, work: str) -> dict:
    """Crawl until the simulated kill, then resume in a fresh engine;
    timed from the first engine's construction through the count of
    the events."""
    from webcrawlergo_spark.plans.wave import CrawlEngine

    ckpt = os.path.join(work, "checkpoint")
    shutil.rmtree(ckpt, ignore_errors=True)
    cpu0 = tree_cpu_s()
    t0 = time.time()
    CrawlEngine(spark, web.index, web.docs, [], config(web, ckpt, KILL_WAVES)).run(
        extra_frontier=web.seeds
    )
    t_resume = time.time()
    res = CrawlEngine(spark, web.index, web.docs, [], config(web, ckpt, WAVES)).run(resume=True)
    n_events = res.events.count()
    t1 = time.time()
    cpu = tree_cpu_s() - cpu0
    commit = [os.path.getmtime(os.path.join(ckpt, f"_manifest-{w}.json")) for w in range(res.waves)]
    # a wave's time runs from the previous commit, or from the start of
    # the engine that runs it, to its own commit
    begin = [t0] + commit[:-1]
    begin[KILL_WAVES] = t_resume
    return {
        "res": res, "events": n_events, "t0": t0, "t1": t1, "wall": t1 - t0, "cpu": cpu,
        "wave_s": [c - b for b, c in zip(begin, commit)],
        "resume_first_wave_s": commit[KILL_WAVES] - t_resume,
    }


def run(spark, ctx) -> dict:
    """Set up, measure and check the crawl workload."""
    tracer = ctx.tracer
    # the web is built once: a build costs more than a second of Spark
    # jobs, and the session start, done once, dominates set-up anyway
    t = time.perf_counter()
    web = build_web(spark, SPEC, ctx.seed)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    exp = expected(web)
    golden_s = time.perf_counter() - t

    tracer.enabled = ctx.trace
    out = crawl(spark, web, ctx.work)
    tracer.enabled = False
    bad = check(out["res"], out["events"], exp)
    if bad:
        print(f"check failed (crawl, seed {ctx.seed}): {'; '.join(bad)}", flush=True)

    ups = out["events"] / out["wall"]
    layers = {}
    if ctx.trace:
        from tracing import crawl_layer_metrics, read_event_log

        cand, new = lineage_totals(out["res"])
        ctx.stop_spark()  # finishes the event log
        layers = crawl_layer_metrics(
            tracer.spans, read_event_log(ctx.event_log_dir), out["t0"], out["t1"], ctx.cores,
            out["events"], out["res"].waves, cand, new,
        )
        layers["trace.crawl_urls_per_s"] = ups
    return {
        "setup": {"gen_s": gen_s, "golden_s": golden_s},
        # per wave, not per URL: a wave's cost is mostly fixed, while the
        # number of URLs the two waves fetch varies with the seed
        "cpu_ms_per_op": 1000 * out["cpu"] / out["res"].waves,
        "attempted": 1,
        "failed": int(bool(bad)),
        "report": {
            "crawl_urls_per_s": ("1/s", ups),
            "crawl_cpu_s": ("s", out["cpu"]),
            "wave_s_p50": ("s", statistics.median(out["wave_s"])),
            "resume_first_wave_s": ("s", out["resume_first_wave_s"]),
            "events": ("count", out["events"]),
            "waves": ("count", out["res"].waves),
        },
        "layers": layers,
    }
