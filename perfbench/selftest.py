"""Self-test of the benchmark at a tiny size (a few minutes on 4 vCPUs).

    python3 perfbench/selftest.py

Run from the repository root. It checks that

- the golden crawl simulator (``webgen.crawl_waves``) agrees with a
  plain-Python walk of the same web, with and without a politeness cap;
- the crawl output check passes on a real crawl of a tiny web and
  reports a wrong expectation;
- the analytics check matches the DuckDB oracle on one query and
  reports a changed row, and the rank check matches the distributed
  rank and reports a wrong one;
- the event-log parser attributes the traced crawl's jobs and the
  rank's jobs, and the per-layer metrics come out with each workload's
  shape.

Exits 0 when every check holds.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys

import numpy as np

import crawl
import run
from webgen import Web, crawl_waves, draw


def reference_waves(web: Web, cap: int | None, max_waves: int | None):
    """One page at a time: the engine's schedule as plain Python."""
    seen = set(web.start)
    frontier = [((-2, 0, 0), web.start[0])] + [((-1, p, 0), p) for p in web.start[1:]]
    rank, waves = 0, []
    while frontier and (max_waves is None or len(waves) < max_waves):
        frontier.sort()
        taken: dict[int, int] = {}
        batch, deferred = [], []
        for key, p in frontier:
            h = web.hosts[p]
            if cap is None or taken.get(h, 0) < cap:
                taken[h] = taken.get(h, 0) + 1
                batch.append(p)
            else:
                deferred.append((key, p))
        new = []
        for r, p in enumerate(batch, start=rank):
            for k, t in enumerate(web.targets[p].tolist()):
                if t not in seen:
                    seen.add(t)
                    new.append(((r, 0, k), t))
        rank += len(batch)
        waves.append(batch)
        frontier = deferred + new
    return waves, seen


def check_simulator() -> None:
    """The workload's web, with the workload's cap and wave limit and
    with neither (a full breadth-first crawl)."""
    for cap, max_waves in ((crawl.CAP, crawl.WAVES), (None, None)):
        for seed in (1, 2, 3):
            w = draw(crawl.SPEC, seed)
            web = Web(None, None, None, w["urls"][0], w["urls"], w["targets"], w["hosts"],
                      w["start"])
            waves, seen = crawl_waves(web, cap, max_waves)
            ref_waves, ref_seen = reference_waves(web, cap, max_waves)
            assert [b.tolist() for b in waves] == ref_waves, (cap, seed)
            assert set(np.flatnonzero(seen).tolist()) == ref_seen, (cap, seed)
    print("selftest: golden simulator agrees with the plain walk", flush=True)


def main() -> int:
    check_simulator()

    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    cores = run.host_fit_env(work)
    sys.path.insert(0, run.ROOT)
    import analytics
    import tables
    from tracing import (
        EVENT_LOG_CONF, Tracer, analytics_layer_metrics, crawl_layer_metrics,
        install_engine_wrappers, read_event_log,
    )
    from webgen import build_web
    from webcrawlergo_spark.session import get_spark

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    conf = {**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + log_dir,
            "spark.ui.showConsoleProgress": "false"}

    class Args:
        seed, trace = 1, 1

    tracer = Tracer(enabled=True)
    ctx = run.Context(Args, cores, work, tracer, log_dir)
    try:
        ctx.spark = get_spark("perfbench-selftest", cpus=cores, extra_conf=conf)
        tracer.sc = ctx.spark.sparkContext
        install_engine_wrappers(tracer)

        web = build_web(ctx.spark, dataclasses.replace(crawl.SPEC, n_pages=600), 7)
        exp = crawl.expected(web)
        out = crawl.crawl(ctx.spark, web, work)
        bad = crawl.check(out["res"], out["events"], exp)
        assert not bad, bad
        wrong = dataclasses.replace(exp, events=exp.events + 1, order=exp.order[::-1])
        assert len(crawl.check(out["res"], out["events"], wrong)) == 2
        cand, new = crawl.lineage_totals(out["res"])
        print("selftest: crawl check passes on the crawl and fails on a wrong one", flush=True)

        import __spark_entry__ as entry

        tracer.enabled = False
        data = os.path.join(work, "tables")
        tables.write_tables(data, 3, 0.05)
        analytics.write_rank_input(data, 3)
        expected = analytics._expected(data)
        df = entry.queries()["dedup_exact"](ctx.spark, data)
        rows = df.collect()
        assert analytics.canonical(df.columns, rows) == expected["dedup_exact"]
        changed = [tuple(r) for r in rows]
        changed[0] = tuple("x" if isinstance(v, str) else v for v in changed[0])
        assert analytics.canonical(df.columns, changed) != expected["dedup_exact"]
        tracer.enabled = True
        with tracer.span(f"query.{analytics.RANK}"):
            t = analytics.rank_frame(ctx.spark, data).toArrow()
        tracer.enabled = False
        ids, ranks = t["id"].to_numpy(), t["rank"].to_numpy()
        assert analytics.rank_digest(ids, ranks) == expected[analytics.RANK]
        assert analytics.rank_digest(ids, ranks[::-1]) != expected[analytics.RANK]
        print("selftest: analytics checks match the oracle and the rank, and catch changes",
              flush=True)
    finally:
        ctx.stop_spark()

    log = read_event_log(log_dir)
    crawl_spans = [s for s in tracer.spans if s["end"] <= out["t1"]]
    layers = crawl_layer_metrics(
        crawl_spans, log, out["t0"], out["t1"], cores, out["events"], out["res"].waves, cand, new,
    )
    assert layers["plans.wave.waves"] == crawl.WAVES
    assert layers["plans.wave.jobs_per_wave"] > 0 and layers["plans.wave.tasks_per_wave"] > 0
    assert layers["plans.checkpoint.commits"] == crawl.WAVES
    assert layers["plans.checkpoint.jobs"] > 0 and layers["plans.checkpoint.bytes_written"] > 0
    assert layers["operators.sampling.calls"] == crawl.WAVES
    assert layers["operators.seenset.s"] > 0 and 0 < layers["operators.seenset.yield"] <= 1
    assert layers["plans.rank.calls"] == crawl.WAVES and layers["plans.rank.distributed_calls"] == 0
    rank_spans = [s for s in tracer.spans if s["start"] > out["t1"]]
    layers = analytics_layer_metrics(rank_spans, log, ())
    assert layers["plans.rank.calls"] == 1 and layers["plans.rank.distributed_calls"] == 1
    assert layers["plans.rank.jobs"] > 0 and layers["plans.rank.s"] > 0
    print("selftest: event log parsed, per-layer metrics have each workload's shape", flush=True)
    shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
