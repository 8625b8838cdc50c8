"""Repository benchmark: one workload per invocation, in a fresh JVM.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 45 --trace 0

Workloads: ``crawl`` (perfbench/crawl.py) and ``analytics``
(perfbench/analytics.py). Inputs are generated from
``--seed``; the engine is driven through its public surface only
(``CrawlEngine``/``CrawlConfig``/``CrawlResult``,
``__spark_entry__.queries()``/``oracle_sql()``, ``session.get_spark``).
Run from the repository root; every file the run writes goes under
``.perfbench/`` there. ``--seconds`` is accepted and does not change a
run: each workload's work is fixed (one crawl; one cold and one warm
pass over the queries), because one unit of it already takes longer
than the run budget allows repeating.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1``
Spark's event log is on, the engine's layer boundaries are wrapped in
spans, and the metrics are the per-layer ones (perfbench/METRICS.md
defines each). The spans and metrics of a traced run are also written
to ``.perfbench/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl", "analytics")
DRIVER_MEM_CAP_GB = 2


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "webcrawlergo_spark", "__init__.py")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def host_fit_env(work: str) -> int:
    """Size the session to this host through the engine's own
    environment knobs: local[<usable cores>], a driver heap of about
    half of MemAvailable (capped), private scratch directories, and the
    repository root on PYTHONPATH for the pandas-UDF workers."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mem_gb = max(1, min(DRIVER_MEM_CAP_GB, avail_kb // (2 * 1024 * 1024)))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
    })
    return cores


def layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    import analytics

    crawl = [
        "plans.wave.waves", "plans.wave.jobs_per_wave", "plans.wave.stages_per_wave",
        "plans.wave.tasks_per_wave", "plans.wave.self_s", "plans.wave.executor_busy_share",
        "plans.wave.shuffle_read_bytes_per_url", "plans.wave.shuffle_write_bytes_per_url",
        "plans.wave.spill_bytes", "plans.wave.task_skew",
        "plans.rank.calls", "plans.rank.distributed_calls", "plans.rank.s", "plans.rank.jobs",
        "operators.sampling.calls",
        "operators.seenset.candidates", "operators.seenset.new_urls", "operators.seenset.yield",
        "operators.seenset.s", "operators.seenset.jobs",
        "plans.checkpoint.commits", "plans.checkpoint.commit_s", "plans.checkpoint.commit_s_p50",
        "plans.checkpoint.bytes_written", "plans.checkpoint.load_s", "plans.checkpoint.jobs",
    ]
    queries = [f"query.{q}.{m}" for q in analytics.QUERIES for m in ("warm_s", "jobs")]
    return (
        ["session.start_s"] + crawl + queries
        + ["trace.crawl_urls_per_s", "trace.query_warm_s"]
    )


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, cores: int, work: str, tracer, event_log_dir: str | None):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cores = cores
        self.work = work
        self.tracer = tracer
        self.event_log_dir = event_log_dir
        self.spark = None

    def stop_spark(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = host_fit_env(work)
    sys.path.insert(0, ROOT)

    import analytics
    import crawl
    from tracing import EVENT_LOG_CONF, Tracer, install_engine_wrappers

    conf = {"spark.ui.showConsoleProgress": "false"}
    event_log_dir = None
    if args.trace:
        event_log_dir = os.path.join(work, "eventlog")
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
    tracer = Tracer(enabled=False)
    ctx = Context(args, cores, work, tracer, event_log_dir)
    try:
        from webcrawlergo_spark.session import get_spark

        t = time.perf_counter()
        ctx.spark = get_spark(f"perfbench-{args.workload}", cpus=cores, extra_conf=conf)
        start_s = time.perf_counter() - t
        tracer.sc = ctx.spark.sparkContext
        if args.trace:
            install_engine_wrappers(tracer)

        module = analytics if args.workload == "analytics" else crawl
        out = module.run(ctx.spark, ctx)
    finally:
        ctx.stop_spark()

    setup_s = start_s + sum(out["setup"].values())
    report = {
        "setup_s": ("s", setup_s),
        "session.start_s": ("s", start_s),
        **{k: ("s", v) for k, v in out["setup"].items()},
        **out["report"],
    }
    report["error_rate"] = ("ratio", out["failed"] / out["attempted"])
    print(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (u, v) in report.items()
    ), flush=True)

    if args.trace:
        layers = {name: 0.0 for name in layer_names()}
        layers.update(out["layers"])
        layers["session.start_s"] = start_s
        units = metric_units()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "metrics": layers}, f)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cpu_ms_per_op": {"value": out["cpu_ms_per_op"], "unit": "ms"},
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }))
    return 0


def metric_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
