"""Span recorder, engine wrappers and Spark event-log parser for the
traced run.

A span is (name, start, end, parent). While a span is open the Spark job
group of the calling thread is ``<layer>:<function>``, so every job,
stage and task in Spark's event log can be attributed to the call that
started it. Jobs with no group (engine construction, the counts after
the run, the crawl's background page-stats thread) count as
``plans.wave`` self work.

The wrappers replace, for the life of the process, the public functions
that ``webcrawlergo_spark.plans.wave`` imports by name, the rank
functions of ``plans.rank``, plus
``CheckpointStore.commit``/``amend``/``load`` and ``CrawlEngine.run``.
Most of the wrapped functions only build lazy plans: their span times
the eager work inside the call (the range-partition count of the
distributed rank, the politeness cap's count, the checkpoint write);
the rest of their cost runs in a later job of the wave and lands in
``plans.wave`` self time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

WAVE = "plans.wave"
RANK = "plans.rank"
SAMPLING = "operators.sampling"
SEENSET = "operators.seenset"
COMMIT = "plans.checkpoint.commit"
LOAD = "plans.checkpoint.load"

RANK_FNS = ("with_global_rank", "with_host_seq")
SAMPLING_FNS = ("salted_topk_split",)
# the cuckoo seen tier; dedup_new_urls (the exact anti-join, or the
# tier's confirm step) is wrapped too but is not tier time
TIER_FNS = ("build_cuckoo_shards", "cuckoo_insert_shards", "cuckoo_probe_sharded")
SEENSET_FNS = ("dedup_new_urls",) + TIER_FNS

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class Tracer:
    """Records spans in memory. A disabled tracer records nothing and
    never touches Spark's job group."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "group": group or name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)


def install_engine_wrappers(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries with spans."""
    from webcrawlergo_spark.plans import checkpoint, rank, wave

    def wrap(fn, layer: str, note=None):
        @functools.wraps(fn)
        def inner(*a, **kw):
            attrs = note(kw) if note else {}
            with tracer.span(layer, group=f"{layer}:{fn.__name__}", fn=fn.__name__, **attrs):
                return fn(*a, **kw)
        return inner

    def rank_note(kw):
        n = kw.get("n_rows")
        return {"distributed": n is None or n > rank.SMALL_BATCH}

    for module, names, layer, note in (
        (wave, RANK_FNS, RANK, rank_note), (rank, RANK_FNS, RANK, rank_note),
        (wave, SAMPLING_FNS, SAMPLING, None), (wave, SEENSET_FNS, SEENSET, None),
    ):
        for name in names:
            if hasattr(module, name):
                setattr(module, name, wrap(getattr(module, name), layer, note))
    store = checkpoint.CheckpointStore
    store.commit = wrap(store.commit, COMMIT)
    store.amend = wrap(store.amend, COMMIT)
    store.load = wrap(store.load, LOAD)
    wave.CrawlEngine.run = wrap(wave.CrawlEngine.run, WAVE)


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Parse Spark's plain JSON-lines event log.

    Returns {"jobs": {job_id: {"group", "submit_ms"}},
             "stage_job": {stage_id: job_id},
             "tasks": [{"stage", "run_ms", "dur_ms", "shuffle_read",
                        "shuffle_write", "spill", "written"}]}."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time") or 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "dur_ms": (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0),
                    "shuffle_read": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "shuffle_write": wr.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "written": out.get("Bytes Written", 0),
                })
    return {"jobs": jobs, "tasks": tasks, "stage_job": stage_job}


def jobs_between(log: dict, t0: float, t1: float) -> dict[int, dict]:
    """Jobs submitted in the wall-clock window [t0, t1] (seconds)."""
    return {
        j: info for j, info in log["jobs"].items() if t0 * 1000 <= info["submit_ms"] <= t1 * 1000
    }


def grouped(jobs: dict[int, dict], prefix: str) -> set[int]:
    return {j for j, info in jobs.items() if (info["group"] or "").startswith(prefix)}


def tasks_of(log: dict, job_ids) -> list[dict]:
    job_ids = set(job_ids)
    return [t for t in log["tasks"] if log["stage_job"].get(t["stage"]) in job_ids]


def task_skew(tasks: list[dict], top: int = 3) -> float:
    """max ÷ median task duration in each of the ``top`` stages with the
    most task time; the largest of those ratios."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(max(t["dur_ms"], 1))
    largest = sorted(by_stage.values(), key=sum, reverse=True)[:top]
    return max((max(d) / statistics.median(d) for d in largest), default=0.0)


def self_time(spans: list[dict], span: dict) -> float:
    """Span duration minus the part of it that its child spans cover."""
    kids = sorted((s["start"], s["end"]) for s in spans if s["parent"] == span["id"])
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


def outermost(spans: list[dict], pick) -> list[dict]:
    """The spans ``pick`` selects that have no selected ancestor."""
    chosen = [s for s in spans if pick(s)]
    ids = {s["id"] for s in chosen}
    by_id = {s["id"]: s for s in spans}

    def nested(s):
        p = s["parent"]
        while p is not None:
            if p in ids:
                return True
            p = by_id[p]["parent"] if p in by_id else None
        return False

    return [s for s in chosen if not nested(s)]


def total_s(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def rank_metrics(spans: list[dict], jobs: dict[int, dict]) -> dict[str, float]:
    rank_spans = [s for s in spans if s["name"] == RANK]
    return {
        "plans.rank.calls": len(rank_spans),
        "plans.rank.distributed_calls": sum(1 for s in rank_spans if s.get("distributed")),
        "plans.rank.s": total_s(outermost(spans, lambda s: s["name"] == RANK)),
        "plans.rank.jobs": len(grouped(jobs, RANK + ":")),
    }


def analytics_layer_metrics(spans: list[dict], log: dict, queries) -> dict[str, float]:
    """Per-layer metrics of the traced warm pass: each query's span
    time and the jobs submitted while it was open, and the rank calls."""
    out = {}
    for q in queries:
        mine = [s for s in spans if s["name"] == f"query.{q}"]
        out[f"query.{q}.warm_s"] = total_s(mine)
        out[f"query.{q}.jobs"] = sum(len(jobs_between(log, s["start"], s["end"])) for s in mine)
    out.update(rank_metrics(spans, log["jobs"]))
    return out


def crawl_layer_metrics(
    spans: list[dict], log: dict, t0: float, t1: float, cores: int,
    events: int, waves: int, candidates: int, new_urls: int,
) -> dict[str, float]:
    """Per-layer metrics of one traced crawl run in [t0, t1]."""
    jobs = jobs_between(log, t0, t1)
    tasks = tasks_of(log, jobs)
    waves = max(waves, 1)
    per_url = max(events, 1)
    run_spans = [s for s in spans if s["name"] == WAVE]
    tier_spans = outermost(spans, lambda s: s["name"] == SEENSET and s["fn"] in TIER_FNS)
    commits = [s["end"] - s["start"] for s in spans if s["name"] == COMMIT]
    ckpt_jobs = grouped(jobs, "plans.checkpoint")
    tier_jobs = {
        j for j, info in jobs.items()
        if (info["group"] or "").split(":")[-1] in TIER_FNS
    }
    return {
        "plans.wave.waves": waves,
        "plans.wave.jobs_per_wave": len(jobs) / waves,
        "plans.wave.stages_per_wave": len({t["stage"] for t in tasks}) / waves,
        "plans.wave.tasks_per_wave": len(tasks) / waves,
        "plans.wave.self_s": sum(self_time(spans, s) for s in run_spans),
        "plans.wave.executor_busy_share": sum(t["run_ms"] for t in tasks) / 1000 / ((t1 - t0) * cores),
        "plans.wave.shuffle_read_bytes_per_url": sum(t["shuffle_read"] for t in tasks) / per_url,
        "plans.wave.shuffle_write_bytes_per_url": sum(t["shuffle_write"] for t in tasks) / per_url,
        "plans.wave.spill_bytes": sum(t["spill"] for t in tasks),
        "plans.wave.task_skew": task_skew(tasks),
        **rank_metrics(spans, jobs),
        "operators.sampling.calls": sum(1 for s in spans if s["name"] == SAMPLING),
        "operators.seenset.candidates": candidates,
        "operators.seenset.new_urls": new_urls,
        "operators.seenset.yield": new_urls / candidates if candidates else 0.0,
        "operators.seenset.s": total_s(tier_spans),
        "operators.seenset.jobs": len(tier_jobs),
        "plans.checkpoint.commits": len(commits),
        "plans.checkpoint.commit_s": sum(commits),
        "plans.checkpoint.commit_s_p50": statistics.median(commits) if commits else 0.0,
        "plans.checkpoint.bytes_written": sum(t["written"] for t in tasks_of(log, ckpt_jobs)),
        "plans.checkpoint.load_s": total_s([s for s in spans if s["name"] == LOAD]),
        "plans.checkpoint.jobs": len(ckpt_jobs),
    }
