"""The analytics workload: headline queries of ``__spark_entry__`` over
tables generated from the workload seed, checked against the DuckDB
oracle of ``oracle_sql()``, plus the distributed ``plans.rank`` recipe
(``with_global_rank``) called directly on a frame above
``plans.rank.SMALL_BATCH`` rows.

Each item runs once cold (its first execution in the JVM: planning and
code generation included), then once warm, in a second pass over the
whole set. Every execution fetches its whole result to the driver, so
the timed work is what a caller waits for; after the timed passes every
execution's result is compared with its expectation.

The cost metric is the CPU time of both passes per execution: on a
shared virtual host it varies less between runs than their wall time
(see cpuclock.py). ``--seconds`` does not change the run: its work is
fixed.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cpuclock import tree_cpu_s
from tables import write_tables

# a subset of bench.HEADLINE that fits the run budget, one query per
# query layer: window + relational join (latest_pages), exact dedup,
# text, similarity (cosine top-k), graph (PageRank) and sketch (count-min)
QUERIES = (
    "latest_pages",
    "dedup_exact",
    "token_count",
    "cosine_topk",
    "link_pagerank",
    "cms_heavy_hitters",
)
RANK = "rank_distributed"  # with_global_rank on its distributed path
ITEMS = QUERIES + (RANK,)
RANK_ROWS = 150_000
TABLE_SCALE = 0.2
GEN_REPEATS = 3
TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def canonical(cols: list[str], rows) -> tuple:
    """Column names and rows as tools/compare.py compares them: columns
    sorted by name, values normalized, rows sorted."""
    if TOOLS not in sys.path:
        sys.path.insert(0, TOOLS)
    from compare import _norm

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


# -- the rank item -------------------------------------------------------------


def write_rank_input(data: str, seed: int) -> None:
    """RANK_ROWS rows (id, key): keys with ties, broken by id."""
    rng = np.random.default_rng([seed, RANK_ROWS])
    pq.write_table(pa.table({
        "id": pa.array(np.arange(RANK_ROWS), pa.int64()),
        "key": pa.array(rng.integers(0, RANK_ROWS // 4, RANK_ROWS), pa.int64()),
    }), os.path.join(data, "rank_input.parquet"))


def rank_frame(spark, data: str):
    """The global rank under (key, id) on the distributed path
    (n_rows > SMALL_BATCH)."""
    from webcrawlergo_spark.plans import rank

    df = spark.read.parquet(os.path.join(data, "rank_input.parquet"))
    return rank.with_global_rank(df, ["key", "id"], "rank", n_rows=RANK_ROWS).select("id", "rank")


def rank_digest(ids: np.ndarray, ranks: np.ndarray) -> str:
    o = np.argsort(ids)
    h = hashlib.sha256(ids[o].astype(np.int64).tobytes())
    h.update(ranks[o].astype(np.int64).tobytes())
    return h.hexdigest()


def rank_expected(data: str) -> str:
    t = pq.read_table(os.path.join(data, "rank_input.parquet"))
    ids, keys = t["id"].to_numpy(), t["key"].to_numpy()
    ranks = np.empty(ids.size, dtype=np.int64)
    ranks[np.lexsort((ids, keys))] = np.arange(ids.size)
    return rank_digest(ids, ranks)


# -- passes --------------------------------------------------------------------


def _fetchers(spark, data: str) -> dict:
    """Per item: a call that executes it and returns its raw result, and
    the function that turns that result into what the check compares."""
    import __spark_entry__ as entry

    qs = {**entry.retired_queries(), **entry.queries()}

    def query(name):
        def fetch():
            df = qs[name](spark, data)
            return df.columns, df.collect()
        return fetch, lambda raw: canonical(*raw)

    def fetch_rank():
        return rank_frame(spark, data).toArrow()

    def canon_rank(t):
        return rank_digest(t["id"].to_numpy(), t["rank"].to_numpy())

    return {**{q: query(q) for q in QUERIES}, RANK: (fetch_rank, canon_rank)}


def _pass(fetchers: dict, tracer, raw: dict) -> dict[str, float]:
    times = {}
    for name in ITEMS:
        fetch = fetchers[name][0]
        with tracer.span(f"query.{name}"):
            t = time.perf_counter()
            try:
                got = fetch()
                times[name] = time.perf_counter() - t
            except Exception as e:  # a failing item is a counted failure
                print(f"{name} raised: {str(e)[:200]}", flush=True)
                got = None
        raw.setdefault(name, []).append(got)
    return times


def _expected(data: str) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from webcrawlergo_spark.schemas import TESTDATA_TABLES

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        out = {}
        for name in QUERIES:
            res = con.sql(sql[name])
            out[name] = canonical([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    out[RANK] = rank_expected(data)
    return out


def run(spark, ctx) -> dict:
    data = os.path.join(ctx.work, "tables")
    gen_s = []
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        write_tables(data, ctx.seed, TABLE_SCALE)
        write_rank_input(data, ctx.seed)
        gen_s.append(time.perf_counter() - t)

    tracer = ctx.tracer
    fetchers = _fetchers(spark, data)
    raw: dict[str, list] = {}
    cpu = [tree_cpu_s()]
    cold = _pass(fetchers, tracer, raw)
    cpu.append(tree_cpu_s())
    tracer.enabled = ctx.trace  # a traced run traces its warm pass
    warm = _pass(fetchers, tracer, raw)
    tracer.enabled = False
    cpu.append(tree_cpu_s())

    expected = _expected(data)
    attempted = failed = 0
    for name, got in raw.items():
        for g in got:
            attempted += 1
            if g is None or fetchers[name][1](g) != expected[name]:
                failed += 1
                print(f"check failed (analytics {name}, seed {ctx.seed})", flush=True)

    warm_total = sum(warm.values())
    layers = {}
    if ctx.trace:
        from tracing import analytics_layer_metrics, read_event_log

        ctx.stop_spark()  # finishes the event log
        layers = analytics_layer_metrics(
            tracer.spans, read_event_log(ctx.event_log_dir), QUERIES
        )
        layers["trace.query_warm_s"] = warm_total
    return {
        "setup": {"gen_s": statistics.median(gen_s)},
        "cpu_ms_per_op": 1000 * (cpu[2] - cpu[0]) / (2 * len(ITEMS)),
        "attempted": attempted,
        "failed": failed,
        "report": {
            "query_cold_s": ("s", sum(cold.values())),
            "query_warm_s": ("s", warm_total),
            "query_cold_cpu_s": ("s", cpu[1] - cpu[0]),
            "query_warm_cpu_s": ("s", cpu[2] - cpu[1]),
            "items": ("count", len(ITEMS)),
            **{f"{q}_warm_s": ("s", t) for q, t in warm.items()},
            **{f"{q}_cold_s": ("s", t) for q, t in cold.items()},
        },
        "layers": layers,
    }
