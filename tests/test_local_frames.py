"""Driver-side frames stay JVM-local (session.local_df).

A frame built by ``createDataFrame`` over a Python list is a Python RDD
(``Scan ExistingRDD``): every job that re-scans it runs Python worker
tasks. ``local_df`` must give the same schema and rows as that call,
for every DDL the engine uses, with a plan that never leaves the JVM.
"""

import pytest

from webcrawlergo_spark.operators.validate import ROBOTS_RULES_COLS
from webcrawlergo_spark.plans.wave import (
    EVENTS_COLS,
    FLAGS_COLS,
    FRONTIER_COLS,
    LINEAGE_COLS,
    PAGE_STATS_COLS,
    PAGES_COLS,
    URL_COLS,
    URLS_COLS,
    CrawlConfig,
    CrawlEngine,
)
from webcrawlergo_spark.session import local_df

# (rows, ddl) for every frame the engine builds from driver-side rows
CASES = [
    ([("http://h/", "h", 0, -2, 0, 0, False, 0)], FRONTIER_COLS),
    ([("http://h/", False, True, None), ("http://h/a", True, False, 1.7e9)], URLS_COLS),
    ([("http://h/",)], URL_COLS),
    ([("http://h/", False)], FLAGS_COLS),
    ([("h", False, "/a*", 3, False, "^/a.*"), ("h", True, "", 0, True, None)], ROBOTS_RULES_COLS),
    ([(0, 7), (1, (1 << 62) + 1), (2, None)], "_pid int, _off long"),
    ([(0.5,), (0.99,)], "pct double"),
    ([(17, 0)], "node long, depth int"),
    ([(0, "w1"), (1, "w2")], "i long, tok string"),
] + [
    ([], ddl)
    for ddl in (
        FRONTIER_COLS, URLS_COLS, URL_COLS, FLAGS_COLS, EVENTS_COLS, PAGES_COLS,
        LINEAGE_COLS, PAGE_STATS_COLS, ROBOTS_RULES_COLS,
    )
]


def python_scans(df) -> list[str]:
    """The plan nodes / RDDs of ``df`` that run Python worker tasks."""
    qe = df._jdf.queryExecution()
    found = []
    if "ExistingRDD" in qe.executedPlan().toString():
        found.append("Scan ExistingRDD")
    if "PythonRDD" in qe.toRdd().toDebugString():
        found.append("PythonRDD")
    return found


@pytest.mark.parametrize("rows,ddl", CASES)
def test_local_df_matches_create_dataframe(spark, rows, ddl):
    got = local_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert python_scans(got) == []


def test_create_dataframe_from_list_is_a_python_scan(spark):
    """The detector itself: the spelling local_df replaces is caught."""
    assert python_scans(spark.createDataFrame([("x",)], URL_COLS)) != []


def test_engine_frames_stay_in_the_jvm(spark, web, web_dfs):
    cfg = CrawlConfig(base_url=web.base_url, marked_paths=web.marked_paths)
    engine = CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg)
    frames = {
        "empty": engine._empty(URL_COLS),
        "empty_frontier": engine._empty(FRONTIER_COLS),
        "robots_rules": engine._rules_df,
    }
    for name, df in zip(("frontier", "urls", "seen", "flags"), engine._seed_frontier(None)):
        frames[name] = df
    assert {n: python_scans(df) for n, df in frames.items()} == {n: [] for n in frames}
