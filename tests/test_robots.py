"""X3/P11 — robots.txt Google semantics (grobotstxt behavior the
reference gets at crawler.go:441-446): ``*``/``$`` wildcards,
longest-pattern-wins, Allow-on-tie, named user-agent groups with
most-specific selection, empty path treated as '/'.

The engine's codegen CASE chain (robots_ok_expr), the relational
matcher (robots_allowed) and the pure-Python golden matcher must all
agree on every candidate.
"""

import pytest
from pyspark.sql import functions as F

from webcrawlergo_spark.golden import RobotsMatcher
from webcrawlergo_spark.operators.validate import (
    parse_robots_rules,
    robots_allowed,
    robots_ok_expr,
)

ROBOTS = """
# group for everyone
User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /tmp*$
Disallow: /*.pdf$
Allow: /files/

User-agent: webcrawlerGo
User-agent: otherbot
Disallow: /special*
Allow: /special/yes$

User-agent: webcrawlerGo-deep
Disallow: /
"""

PATHS = [
    "",  # path-less absolute URL → matches as '/'
    "/",
    "/private",
    "/private/ok",
    "/private/no",
    "/tmp",
    "/tmpx",
    "/tmp/x",
    "/files/doc.pdf",
    "/files/doc.pdfx",
    "/files/other",
    "/x/doc.pdf",
    "/special",
    "/special/yes",
    "/special/yes/no",
    "/anything",
]


@pytest.mark.parametrize("ua", ["webcrawlerGo", "webcrawlerGo-deep/1.0", "randombot"])
def test_three_matchers_agree(spark, ua):
    golden = RobotsMatcher(ROBOTS, ua)
    want = {p: golden.allowed(f"https://h.test{p}") for p in PATHS}

    rules_df = parse_robots_rules(spark, [("h.test", ROBOTS, 200)], user_agent=ua)
    rules = [tuple(r) for r in rules_df.collect()]

    cand = spark.createDataFrame(
        [(f"https://h.test{p}", "h.test", p) for p in PATHS], "url string, host string, path string"
    )
    # codegen CASE-chain path
    got_expr = {
        r["path"]: r["ok"]
        for r in cand.withColumn("ok", robots_ok_expr(rules)).collect()
    }
    assert got_expr == {p: want[p] for p in PATHS}
    # relational path (rules as data)
    got_rel = {
        r["path"]: r["robots_ok"] for r in robots_allowed(cand, rules_df).collect()
    }
    assert got_rel == {p: want[p] for p in PATHS}


def test_group_selection_specificity():
    """webcrawlerGo-deep must pick its own group (Disallow: /), not the
    shorter 'webcrawlerGo' group, and never the '*' group."""
    assert not RobotsMatcher(ROBOTS, "webcrawlerGo-deep").allowed("https://h.test/anything")
    assert RobotsMatcher(ROBOTS, "webcrawlerGo").allowed("https://h.test/anything")
    # '*' group fallback applies to unknown agents
    assert not RobotsMatcher(ROBOTS, "randombot").allowed("https://h.test/private/no")
    # a named group REPLACES '*' (Google spec): webcrawlerGo is not
    # subject to the '*' group's /private rule
    assert RobotsMatcher(ROBOTS, "webcrawlerGo").allowed("https://h.test/private/no")


def test_wildcard_and_anchor_semantics(spark):
    g = RobotsMatcher(ROBOTS, "nobody")
    assert not g.allowed("https://h.test/tmp")      # /tmp*$ matches /tmp
    assert not g.allowed("https://h.test/tmpx")     # and /tmpx
    assert not g.allowed("https://h.test/tmp/x")    # and /tmp/x (* spans /)
    # '/*.pdf$' (len 7) ties 'Allow: /files/' (len 7) → Allow wins ties
    assert g.allowed("https://h.test/files/doc.pdf")
    assert not g.allowed("https://h.test/x/doc.pdf")       # no tie → wildcard disallow
    assert g.allowed("https://h.test/files/doc.pdfx")      # $ means end
    assert g.allowed("https://h.test/files/other")          # Allow /files/


def test_hard_fail_disallows_everything(spark):
    rules_df = parse_robots_rules(spark, [("h.test", "irrelevant", 503)])
    rules = [tuple(r) for r in rules_df.collect()]
    cand = spark.createDataFrame([("h.test", "/x")], "host string, path string")
    assert cand.withColumn("ok", robots_ok_expr(rules)).collect()[0]["ok"] is False


def test_engine_relational_robots_parity(spark, web, web_dfs, default_run, monkeypatch):
    """The multi-host relational robots path (the robots_allowed join a
    rule set above ROBOTS_EXPR_MAX_RULES takes) produces the identical
    crawl to the codegen CASE-chain path."""
    from webcrawlergo_spark.plans import wave

    monkeypatch.setattr(wave, "ROBOTS_EXPR_MAX_RULES", 0)
    cfg = wave.CrawlConfig(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
    )
    eng = wave.CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg)
    assert eng._robots_ok is None  # the join path, not the CASE chain
    res = eng.run()
    assert res.event_order() == default_run.event_order()
    assert sorted(r["url"] for r in res.invalid.collect()) == sorted(
        r["url"] for r in default_run.invalid.collect()
    )
