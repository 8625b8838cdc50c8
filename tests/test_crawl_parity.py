"""End-to-end crawl parity: the Spark wave-loop engine vs the
pure-Python golden oracle (reference n=1 semantics, SURVEY §5.3).

Asserts the north rule's contract: exact crawl order, URL-seen set,
saved-page sequence, invalid-cache and registry-flag equality under
the same seed list + politeness budget — plus the per-document
span-sequence invariant (kind, text, media_ref, order).
"""

import pytest

from webcrawlergo_spark.golden import crawl_golden
from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine


def run_engine(spark, web, web_dfs, **cfg_kwargs):
    cfg = CrawlConfig(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        **cfg_kwargs,
    )
    eng = CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg)
    return eng


def assert_full_parity(res, g):
    assert res.event_order() == g.event_order
    assert res.crawl_order() == g.crawl_order
    assert {r["url"] for r in res.seen.collect()} == set(g.seen.keys())
    assert [
        (r["url"], r["doc_id"]) for r in res.pages.orderBy("event_rank").collect()
    ] == g.saved_pages
    assert {r["url"] for r in res.invalid.collect()} == g.invalid
    eng_flags = {r["url"]: (r["is_monitored"], r["is_alive"]) for r in res.urls.collect()}
    gold_flags = {u: (v["is_monitored"], v["is_alive"]) for u, v in g.urls_rows.items()}
    assert eng_flags == gold_flags


def test_default_crawl_parity(default_run, default_golden):
    g, res = default_golden, default_run
    # sanity: the fixture actually exercises retries, 404s and saves
    assert len(g.crawl_order) > 30
    assert len(g.event_order) > len(g.crawl_order)
    assert any(not v["is_alive"] for v in g.urls_rows.values())
    assert g.saved_pages
    assert_full_parity(res, g)


def test_cuckoo_mode_is_bit_identical(spark, web, web_dfs, default_golden):
    # min_seen=0 forces the sharded probe even on this tiny corpus —
    # otherwise the gate would fall back to the exact join and the
    # test would pass without exercising the cuckoo path
    eng = run_engine(
        spark, web, web_dfs, seen_mode="cuckoo", n_shards=4, bloom_probe_min_seen=0
    )
    res = eng.run()
    assert eng.tier.df is not None  # the probe path really ran
    assert_full_parity(res, default_golden)


def test_min_content_chars_parity(spark, web, web_dfs, default_golden):
    """P14 save guard (reference crawler.go:346-348): pages with less
    rendered content than min_content_chars are fetched but not saved."""
    g = crawl_golden(web, min_content_chars=300)
    assert 0 < len(g.saved_pages) < len(default_golden.saved_pages)  # drops some saves
    res = run_engine(spark, web, web_dfs, min_content_chars=300).run()
    assert_full_parity(res, g)


def test_politeness_cap_preserves_sets(spark, web, web_dfs, default_run, default_golden):
    """The per-host-per-wave cap reschedules fetches across waves but
    must not change the crawled multiset / seen set / flags."""
    g = default_golden
    res = run_engine(spark, web, web_dfs, politeness_max_per_host_per_wave=15).run()
    assert res.waves > default_run.waves  # the cap actually deferred work
    assert sorted(res.crawl_order()) == sorted(g.crawl_order)
    assert {r["url"] for r in res.seen.collect()} == set(g.seen.keys())
    eng_flags = {r["url"]: (r["is_monitored"], r["is_alive"]) for r in res.urls.collect()}
    gold_flags = {u: (v["is_monitored"], v["is_alive"]) for u, v in g.urls_rows.items()}
    assert eng_flags == gold_flags


def test_zero_retries(spark, web, web_dfs):
    g = crawl_golden(web, retry_times=0)
    res = run_engine(spark, web, web_dfs, retry_times=0).run()
    assert_full_parity(res, g)


@pytest.fixture(scope="module")
def resume_rows(web):
    """FIXTURES.md §2 mix: monitored+expired, monitored+fresh,
    unmonitored, dead, foreign-host, ignore-pattern, marked."""
    now = 1_700_000_000.0
    base = web.base_url
    return [
        {"id": 1, "url": f"{base}/p1", "is_monitored": True, "is_alive": True, "last_saved": now - 10 * 86400},
        {"id": 2, "url": f"{base}/p2", "is_monitored": True, "is_alive": True, "last_saved": now - 60},
        {"id": 3, "url": f"{base}/p4", "is_monitored": False, "is_alive": True, "last_saved": None},
        {"id": 4, "url": f"{base}/p5", "is_monitored": False, "is_alive": False, "last_saved": None},
        {"id": 5, "url": "https://other.test/x", "is_monitored": True, "is_alive": True, "last_saved": None},
        {"id": 6, "url": f"{base}/files/old.pdf", "is_monitored": False, "is_alive": True, "last_saved": None},
        {"id": 7, "url": f"{base}/p7", "is_monitored": False, "is_alive": True, "last_saved": None},  # marked
        {"id": 8, "url": base, "is_monitored": True, "is_alive": True, "last_saved": None},  # seed dup
    ]


def test_resume_load_classification_parity(spark, web, web_dfs, resume_rows):
    g = crawl_golden(web, resume_urls=resume_rows)
    df = spark.createDataFrame(
        [(r["id"], r["url"], r["is_monitored"], r["is_alive"], r["last_saved"]) for r in resume_rows],
        "id long, url string, is_monitored boolean, is_alive boolean, last_saved double",
    )
    res = run_engine(spark, web, web_dfs).run(resume_urls=df)
    # the seed-dup row exercises the shared fetch-flag map: base URL is
    # queued twice, saved exactly once
    assert g.event_order.count(web.base_url) == 2
    assert_full_parity(res, g)


def test_update_hrefs_mode(spark, web, web_dfs, resume_rows):
    g = crawl_golden(web, resume_urls=resume_rows, update_hrefs=True)
    df = spark.createDataFrame(
        [(r["id"], r["url"], r["is_monitored"], r["is_alive"], r["last_saved"]) for r in resume_rows],
        "id long, url string, is_monitored boolean, is_alive boolean, last_saved double",
    )
    res = run_engine(spark, web, web_dfs, update_hrefs=True).run(resume_urls=df)
    assert_full_parity(res, g)


def test_span_sequence_invariant(spark, web, web_dfs):
    """input_hint invariant: per-doc span sequences (kind, text,
    media_ref, order) survive the engine's docs round-trip exactly."""
    docs = web_dfs["docs"].collect()
    eng = {r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]] for r in docs}
    ref = {
        p["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in p["spans"]]
        for p in web.pages.values()
    }
    assert eng == ref


def test_virtual_time_exact_single_worker(spark, web, web_dfs):
    """T1 fidelity (stretch): with virtual_time_exact on, every event
    carries (fetch_seq, virtual_ms). For the single-host fixture the
    reconstructed schedule must collapse to the reference's
    single-worker clock: request i fires at exactly
    event_rank × request_delay_ms (one RequestDelay sleep between
    consecutive requests, crawler.go:326) — i.e. the wave-local
    per-host sequences plus the accumulated wave bases compose back
    to the global request sequence with no gaps or overlaps."""
    res = run_engine(spark, web, web_dfs, virtual_time_exact=True).run()
    delay = 50  # CrawlConfig.request_delay_ms default
    rows = res.events.orderBy("event_rank").collect()
    assert rows, "fixture crawl produced no events"
    for r in rows:
        assert r["fetch_seq"] is not None
        assert r["virtual_ms"] == r["event_rank"] * delay, (
            r["event_rank"], r["virtual_ms"])


def test_registry_row_wins_on_rediscovery(spark, web, web_dfs):
    """An off-host resume registry row that a multi-host crawl
    rediscovers stays ONE row with its own flags: the reference's urls
    insert is ignored when the URL already exists (golden.py
    urls_insert), so the crawl only dead-marks or stamps that row."""
    from pyspark.sql import functions as F

    from webcrawlergo_spark.sources.synthweb import FOREIGN_URL

    stamp = 1_700_000_000.0 - 60
    df = spark.createDataFrame(
        [(1, FOREIGN_URL, True, True, stamp)],
        "id long, url string, is_monitored boolean, is_alive boolean, last_saved double",
    )
    # wave 2 links the URL (depth 3), wave 3 fetches it: a 404
    res = run_engine(spark, web, web_dfs, same_host_only=False, max_waves=4).run(resume_urls=df)
    # non-vacuity: off-host, so the resume load left it out of the
    # seen set, and the crawl found it again and dead-marked it
    assert FOREIGN_URL in {r["url"] for r in res.seen.collect()}
    assert res.events.filter((F.col("url") == FOREIGN_URL) & (F.col("status") == "notfound")).count()
    rows = res.urls.collect()
    assert len(rows) == len({r["url"] for r in rows})
    assert [
        (r["is_monitored"], r["is_alive"], r["last_saved"]) for r in rows if r["url"] == FOREIGN_URL
    ] == [(True, False, stamp)]
