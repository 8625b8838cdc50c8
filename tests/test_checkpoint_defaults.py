"""Regression tests from the r1 verdict/advice:

1. A checkpointed crawl with NO marked paths crashed wave 0 with
   IndexError (pages_deltas[-1] on an empty list). Every wave now
   commits a (possibly empty) pages delta.
2. Seen-tier maintenance: the per-wave cuckoo absorb, overflow
   fallback, rebuild and reshard paths must stay bit-identical to
   exact dedup across MULTIPLE waves (r1 only tested a single build).
3. last_saved is set on save (reference savePageContent,
   crawler.go:353-355) so the engine's own output registry can drive
   re-crawl expiry (T7) on a later run.
"""

import tempfile

from pyspark.sql import functions as F

from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine


def test_checkpointed_crawl_without_marked_paths(spark, web, web_dfs, default_run):
    """r1 verdict bug #1: marked_paths=[] + checkpoint_dir crashed on
    the first wave's commit. Killed after wave 0 and resumed, the crawl
    must end with the uninterrupted run's events: every commit reads
    back each snapshot it wrote, so no later wave reads the files of a
    wave the retention GC has deleted. Marks decide saves only, never
    the queue, so the default run's events are the uninterrupted run's."""

    def engine(**kw):
        return CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(base_url=web.base_url, ignore_patterns=web.ignore_patterns, **kw),
        )

    full = default_run
    assert full.waves > 3  # the GC drops wave 0's snapshots before the end
    with tempfile.TemporaryDirectory() as ckpt:
        res = engine(checkpoint_dir=ckpt, max_waves=1).run()
        assert res.waves == 1
        assert res.pages.count() == 0  # nothing marked, nothing flagged
        res = engine(checkpoint_dir=ckpt).run(resume=True)
        assert res.waves == full.waves
        assert sorted(res.events.collect()) == sorted(full.events.collect())
        assert res.pages.count() == 0


def test_cuckoo_mode_overflow_fallback_is_bit_identical(spark, web, web_dfs, default_run):
    """Cuckoo sized absurdly small (tier_min_per_shard=16 → ~6-bucket
    shards, capacity ~24 keys vs hundreds seen): inserts FAIL, the
    per-probe overflow observation fires, the wave falls back to the
    exact anti-join and rebuilds — and the crawl stays bit-identical.
    Correctness must never depend on cuckoo sizing."""
    cfg = CrawlConfig(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        seen_mode="cuckoo",
        n_shards=4,
        bloom_probe_min_seen=0,
        tier_min_per_shard=16,
    )
    res = CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg).run()
    assert res.event_order() == default_run.event_order()
    assert sorted(r["url"] for r in res.seen.collect()) == sorted(
        r["url"] for r in default_run.seen.collect()
    )


def test_tier_shard_count_autosizing_midcrawl(spark, web, web_dfs, default_run):
    """r4: every tier (re)build re-picks the shard count by the
    keys/shard ceiling rule (tier_max_keys_per_shard) so one shard's
    blob stays task-sized at any seen-set scale. Shrunk ceilings force
    the count to GROW mid-crawl (overflow rebuild at a bigger count);
    the resharding must be invisible in the results."""
    cfg = CrawlConfig(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        seen_mode="cuckoo",
        n_shards=2,
        bloom_probe_min_seen=0,
        tier_min_per_shard=16,       # tiny capacity → overflow → rebuild
        tier_max_keys_per_shard=20,  # rebuild picks ceil(seen/20) shards
    )
    eng = CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg)
    res = eng.run()
    assert res.event_order() == default_run.event_order()
    assert sorted(r["url"] for r in res.seen.collect()) == sorted(
        r["url"] for r in default_run.seen.collect()
    )
    # non-vacuity: a rebuild really re-sharded past the configured 2
    assert eng.tier.shards > 2, eng.tier.shards


def test_cuckoo_gate_crossing_midcrawl_equals_exact(spark, web, web_dfs, default_run):
    """r4: below the probe gate the seen tier carries NO shard state
    (the r3 per-wave lazy maintenance below the gate was a measured 26%
    throughput tax for shards the run never probed); the wave
    n_seen_est crosses the gate builds the shards ONCE from `seen` and
    the probe + absorb maintenance take over. The mode switch must be
    invisible in the results — bit-identical to exact mode."""
    cfg = CrawlConfig(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        seen_mode="cuckoo",
        n_shards=4,
        bloom_probe_min_seen=5,  # crossed after the first waves of the 60-page web
    )
    eng = CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg)
    res = eng.run()
    assert res.event_order() == default_run.event_order()
    assert sorted(r["url"] for r in res.seen.collect()) == sorted(
        r["url"] for r in default_run.seen.collect()
    )
    # non-vacuity: the gate really did open mid-crawl (the seed-only
    # seen set starts below it, and the shard table exists at the end)
    assert eng.tier.df is not None


def test_last_saved_set_on_save(web, default_run):
    """Every URL with a saved page carries last_saved = cfg.now_ts in
    the final registry; URLs never saved keep last_saved NULL."""
    saved_urls = {r["url"] for r in default_run.pages.select("url").distinct().collect()}
    assert saved_urls  # fixture crawl saves something
    rows = {r["url"]: r["last_saved"] for r in default_run.urls.collect()}
    for u in saved_urls:
        assert rows[u] == CrawlConfig(base_url=web.base_url).now_ts
    never_saved = set(rows) - saved_urls
    assert all(rows[u] is None for u in never_saved)


def test_resume_feedback_recrawls_expired(spark, web, web_dfs, default_run):
    """T7 closure: feed the engine's OWN output registry back as
    resume rows with a now_ts past the expiry window — monitored URLs
    must be re-fetched (ADVICE r1: without last_saved updates every
    monitored URL looked permanently expired OR never expired)."""
    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
    )
    first = default_run
    registry = first.urls.withColumn(
        "id", F.row_number().over(__import__("pyspark").sql.Window.orderBy("url")).cast("long")
    )
    monitored_alive = {
        r["url"]
        for r in first.urls.filter("is_monitored AND is_alive").collect()
        # reachable this run: 200 within the retry budget
        if web.pages.get(r["url"], {}).get("fail_times", 0) <= 2
        and web.pages.get(r["url"], {}).get("status") == 200
    }
    assert monitored_alive

    later = CrawlConfig(**base_cfg).now_ts + 10 * 86400  # all saves expired
    res = CrawlEngine(
        spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
        CrawlConfig(**base_cfg, now_ts=later),
    ).run(resume_urls=registry)
    fetched = set(res.crawl_order())
    # every reachable monitored+alive URL from run 1 is re-fetched
    assert monitored_alive <= fetched


def test_content_minhash_in_flight(spark, web, web_dfs):
    """analyze_pages + content_minhash: page_stats carries an 8-seed
    unigram minhash per fetched page, equal to computing the same
    signature directly over the fetched docs."""
    cfg = CrawlConfig(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        analyze_pages=True,
        content_minhash=True,
    )
    res = CrawlEngine(spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"], cfg).run()
    stats = res.page_stats
    assert all(f"mh{i}" in stats.columns for i in range(8))
    row = stats.orderBy("event_rank").limit(1).collect()[0]
    # recompute the signature for that page directly
    text = F.concat_ws(
        " ",
        F.transform(F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]),
    )
    # independent recomputation in PURE PYTHON (hashlib + ints), not a
    # second copy of the Spark expression — the signature spec is
    # min_i((a_i * int(md5(tok)[:8], 16) + b_i) mod P) over the
    # page's distinct tokens
    import hashlib

    from webcrawlergo_spark.plans.wave import MINHASH_P, minhash_ab

    toks = set(
        web_dfs["index"].filter(F.col("url") == row["url"])
        .join(web_dfs["docs"], "doc_id")
        .select(F.explode(F.array_distinct(F.split(text, " "))).alias("g"))
        .toPandas()["g"]
    )
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    for i, (a, b) in enumerate(minhash_ab(8)):
        assert row[f"mh{i}"] == min((a * h + b) % MINHASH_P for h in hs)
