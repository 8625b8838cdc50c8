"""T5 — kill/resume losslessness: run K waves with checkpointing,
drop all in-memory state, resume from the Parquet-manifest
checkpoint, and assert the final state is identical to an
uninterrupted run (SURVEY §5.4)."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from webcrawlergo_spark.functions.urlnorm import host_expr
from webcrawlergo_spark.plans.checkpoint import CheckpointStore
from webcrawlergo_spark.plans.wave import CrawlConfig, CrawlEngine


def _collect_state(res):
    return {
        "events": res.event_order(),
        "crawl": res.crawl_order(),
        "seen": sorted(r["url"] for r in res.seen.collect()),
        "pages": [(r["url"], r["doc_id"]) for r in res.pages.orderBy("event_rank").collect()],
        "urls": sorted(
            (r["url"], r["is_monitored"], r["is_alive"]) for r in res.urls.collect()
        ),
    }


def test_kill_and_resume_matches_uninterrupted(spark, web, web_dfs, default_run):
    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
    )
    full = default_run
    want = _collect_state(full)
    assert full.waves > 3  # the kill point below really is mid-crawl

    with tempfile.TemporaryDirectory() as ckpt:
        # "killed" after 2 waves
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt, max_waves=2),
        ).run()
        # fresh engine, fresh state — resume from the manifest only
        res = CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt),
        ).run(resume=True)
        assert _collect_state(res) == want


def test_manifest_atomicity(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ck"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    store.commit(0, {"t": df})
    store.commit(1, {"t": df.filter("id < 3")})
    m = store.latest()
    assert m["wave_id"] == 1
    assert store.load(spark, "t").count() == 3


def test_time_travel_load_at(spark, tmp_path):
    """Iceberg VERSION-AS-OF analog: load_at() reads snapshots AND the
    as-of-wave prefix of append logs through the historical manifest;
    a GC'd wave raises instead of silently reading current state."""
    import pytest

    store = CheckpointStore(str(tmp_path / "ck"), keep_last=2)
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    store.commit(1, {"front": df.filter("id < 4")}, appends={"log": df.filter("id = 0")})
    store.commit(2, {"front": df.filter("id < 7")}, appends={"log": df.filter("id = 1")})

    # snapshot tables resolve per wave, not to the latest pointer
    assert store.load_at(spark, "front", 1).count() == 4
    assert store.load_at(spark, "front", 2).count() == 7
    # append log: wave 1 sees only its own delta, wave 2 the cumulative list
    assert store.load_at(spark, "log", 1).count() == 1
    assert store.load_at(spark, "log", 2).count() == 2
    # unknown table at a known wave → None (same contract as load())
    assert store.load_at(spark, "nope", 2) is None

    # wave 3 commit GCs wave 1's snapshot dir (keep_last=2) but append
    # deltas are protected by the cumulative manifest list
    store.commit(3, {"front": df}, appends={"log": df.filter("id = 2")})
    with pytest.raises(ValueError, match="GC'd"):
        store.load_at(spark, "front", 1)
    assert store.load_at(spark, "log", 1).count() == 1
    with pytest.raises(ValueError, match="no manifest"):
        store.load_at(spark, "front", 99)


def test_lineage_accounting(default_run):
    """Per-partition lineage rows reconcile with the crawl totals
    (north rule: partition id, dequeued, fetched, deduped, enqueued)."""
    res = default_run
    lin = res.lineage.groupBy().sum("dequeued", "fetched", "enqueued").collect()[0]
    assert lin["sum(dequeued)"] == len(res.event_order())
    assert lin["sum(fetched)"] == len(res.crawl_order())
    # with no resume rows, everything ever enqueued = seen minus the seed
    assert lin["sum(enqueued)"] == res.seen.count() - 1


def test_lineage_per_partition(default_run):
    """Every (wave_id, partition_id) lineage row equals a recomputation:
    dequeued / fetched / virtual_ms from the events log, enqueued from
    the seen set (an uncapped crawl dequeues each enqueued URL in the
    wave after the one that enqueued it; the seed is never enqueued)."""
    res = default_run
    cfg = CrawlConfig(base_url="http://x/")
    pid = F.pmod(F.xxhash64(host_expr(F.col("url"))), F.lit(cfg.n_shards)).cast("int")
    ev = res.events.select("wave_id", "url", "status", pid.alias("partition_id"))
    per_host = ev.groupBy("wave_id", "partition_id", host_expr(F.col("url"))).agg(
        F.count("*").alias("dq"), F.sum((F.col("status") == "ok").cast("long")).alias("f")
    )
    fetch_side = per_host.groupBy("wave_id", "partition_id").agg(
        F.sum("dq").alias("dequeued"),
        F.sum("f").alias("fetched"),
        (F.max("dq") * cfg.request_delay_ms).alias("virtual_ms"),
    )
    first_wave = ev.groupBy("url").agg(F.min("wave_id").alias("w"))
    enq_side = (
        res.seen.join(first_wave, "url")
        .filter(F.col("w") > 0)
        .groupBy((F.col("w") - 1).alias("wave_id"), pid.alias("partition_id"))
        .agg(F.count("*").alias("enqueued"))
    )
    assert res.seen.join(first_wave, "url", "left_anti").count() == 0

    def rows(df, cols):
        return sorted(tuple(int(r[c] or 0) for c in cols) for r in df.collect())

    key = ["wave_id", "partition_id"]
    lin = res.lineage.filter(F.col("dequeued") > 0)
    assert rows(lin, key + ["dequeued", "fetched", "virtual_ms"]) == rows(
        fetch_side, key + ["dequeued", "fetched", "virtual_ms"]
    )
    lin = res.lineage.filter(F.col("enqueued") > 0)
    assert rows(lin, key + ["enqueued"]) == rows(enq_side, key + ["enqueued"])
    # deduped = candidates that were not new: never negative
    assert res.lineage.filter(F.col("deduped") < 0).count() == 0


def test_rollback_then_resume_matches(spark, web, web_dfs, default_run):
    """Iceberg-style rollback: flip the manifest back one wave, resume,
    and reach the same final state as the uninterrupted run (the
    re-executed waves are deterministic)."""
    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
    )
    want = _collect_state(default_run)
    with tempfile.TemporaryDirectory() as ckpt:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt, max_waves=3),
        ).run()
        store = CheckpointStore(ckpt)
        assert store.latest()["wave_id"] == 2
        store.rollback(1)  # forget wave 2
        assert store.latest()["wave_id"] == 1
        res = CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt),
        ).run(resume=True)
        assert _collect_state(res) == want


def test_kill_and_resume_after_reshard(spark, web, web_dfs, default_run):
    """r4 auto-sharding × T5: a crawl whose tier RESHARDED mid-run
    (overflow rebuild picked a bigger shard count than cfg.n_shards)
    is killed and resumed. The resumed engine must address the table
    with the count it was BUILT with — read from the manifest meta
    pins, not the config — or every probe routes keys to wrong
    shards. Final state must match the uninterrupted exact run."""
    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        seen_mode="cuckoo",
        n_shards=2,
        bloom_probe_min_seen=0,
        tier_min_per_shard=4,        # tiny capacity → overflow rebuilds
        tier_max_keys_per_shard=10,  # rebuilds pick ceil(seen/10) shards
    )
    want = _collect_state(default_run)
    with tempfile.TemporaryDirectory() as ckpt:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt, max_waves=4),
        ).run()
        store = CheckpointStore(ckpt)
        # non-vacuity: the kill happened AFTER a reshard beyond n_shards=2
        assert int(store.latest()["meta"]["tier_shards"]) > 2
        # ... and a commit-time overflow was rebuilt and amended into
        # the manifest (a rebuild=<wave> snapshot of the tier table)
        assert any(d.startswith("rebuild=") for d in os.listdir(os.path.join(ckpt, "cuckoo")))
        res = CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt),
        ).run(resume=True)
        assert _collect_state(res) == want


def test_kill_and_resume_cuckoo_mode(spark, web, web_dfs, default_run):
    """T5 × X4 for the DELETABLE tier: kill/resume with
    seen_mode='cuckoo'. The fingerprint shard table round-trips the
    store under the 'cuckoo' key and the resumed crawl stays
    bit-identical to an uninterrupted exact-mode run."""
    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        seen_mode="cuckoo",
        n_shards=4,
        bloom_probe_min_seen=0,
    )
    want = _collect_state(default_run)
    with tempfile.TemporaryDirectory() as ckpt:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt, max_waves=2),
        ).run()
        store = CheckpointStore(ckpt)
        assert "cuckoo" in store.latest()["tables"]  # shards round-tripped
        res = CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt),
        ).run(resume=True)
        assert _collect_state(res) == want


def test_amend_never_clobbers_and_history_is_atomic(spark, tmp_path):
    """ADVICE r4: (a) amend() must not overwrite an existing snapshot
    dir (a historical manifest may still reference it after rollback +
    re-run) — it suffixes an attempt counter instead; (b) history
    manifests are written tmp+rename (no partial file on crash)."""
    import os

    store = CheckpointStore(str(tmp_path / "ck"), keep_last=10)
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    store.commit(1, {"t": df})

    m1 = store.amend("t", df.filter("id < 7"), "rebuild=1")
    p1 = m1["tables"]["t"]
    m2 = store.amend("t", df.filter("id < 3"), "rebuild=1")
    p2 = m2["tables"]["t"]
    assert p1 != p2 and p2.endswith("rebuild=1.1")
    # the first amend's data is untouched and still readable
    assert spark.read.parquet(p1).count() == 7
    assert store.load(spark, "t").count() == 3
    # no .tmp residue: every manifest write went through os.replace
    assert not [f for f in os.listdir(store.root) if f.endswith(".tmp")]
    # GC still parses the suffixed tag's wave id (keeps, not leaks)
    store.commit(2, {"t": df})
    store._gc(keep_wave=2, keep_last=1)
    assert not os.path.exists(p2)  # aged out with wave 1


def test_resume_from_overflow_degraded_cuckoo_blob_is_bit_identical(
    spark, web, web_dfs, default_run
):
    """VERDICT r5 item 6: a kill in the cuckoo overflow window —
    after a commit whose lazy absorb overflowed the tier, before the
    rebuild's manifest amend — leaves the manifest pointing at a
    DEGRADED blob (failed inserts ⇒ missing fingerprints ⇒ probe
    negatives may be false). Construct exactly that on-disk state:
    kill after 2 waves, then amend the persisted tier to a cuckoo
    table built from only HALF the seen set with absurd capacity
    (n_fail > 0 guaranteed). A resume that trusted probe negatives
    would re-enqueue seen URLs and diverge; the per-probe overflow
    observation must instead force the exact fallback + rebuild, so
    the resumed crawl matches the uninterrupted one bit-for-bit."""
    from pyspark.sql import functions as F

    from webcrawlergo_spark.operators.seenset import build_cuckoo_shards

    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
        seen_mode="cuckoo",
        n_shards=4,
        bloom_probe_min_seen=0,
    )
    want = _collect_state(default_run)
    with tempfile.TemporaryDirectory() as ckpt:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt, max_waves=3),
        ).run()
        store = CheckpointStore(ckpt)
        seen = store.load(spark, "seen")
        assert seen.count() > 30  # the degraded blob really misses keys below
        half = seen.filter(F.xxhash64("url") % 2 == 0).select("url")
        # the blob really misses the other half of the keys; n_fail>0
        # is the persisted failed-insert flag those misses would have
        # left behind at scale (small fixtures can't organically fail
        # 4-slot buckets with this few keys)
        degraded = build_cuckoo_shards(half, n_shards=4, expected_per_shard=1).withColumn(
            "n_fail", F.greatest(F.col("n_fail"), F.lit(1))
        )
        store.amend("cuckoo", degraded, "rebuild=99")

        res = CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**base_cfg, checkpoint_dir=ckpt),
        ).run(resume=True)
        assert _collect_state(res) == want


def test_resume_refuses_cross_format_signatures(spark, web, web_dfs):
    """ADVICE r5: a checkpoint whose manifest predates the bigint
    content-minhash format (stats_format absent/1) must fail LOUDLY at
    resume when the run would append new-format signature columns —
    not later, at a mixed-type schema merge."""
    import json
    import os

    import pytest

    from webcrawlergo_spark.plans.wave import STATS_FORMAT

    base_cfg = dict(
        base_url=web.base_url,
        marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns,
    )
    with tempfile.TemporaryDirectory() as ckpt:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(
                **base_cfg, checkpoint_dir=ckpt, max_waves=2,
                analyze_pages=True, content_minhash=True,
            ),
        ).run()
        # doctor the manifest back to the legacy format
        mp = os.path.join(ckpt, "_manifest.json")
        with open(mp) as f:
            m = json.load(f)
        assert m["meta"]["stats_format"] == STATS_FORMAT
        del m["meta"]["stats_format"]
        with open(mp, "w") as f:
            json.dump(m, f)
        with pytest.raises(RuntimeError, match="stats_format"):
            CrawlEngine(
                spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
                CrawlConfig(
                    **base_cfg, checkpoint_dir=ckpt,
                    analyze_pages=True, content_minhash=True,
                ),
            ).run(resume=True)


def _base_cfg(web, **kw):
    return dict(
        base_url=web.base_url, marked_paths=web.marked_paths,
        ignore_patterns=web.ignore_patterns, **kw,
    )


@pytest.fixture(scope="module")
def two_wave_ckpt(spark, web, web_dfs, tmp_path_factory):
    """The checkpoint of a crawl killed after 2 waves."""
    ckpt = str(tmp_path_factory.mktemp("two_wave"))
    CrawlEngine(
        spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
        CrawlConfig(**_base_cfg(web, checkpoint_dir=ckpt, max_waves=2)),
    ).run()
    return ckpt


def test_manifest_logs_registry_once(spark, web, web_dfs, two_wave_ckpt, tmp_path):
    """The urls registry is no snapshot: the starting registry is an
    append log written by the first commit only. The invalid hrefs are
    a log too; the only snapshots are frontier, pending and seen. A
    checkpoint without the registry log or the pending table refuses
    to resume."""
    m = CheckpointStore(two_wave_ckpt).latest()
    assert m["wave_id"] == 1
    assert sorted(m["tables"]) == ["frontier", "pending", "seen"]
    assert "invalid" in m["append_tables"]
    assert len(m["append_tables"]["registry"]) == 1
    assert len(m["append_tables"]["events"]) == 2

    for kind, name in (("append_tables", "registry"), ("tables", "pending")):
        legacy = str(tmp_path / f"without_{name}")
        shutil.copytree(two_wave_ckpt, legacy)
        old = json.loads(json.dumps(m))
        del old[kind][name]
        with open(os.path.join(legacy, "_manifest.json"), "w") as f:
            json.dump(old, f)
        with pytest.raises(RuntimeError, match="registry"):
            CrawlEngine(
                spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
                CrawlConfig(**_base_cfg(web, checkpoint_dir=legacy)),
            ).run(resume=True)


def test_fresh_run_into_used_checkpoint_dir_raises(spark, web, web_dfs, two_wave_ckpt):
    """A run without resume=True must not commit into a directory that
    holds another crawl (its commits would inherit that crawl's logs),
    and the refusal leaves the checkpoint as it was."""
    path = os.path.join(two_wave_ckpt, "_manifest.json")
    with open(path) as f:
        before = f.read()
    with pytest.raises(ValueError, match="resume=True") as err:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**_base_cfg(web, checkpoint_dir=two_wave_ckpt)),
        ).run()
    assert two_wave_ckpt in str(err.value)
    with open(path) as f:
        assert f.read() == before


def test_page_stats_survive_kill_and_resume(spark, web, web_dfs):
    """The page_stats log is committed with the wave, so a resumed
    analyze_pages crawl returns the stats of the waves before the kill
    too (content minhash on: the resume reads the bigint mh columns)."""
    cfg = _base_cfg(web, analyze_pages=True, content_minhash=True)

    def stats(res):
        return sorted(tuple(sorted(r.asDict().items())) for r in res.page_stats.collect())

    full = CrawlEngine(
        spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
        CrawlConfig(**cfg, max_waves=4),
    ).run()
    assert full.waves == 4  # the kill below is mid-crawl
    want = stats(full)
    with tempfile.TemporaryDirectory() as ckpt:
        CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**cfg, checkpoint_dir=ckpt, max_waves=2),
        ).run()
        res = CrawlEngine(
            spark, web_dfs["index"], web_dfs["docs"], web_dfs["robots"],
            CrawlConfig(**cfg, checkpoint_dir=ckpt, max_waves=4),
        ).run(resume=True)
        assert stats(res) == want
