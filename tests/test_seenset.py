"""Seen-set tier tests: the cuckoo shard probe is executor-side with
no false negatives, the confirm strategy is gated on rows and bytes,
and the cuckoo filter supports insert/contains/delete."""

import numpy as np
from pyspark.sql import functions as F

from webcrawlergo_spark.operators.seenset import (
    CuckooFilter,
    build_cuckoo_shards,
    cuckoo_probe_sharded,
    dedup_new_urls,
)


def test_cuckoo_probe_is_executor_side(spark):
    """The probe plan is a cogrouped FlatMapCoGroupsInPandas — the
    shard tables arrive via the shuffle (one table per task), never as
    a whole-table broadcast; the driver holds no table between calls."""
    seen = spark.range(1000).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    cand = spark.range(500, 1500).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    cuckoo_df = build_cuckoo_shards(seen, n_shards=8)
    flagged = cuckoo_probe_sharded(cand, cuckoo_df, n_shards=8)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastExchange" not in plan
    # no false negatives: every seen candidate is flagged maybe_seen
    rows = {r["url"]: r["maybe_seen"] for r in flagged.collect()}
    assert all(rows[f"u{i}"] for i in range(500, 1000))


def test_cuckoo_probe_missing_shard_is_definitely_new(spark):
    """Candidates hashing to a shard with no table row (e.g. a fresh
    shard before any key landed there) must come back maybe_seen=False
    — probe negatives stay exact."""
    seen = spark.range(1).select(F.concat(F.lit("seed"), F.col("id")).alias("url"))
    cuckoo_df = build_cuckoo_shards(seen, n_shards=8)  # ≤1 shard populated
    cand = spark.range(2000).select(F.concat(F.lit("x"), F.col("id")).alias("url"))
    flagged = cuckoo_probe_sharded(cand, cuckoo_df, n_shards=8)
    n_maybe = flagged.filter(F.col("maybe_seen")).count()
    assert n_maybe < 50  # only same-shard false positives survive


def test_confirm_broadcast_gate_rows_and_bytes(spark):
    """The two-step broadcast confirm engages only when the maybe set
    is small in ROWS and BYTES (ADVICE r3: a row-only cap is unbounded
    in bytes for long URLs). Either budget exceeded → the plan falls
    back to the hintless sort-merge anti-join; result identical."""
    seen = spark.range(500).select(F.concat(F.lit("u"), F.col("id")).alias("url"))
    cand = (
        spark.range(400, 900)
        .select(F.concat(F.lit("u"), F.col("id")).alias("url"))
        .withColumn("maybe", F.lit(True))
    )
    want = [f"u{i}" for i in range(500, 900)]

    def run(**kw):
        df = dedup_new_urls(cand, seen, maybe_col="maybe", n_maybe=500, **kw)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        return sorted(r["url"] for r in df.collect()), "ResolvedHint" in analyzed

    rows, hinted = run(maybe_bytes=500 * 8)
    assert rows == want and hinted  # both budgets fit → broadcast confirm
    rows, hinted = run(maybe_bytes=500 * 8, confirm_broadcast_max_bytes=100)
    assert rows == want and not hinted  # byte budget exceeded → sort-merge
    rows, hinted = run(maybe_bytes=500 * 8, confirm_broadcast_max=10)
    assert rows == want and not hinted  # row budget exceeded → sort-merge


def test_cuckoo_high_load_no_false_negatives():
    """Regression (r4 review): with a NON-power-of-two bucket count
    the partial-key xor involution breaks and kick-chain evictions
    relocate fingerprints into buckets the probe never checks —
    silent false negatives at n_fail == 0 (~0.1% of inserted keys at
    60% load). The shipped sizing must therefore be a power of two,
    and every inserted key must probe positive right up to design
    load."""
    from webcrawlergo_spark.operators.seenset import _cuckoo_buckets_for

    per_shard = 50_000
    n_buckets = _cuckoo_buckets_for(per_shard)
    assert n_buckets & (n_buckets - 1) == 0  # power of two
    rng = np.random.default_rng(17)
    n = int(n_buckets * CuckooFilter.SLOTS * 0.80)  # just under design load
    h1 = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    h2 = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    cf = CuckooFilter(n_buckets)
    fails = cf.insert_many(h1, h2)
    assert fails == 0
    assert cf.contains_many(h1, h2).all()  # zero false negatives


def test_cuckoo_rejects_non_power_of_two():
    import pytest

    with pytest.raises(ValueError, match="power of two"):
        CuckooFilter(1000)


def test_cuckoo_delete_missing_shard_fabricates_nothing(spark):
    """Deleting keys that hash to a shard with no filter row must NOT
    create an empty table row (it would persist and shuffle forever)."""
    from webcrawlergo_spark.operators.seenset import cuckoo_delete_shards

    seen = spark.createDataFrame([("https://h.test/only",)], "url string")
    cuckoo_df = build_cuckoo_shards(seen, n_shards=8)  # 1 shard row
    n_rows = cuckoo_df.count()
    victims = spark.range(200).select(
        F.concat(F.lit("https://h.test/v"), F.col("id")).alias("url")
    )
    after = cuckoo_delete_shards(cuckoo_df, victims, n_shards=8)
    assert after.count() == n_rows


def test_n_shards_resolved_from_table(spark):
    """Callers that don't track the build's shard count pass
    n_shards=None and the count is read from the table rows — a
    hard-coded default mismatched with the build would route keys to
    the wrong shard and (for cuckoo) silently pass seen URLs as new."""
    all_urls = [f"https://h.test/r{i}" for i in range(400)]
    seen = spark.createDataFrame([(u,) for u in all_urls[:250]], "url string")
    cuckoo_df = build_cuckoo_shards(seen, n_shards=4)
    cands = spark.createDataFrame([(u,) for u in all_urls], "url string")
    got = sorted(
        r["url"] for r in dedup_new_urls(cands, seen, cuckoo_df=cuckoo_df).collect()
    )
    assert got == sorted(all_urls[250:])


def test_cuckoo_insert_contains_delete():
    rng = np.random.default_rng(1)
    n = 3000
    h1 = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    h2 = rng.integers(0, 2**63, n, dtype=np.int64).astype(np.uint64)
    cf = CuckooFilter(n_buckets=2048)  # load factor ~0.37, no failures expected
    fails = cf.insert_many(h1, h2)
    assert fails == 0
    assert cf.contains_many(h1, h2).all()
    # delete the first half; they must vanish, the rest must stay
    gone = cf.delete_many(h1[: n // 2], h2[: n // 2])
    assert gone.all()
    assert cf.contains_many(h1[n // 2 :], h2[n // 2 :]).all()
    # FPR after deletion stays small on fresh keys
    f1 = rng.integers(0, 2**63, 5000, dtype=np.int64).astype(np.uint64)
    f2 = rng.integers(0, 2**63, 5000, dtype=np.int64).astype(np.uint64)
    assert cf.contains_many(f1, f2).mean() < 0.05


def test_cuckoo_roundtrip_bytes():
    rng = np.random.default_rng(3)
    h1 = rng.integers(0, 2**63, 100, dtype=np.int64).astype(np.uint64)
    h2 = rng.integers(0, 2**63, 100, dtype=np.int64).astype(np.uint64)
    cf = CuckooFilter(256)
    cf.insert_many(h1, h2)
    cf2 = CuckooFilter.from_bytes(cf.to_bytes(), 256)
    assert cf2.contains_many(h1, h2).all()
