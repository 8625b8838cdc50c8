"""Port of the reference's queue unit tests onto the frontier ops
(reference queue/queue_test.go:1-202, table for table — SURVEY §5.1).

The UniqueQueue maps onto DataFrame primitives:
  Insert (dedup)        → dedup_new_urls anti-join (J2)
  InsertForce           → unionByName (no dedup)
  Remove (FIFO)         → min enqueue key / with_global_rank order
  GetMapValue/SetMap    → fetch_flags table semantics (wave engine)
"""

import pytest
from pyspark.sql import functions as F

from webcrawlergo_spark.operators.seenset import dedup_new_urls
from webcrawlergo_spark.plans.rank import _prefix_offsets, with_global_rank


def _urls_df(spark, items):
    return spark.createDataFrame([(u, i) for i, u in enumerate(items)], "url string, seq int")


def test_insert_dedup_semantics(spark):
    # queue_test.go:21-50: [item1, item2, item1] → queue keeps 2
    seen = spark.createDataFrame([], "url string")
    batch = _urls_df(spark, ["item1", "item2", "item1"])
    firsts = batch.groupBy("url").agg(F.min("seq").alias("seq"))
    added = dedup_new_urls(firsts, seen)
    rows = sorted((r["url"], r["seq"]) for r in added.collect())
    assert rows == [("item1", 0), ("item2", 1)]
    # re-inserting item1 against the updated seen set is a NOP
    seen2 = seen.unionByName(added.select("url"))
    again = dedup_new_urls(_urls_df(spark, ["item1"]).groupBy("url").agg(F.min("seq").alias("seq")), seen2)
    assert again.count() == 0


def test_insert_force_bypasses_dedup(spark):
    # queue_test.go:52-78: force-insert grows the queue regardless
    q = _urls_df(spark, ["item1", "item2"])
    forced = q.unionByName(_urls_df(spark, ["item1", "item2"]))
    assert forced.count() == 4


def test_fifo_order(spark):
    # queue_test.go:80-126: removal order == insertion order
    q = _urls_df(spark, ["a", "b", "c", "d"])
    ranked = with_global_rank(q, ["seq"], "rank")
    got = [r["url"] for r in ranked.orderBy("rank").collect()]
    assert got == ["a", "b", "c", "d"]


def test_global_rank_across_partitions(spark):
    big = spark.range(1000).select(F.col("id").alias("seq"), F.col("id").cast("string").alias("url"))
    ranked = with_global_rank(big.repartition(7), ["seq"], "rank", start=100)
    rows = ranked.orderBy("rank").collect()
    assert [r["rank"] for r in rows] == list(range(100, 1100))
    assert [int(r["url"]) for r in rows] == list(range(1000))


def test_prefix_offsets_rejects_oversized_partitions(spark):
    """A partition at the monotonically_increasing_id record-field bound
    is refused on the driver instead of decoding to wrong ranks."""
    local = spark.range(10).select((F.col("id") % 2).cast("int").alias("_pid"))
    off = _prefix_offsets(local, F.count("*"), start=3, max_per_pid=6)
    assert sorted(tuple(r) for r in off.collect()) == [(0, 3), (1, 8)]
    with pytest.raises(RuntimeError, match="partitions \\[0, 1\\]"):
        _prefix_offsets(local, F.count("*"), max_per_pid=5)


def test_fetch_flag_semantics(web, default_run):
    # queue_test.go:128-171 GetMapValue/SetMapValue ≈ fetch_flags:
    # never-pushed key absent; marked discovery true; save resets false
    res = default_run
    saved_urls = {r["url"] for r in res.pages.collect()}
    seen_urls = {r["url"] for r in res.seen.collect()}
    assert saved_urls <= seen_urls
    # every saved URL matched a marked path (this run has no resume rows)
    assert all(any(m in u for m in web.marked_paths) for u in saved_urls)


def test_view_prefix_and_out_of_range(spark):
    """queue_test.go:173-201 table: View(n) returns the FIFO prefix;
    n > size raises (ErrOutOfRange)."""
    from webcrawlergo_spark.operators.relational import frontier_view

    q = spark.createDataFrame(
        [("u3", 2), ("u1", 0), ("u2", 1)], "url string, pos int"
    )
    rows = frontier_view(q, ["pos"], 2)
    assert [r["url"] for r in rows] == ["u1", "u2"]
    assert [r["url"] for r in frontier_view(q, ["pos"], 3)] == ["u1", "u2", "u3"]
    import pytest as _pytest

    with _pytest.raises(IndexError):
        frontier_view(q, ["pos"], 4)
    with _pytest.raises(IndexError):
        frontier_view(q.limit(0), ["pos"], 1)  # ErrEmptyQueue analog


def test_get_map_value_and_not_found(spark):
    """queue_test.go:128-171 table: map value round-trip + missing key
    raises (ErrItemNotFound)."""
    from webcrawlergo_spark.operators.relational import get_map_value

    flags = spark.createDataFrame(
        [("u1", True), ("u2", False)], "url string, flag boolean"
    )
    assert get_map_value(flags, "u1") is True
    assert get_map_value(flags, "u2") is False
    import pytest as _pytest

    with _pytest.raises(KeyError):
        get_map_value(flags, "never-inserted")


def test_with_host_seq_distributed_path_matches_window(spark):
    """The distributed per-host sequence (range partition + local rank
    + prefix-sum offsets over the counts table) must equal the plain
    window row_number — exercised on the BIG path (n_rows omitted so
    the range-partition machinery runs even at test size), with a
    skewed mega-host (half the rows on one host)."""
    from pyspark.sql import Window, functions as F

    from webcrawlergo_spark.plans.rank import with_host_seq

    df = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("mega.test"))
        .otherwise(F.concat(F.lit("h"), F.pmod(F.col("id"), 97)))
        .alias("host"),
        F.col("id").alias("event_rank"),
    )
    got = {
        (r["host"], r["event_rank"]): r["seq"]
        for r in with_host_seq(df, "host", ["event_rank"], "seq").collect()
    }
    w = Window.partitionBy("host").orderBy("event_rank")
    want = {
        (r["host"], r["event_rank"]): r["seq"]
        for r in df.withColumn("seq", F.row_number().over(w).cast("long")).collect()
    }
    assert got == want


def test_with_running_sum_distributed_path_matches_window(spark):
    """The distributed global prefix sum (range partition + local
    cumsum window + per-partition total offsets) must equal the plain
    single-partition SUM() OVER window — BIG path (n_rows omitted),
    uneven values so offset mistakes can't cancel out."""
    from pyspark.sql import Window, functions as F

    from webcrawlergo_spark.plans.rank import with_running_sum

    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.pmod(F.col("id") * 7919, 251) + 1).alias("v")
    )
    got = {r["k"]: r["cum"] for r in with_running_sum(df, ["k"], "v", "cum").collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r["k"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w).cast("long")).collect()}
    assert got == want


def test_salted_topk_per_group_matches_plain_window(spark):
    """The two-phase salted top-K (phase 1: per (group, salt); phase
    2: exact rank of the bounded survivors) must select exactly the
    rows a plain per-group window would — on a skewed frame where one
    group holds half the rows."""
    from pyspark.sql import Window, functions as F

    from webcrawlergo_spark.operators.sampling import salted_topk_per_group

    df = spark.range(30_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("mega")).otherwise(
            F.concat(F.lit("g"), F.pmod(F.col("id"), 53))
        ).alias("grp"),
        F.md5(F.col("id").cast("string")).alias("h"),
        F.col("id"),
    )
    got = {
        (r["grp"], r["id"], r["rk"])
        for r in salted_topk_per_group(
            df, ["grp"], [F.col("h"), F.col("id")], 25, salt_on=F.col("id")
        ).collect()
    }
    w = Window.partitionBy("grp").orderBy("h", "id")
    want = {
        (r["grp"], r["id"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
        .collect()
    }
    assert got == want
