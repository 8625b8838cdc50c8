"""Port of the reference's queue unit tests onto the frontier ops
(reference queue/queue_test.go:1-202, table for table — SURVEY §5.1).

The UniqueQueue maps onto DataFrame primitives:
  Insert (dedup)        → dedup_new_urls anti-join (J2)
  InsertForce           → unionByName (no dedup)
  Remove (FIFO)         → min enqueue key / with_global_rank order
  GetMapValue/SetMap    → the wave engine's pending-save set
"""

import pytest
from pyspark.sql import Window, functions as F

from webcrawlergo_spark.operators.seenset import dedup_new_urls
from webcrawlergo_spark.plans import rank
from webcrawlergo_spark.plans.rank import with_global_rank


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


def test_distributed_prefix_rejects_oversized_partitions(spark, monkeypatch):
    """A partition past the monotonically_increasing_id record-field
    bound is refused (the guard rides the checkpoint as an Observation)
    instead of decoding to wrong ranks — on every distributed name."""
    monkeypatch.setattr(rank, "MAX_PER_PARTITION", 4)
    df = spark.range(200).select(
        F.col("id"), F.concat(F.lit("h"), F.col("id") % 3).alias("host"), F.col("id").alias("v")
    )
    for call in (
        lambda: rank.with_global_rank(df, ["id"], "r"),
        lambda: rank.with_host_seq(df, "host", ["id"], "s"),
        lambda: rank.with_running_sum(df, ["id"], "v", "c"),
    ):
        with pytest.raises(RuntimeError, match="monotonically_increasing_id"):
            call()


def test_fetch_flag_semantics(web, default_run):
    # queue_test.go:128-171 GetMapValue/SetMapValue ≈ the pending set:
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


def _rank_input(spark, n):
    """(id, k, host, v): k has ties (broken by id), one mega-host holds
    half the rows, every tenth host is NULL, every 13th value is NULL."""
    return spark.range(n).select(
        F.col("id"),
        F.pmod(F.col("id") * 31, F.lit(997)).alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit("mega.test"))
        .when(F.col("id") % 5 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("h"), F.pmod(F.col("id"), 97)))
        .alias("host"),
        F.when(F.col("id") % 13 == 0, F.lit(None))
        .otherwise(F.pmod(F.col("id") * 7919, 251) + 1)
        .alias("v"),
    )


RANK_CASES = {
    # name: (call, plain single-window reference)
    "global_rank": (
        lambda df, n: rank.with_global_rank(df, ["k", "id"], "out", start=7, n_rows=n),
        lambda: F.row_number().over(Window.orderBy("k", "id")) - 1 + 7,
    ),
    "host_seq": (
        lambda df, n: rank.with_host_seq(df, "host", ["k", "id"], "out", n_rows=n),
        lambda: F.row_number().over(Window.partitionBy("host").orderBy("k", "id")),
    ),
    "running_sum": (
        lambda df, n: rank.with_running_sum(df, ["k", "id"], "v", "out", n_rows=n),
        lambda: F.sum(F.coalesce("v", F.lit(0))).over(
            Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    ),
}


@pytest.mark.parametrize("partitions", [1, 3, 17])
@pytest.mark.parametrize("small", [True, False], ids=["small", "distributed"])
@pytest.mark.parametrize("name", sorted(RANK_CASES))
def test_prefix_paths_match_plain_window(spark, name, small, partitions):
    """Each rank name equals the plain window row for row on both paths
    (small: n_rows given; distributed: n_rows omitted, so the
    range-partition recipe runs even at test size) and for any
    partition count — with start≠0, NULL values, NULL hosts (one
    group), a mega-host holding half the rows and an empty frame."""
    call, plain = RANK_CASES[name]
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        for df in (_rank_input(spark, 3_000), _rank_input(spark, 0)):
            got = call(df, df.count() if small else None)
            want = df.withColumn("out", plain().cast("long"))
            assert got.dtypes == want.dtypes
            assert sorted(got.collect()) == sorted(want.collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


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
