"""Deterministic global sequence numbers without a single-partition sort.

The crawl-order contract (SURVEY §3.1) needs a *global* event rank per
wave. A naive ``row_number() OVER (ORDER BY ...)`` collapses to one
partition — fine at test scale, a straggler at 10^10 rows. Instead:

1. range-repartition on the ordering key (parallel sort),
2. per-partition ``row_number`` (no exchange — partition-local),
3. add per-partition offsets computed from partition counts (tiny
   driver-side cumulative sum — #partitions values, not #rows).

This is the classic zipWithIndex recipe expressed in DataFrame ops.

Bit layout of ``monotonically_increasing_id`` (``_mid``), which
``with_global_rank`` and ``with_host_seq`` decode: the upper 31 bits
hold the partition index and the lower 33 bits the record's position
within its partition, so ``_pid = _mid >> 33`` and
``local_idx = _mid & (2^33 - 1)``. The decoding is exact only while
every partition holds fewer than 2^33 rows; past that the position
carries into the partition bits. ``with_global_rank`` checks the bound
on the driver from the per-partition counts it collects anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_df

SMALL_BATCH = 100_000
MID_LOCAL_BITS = 33  # the record-position field of monotonically_increasing_id


def _prefix_offsets(
    local: DataFrame, per_pid_agg, start: int = 0, max_per_pid: int | None = None
) -> DataFrame:
    """Per-partition offset table for the three-step prefix recipe:
    aggregate one value per partition of the PINNED frame (count for
    ranks, sum for running totals — #partitions rows, never #rows),
    cumulative-sum it on the driver, return a broadcastable
    (_pid, _off) frame. Shared by with_global_rank and
    with_running_sum so the subtle offset logic exists once.
    ``max_per_pid``: exclusive bound every aggregate must stay under."""
    totals = {
        r["_pid"]: r["agg"]
        for r in local.groupBy("_pid").agg(per_pid_agg.alias("agg")).collect()
    }
    if max_per_pid is not None:
        over = {pid: n for pid, n in totals.items() if (n or 0) >= max_per_pid}
        if over:
            raise RuntimeError(
                f"partitions {sorted(over)} hold >= {max_per_pid} rows: the "
                "monotonically_increasing_id record field would overflow into "
                "the partition bits; raise the partition count"
            )
    offsets, acc = {}, start
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid] or 0)
    return local_df(
        local.sparkSession,
        [(pid, off) for pid, off in offsets.items()] or [(0, start)],
        "_pid int, _off long",
    )


def with_global_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str,
    start: int = 0,
    partitions: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Add ``rank_col``: the 0-based global rank of each row under
    ``order_cols`` (+ a final total ordering assumed unique).

    When the caller already knows the batch is small (``n_rows``),
    skip the range-partition machinery: a single-partition window is
    cheaper than three extra jobs below ~10^5 rows.
    """
    if n_rows is not None and n_rows <= SMALL_BATCH:
        # partitionBy(lit(0)) == one partition, DELIBERATELY: below
        # SMALL_BATCH rows a single-task window beats the 3-job
        # range-partition recipe. The explicit constant partition key
        # states the intent (and silences Spark's "no partition
        # defined" accident-detector, which this is not).
        w = Window.partitionBy(F.lit(0)).orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(rank_col, (F.row_number().over(w) - 1 + start).cast("long"))
    n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    order = [F.col(c) for c in order_cols]
    # r6: the per-partition rank comes from monotonically_increasing_id
    # over an explicit sortWithinPartitions — NOT from a
    # Window.partitionBy(spark_partition_id()). The window spelling
    # required ClusteredDistribution(spark_partition_id()), so
    # EnsureRequirements inserted a SECOND full exchange of the data
    # (hashpartitioning(pid)) right after the range exchange — and,
    # being ENSURE_REQUIREMENTS-origin, AQE coalesced it to ~64 MB
    # partitions, silently narrowing every downstream stage (an 18-wide
    # 1M-row crawl wave on 32 cores). mid = (pid << 33) + local_idx is
    # partition-local row order — after the explicit sort that IS the
    # rank order (order_cols are a unique total order, the function's
    # documented contract) — so the recipe now moves the data exactly
    # once and the REPARTITION_BY_NUM range exchange (AQE-exempt) pins
    # full width.
    parted = df.repartitionByRange(int(n), *order).sortWithinPartitions(*order)
    local = parted.withColumn("_mid", F.monotonically_increasing_id())
    # localCheckpoint pins the partitioning: the count-per-partition pass
    # and the final pass must see identical partition layouts.
    local = local.localCheckpoint(eager=True).withColumn(
        "_pid", F.shiftright(F.col("_mid"), MID_LOCAL_BITS).cast("int")
    )
    off_df = _prefix_offsets(local, F.count("*"), start, max_per_pid=1 << MID_LOCAL_BITS)
    local_idx = F.col("_mid").bitwiseAND(F.lit((1 << MID_LOCAL_BITS) - 1))
    return (
        local.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(rank_col, (F.coalesce(F.col("_off"), F.lit(start)) + local_idx).cast("long"))
        .drop("_pid", "_mid", "_off")
    )


def with_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    sum_col: str,
    n_rows: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Add ``sum_col``: the INCLUSIVE running sum of ``value_col``
    under ``order_cols`` — the global-prefix-sum sibling of
    with_global_rank, same three-step recipe (range-partition,
    partition-local window, per-partition offsets from a
    #partitions-sized driver cumsum). A naive ``SUM() OVER (ORDER
    BY ...)`` collapses to one partition; this stays parallel at
    10^10 rows. Backs the sequence-packing planner (operators/
    text.py::pack_documents).

    NULL contract: NULL values count as 0 and the running sum is
    never NULL — identical on both paths (plain ``SUM() OVER`` would
    instead return NULL until the first non-NULL value, and the
    distributed recipe would otherwise NULL only at partition heads:
    same input, path-dependent output — review r4)."""
    v = F.coalesce(F.col(value_col), F.lit(0))
    if n_rows is not None and n_rows <= SMALL_BATCH:
        w = (
            Window.partitionBy(F.lit(0))
            .orderBy(*[F.col(c) for c in order_cols])
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return df.withColumn(sum_col, F.sum(v).over(w).cast("long"))
    n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    parted = df.repartitionByRange(int(n), *[F.col(c) for c in order_cols])
    w = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parted.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_local_sum", F.sum(v).over(w)
    )
    local = local.localCheckpoint(eager=True)  # pin the partition layout
    off_df = _prefix_offsets(local, F.sum(v))
    return (
        local.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(
            sum_col,
            (
                F.coalesce(F.col("_off"), F.lit(0))
                + F.coalesce(F.col("_local_sum"), F.lit(0))
            ).cast("long"),
        )
        .drop("_pid", "_local_sum", "_off")
    )


def with_host_seq(
    df: DataFrame,
    host_col: str,
    order_cols: list[str],
    seq_col: str,
    n_rows: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Add ``seq_col``: the 1-based rank of each row WITHIN its host
    under ``order_cols`` — the per-request politeness clock (the
    reference sleeps RequestDelay between a host's requests, so a
    request's virtual offset inside a wave is (seq-1) × delay).

    A plain ``row_number() OVER (PARTITION BY host)`` serializes a
    mega-host (25% of the bench frontier is one host) into a single
    task. Distributed shape instead: range-partition on
    (host, order) so one host spans several ordered partitions, rank
    locally, then add per-(partition, host) offsets via a prefix sum
    over the COUNTS table (O(distinct (partition, host)) rows — ≤ a
    few rows per host — never the event rows)."""
    if n_rows is not None and n_rows <= SMALL_BATCH:
        w = Window.partitionBy(host_col).orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(seq_col, F.row_number().over(w).cast("long"))
    n = partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    # r6: same one-exchange rewrite as with_global_rank — the
    # Window.partitionBy(spark_partition_id(), host) spelling forced a
    # second full exchange on pid (AQE-coalescible, width-narrowing).
    # After the explicit (host, order) sort, mid's partition-local row
    # index is the rank order; the per-(partition, host) local rank is
    # local_idx − min(local_idx over that (partition, host) group) + 1,
    # with the group mins riding the SAME tiny aggregate that already
    # produced the per-group counts for the cross-partition offsets.
    order = [F.col(c) for c in order_cols]
    parted = df.repartitionByRange(int(n), F.col(host_col), *order).sortWithinPartitions(
        F.col(host_col), *order
    )
    local = parted.withColumn("_mid", F.monotonically_increasing_id())
    local = local.localCheckpoint(eager=True)  # pin the partition layout
    local_idx = F.col("_mid").bitwiseAND(F.lit((1 << MID_LOCAL_BITS) - 1))
    local = local.withColumn(
        "_pid", F.shiftright(F.col("_mid"), MID_LOCAL_BITS).cast("int")
    )
    groups = local.groupBy("_pid", host_col).agg(
        F.count("*").alias("_cnt"), F.min(local_idx).alias("_min")
    )
    w_off = (
        Window.partitionBy(host_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = groups.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0))
    ).select("_pid", host_col, "_off", "_min")
    # no broadcast hint: offsets is O(distinct (partition, host)) rows —
    # tiny for bounded hosts, but a 10^8-host frontier must be allowed
    # to fall back to a shuffle join (AQE auto-broadcasts when small)
    return (
        local.join(offsets, ["_pid", host_col], "left")
        .withColumn(
            seq_col, (F.col("_off") + local_idx - F.col("_min") + 1).cast("long")
        )
        .drop("_pid", "_mid", "_off", "_min")
    )
