"""Global prefixes — ranks, per-group sequences, running sums —
without a single-partition sort.

The crawl-order contract (SURVEY §3.1) needs a *global* event rank per
wave; a naive ``row_number() OVER (ORDER BY ...)`` collapses to one
partition, a straggler at 10^10 rows. The three public names are one
primitive, ``_prefix``, a zipWithIndex recipe in DataFrame ops:

1. small path: up to ``SMALL_BATCH`` rows (the caller passes
   ``n_rows``) one window over ``partitionBy(group or lit(0))``;
2. pin the layout: range-partition on (group, order), sort within
   partitions, number the rows with ``monotonically_increasing_id``
   (``_mid``), pin with one eager ``localCheckpoint``. The rows move
   once, through the range exchange (AQE keeps its width; r6: a
   ``Window.partitionBy(spark_partition_id())`` rank added a second,
   coalescible exchange);
3. offsets: one lazy per-(partition[, group]) aggregate of the count
   (or value sum) and the group's first local index, cumulated over the
   preceding partitions by a window and joined back. No driver collect.

``_mid`` holds the partition index in its upper 31 bits and the
record's position in its partition in the lower 33: ``_pid = _mid >>
33``, ``local_idx = _mid & (2^33 - 1)``, and after the explicit sort
``local_idx`` is the rank order within the partition. The decoding is
exact only while no partition holds more than ``MAX_PER_PARTITION`` =
2^33 rows. The guard rides the checkpoint job as an ``Observation`` of
``max(_mid - (spark_partition_id() << 33))``, the true record position
that a carry cannot hide, so every distributed call is checked at no
extra job and raises before it returns.

The running sum is the one branch on ``value``: its partition-local
inclusive sum is a ``Window.partitionBy(_pid)`` before the checkpoint,
which costs a clustering exchange — the DataFrame API has no
partition-local cumulative sum without one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

SMALL_BATCH = 100_000
MID_LOCAL_BITS = 33  # the record-position field of monotonically_increasing_id
MAX_PER_PARTITION = 1 << MID_LOCAL_BITS


def _prefix(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    group: str | None = None,
    value: str | None = None,
    start: int = 0,
    n_rows: int | None = None,
) -> DataFrame:
    """Add ``out_col``: ``start`` + the number of rows before this one
    (``value=None``), or + the inclusive sum of ``value`` up to this one
    (NULL counts as 0), in ``order_cols`` order — a unique total order —
    within ``group`` (the whole frame when None)."""
    order = [F.col(c) for c in order_cols]
    keys = [F.col(group)] if group else []
    v = None if value is None else F.coalesce(F.col(value), F.lit(0))
    upto = (Window.unboundedPreceding, Window.currentRow)
    if n_rows is not None and n_rows <= SMALL_BATCH:
        # partitionBy(lit(0)) == one partition, DELIBERATELY (and it
        # silences Spark's "no partition defined" accident-detector)
        w = Window.partitionBy(*keys or [F.lit(0)]).orderBy(*order)
        step = F.row_number().over(w) - 1 if v is None else F.sum(v).over(w.rowsBetween(*upto))
        return df.withColumn(out_col, (step + start).cast("long"))

    mid = F.col("_mid")
    pid = F.shiftright(mid, MID_LOCAL_BITS).cast("int")
    idx = mid.bitwiseAND(F.lit((1 << MID_LOCAL_BITS) - 1))
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    obs = Observation()
    local = (
        df.repartitionByRange(n, *keys, *order)
        .sortWithinPartitions(*keys, *order)
        .withColumn("_mid", F.monotonically_increasing_id())
        # the true record position, taken before the sum's exchange
        # renumbers the partitions
        .withColumn("_rec", mid - F.shiftleft(F.spark_partition_id().cast("long"), MID_LOCAL_BITS))
    )
    if v is not None:
        w = Window.partitionBy(pid, *keys).orderBy(mid).rowsBetween(*upto)
        local = local.withColumn("_sum", F.sum(v).over(w))
    # observed at the root: below an exchange that AQE prunes (an empty
    # frame) the Observation's metrics row is lost and reading it fails
    local = local.observe(obs, F.max("_rec").alias("top")).drop("_rec")
    local = local.localCheckpoint(eager=True).withColumn("_pid", pid)
    top = obs.get.get("top")  # None on an empty frame
    if top is not None and top >= MAX_PER_PARTITION:
        raise RuntimeError(
            f"a partition holds {top + 1} rows, more than the {MAX_PER_PARTITION} the "
            "monotonically_increasing_id record field can number; raise "
            "spark.sql.shuffle.partitions"
        )

    on = ["_pid", *([group] if group else [])]
    before = Window.partitionBy(*keys or [F.lit(0)]).orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy(*on)
        .agg((F.count("*") if v is None else F.sum(v)).alias("_tot"), F.min(idx).alias("_min"))
        .select(*on, "_min", F.coalesce(F.sum("_tot").over(before), F.lit(0)).alias("_off"))
    )
    # ADVICE r6 item 2: no broadcast hint on the grouped table — it is
    # O(distinct (partition, group)) rows, tiny for bounded hosts, but a
    # 10^8-host frontier must be allowed to fall back to a shuffle join
    # (AQE still broadcasts it when it is small). The recipe moves the
    # rows only once while this join broadcasts; a shuffle join is a
    # second exchange of them. Ungrouped, the table has #partitions rows.
    offsets = offsets.withColumnRenamed("_pid", "_opid")
    match = F.col("_pid") == F.col("_opid")
    if group is None:
        offsets = F.broadcast(offsets)
    else:
        # null-safe: the rows of a NULL group are one group, as on the
        # small path's window
        offsets = offsets.withColumnRenamed(group, "_ogroup")
        match &= F.col(group).eqNullSafe(F.col("_ogroup"))
    pos = idx - F.col("_min") if v is None else F.col("_sum")
    return local.join(offsets, match, "left").select(
        *df.columns, (F.col("_off") + pos + start).cast("long").alias(out_col)
    )


def with_global_rank(
    df: DataFrame, order_cols: list[str], rank_col: str, start: int = 0, n_rows: int | None = None
) -> DataFrame:
    """Add ``rank_col``: ``start`` + the 0-based global rank of each row
    under ``order_cols`` (a unique total order). ``n_rows`` at or below
    SMALL_BATCH selects the single-window path."""
    return _prefix(df, order_cols, rank_col, start=start, n_rows=n_rows)


def with_running_sum(
    df: DataFrame, order_cols: list[str], value_col: str, sum_col: str, n_rows: int | None = None
) -> DataFrame:
    """Add ``sum_col``: the INCLUSIVE running sum of ``value_col`` under
    ``order_cols`` (pack_documents, exact percentiles). NULL values count
    as 0, so the sum is never NULL on either path (plain ``SUM() OVER``
    is NULL until the first non-NULL value — review r4)."""
    return _prefix(df, order_cols, sum_col, value=value_col, n_rows=n_rows)


def with_host_seq(
    df: DataFrame, host_col: str, order_cols: list[str], seq_col: str, n_rows: int | None = None
) -> DataFrame:
    """Add ``seq_col``: the 1-based rank of each row WITHIN its host
    under ``order_cols`` — the politeness clock (a request's virtual
    offset inside a wave is (seq-1) × RequestDelay). The distributed
    path lets a mega-host span several ordered partitions, where
    ``row_number() OVER (PARTITION BY host)`` is one task."""
    return _prefix(df, order_cols, seq_col, group=host_col, start=1, n_rows=n_rows)
