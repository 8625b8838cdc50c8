"""Exact distributed order statistics — percentiles without a global
sort.

`approx_percentile` trades accuracy for one pass; a naive exact
spelling (`ORDER BY value` + pick rows, or `percent_rank` over the
corpus) collapses into a single-partition sort. This operator is
exact AND stays parallel:

1. `groupBy(value).count()` — one shuffle, map-side combine; the
   working set shrinks from rows to DISTINCT values;
2. global inclusive prefix sum of the counts in value order via the
   range-partition recipe (`plans/rank.py::with_running_sum`: one
   range exchange pinned by a checkpoint, a partition-local window
   sum, and per-partition offsets from a window over a
   #partitions-row table joined back by broadcast — never
   `SUM() OVER (ORDER BY ...)`'s single partition);
3. target ranks = ceil(p·N) from a 1-row total (broadcast); the
   answer for p is the unique STRADDLING value — the one whose
   exclusive..inclusive cumulative range contains the target
   (cum − cnt < target ≤ cum). The ≤|pcts|-row broadcast join
   therefore emits exactly one row per percentile (never the
   ~N·(1−p) rows a bare `cum >= target` + min-agg would shuffle).

This is the discrete (type-1 / inverted-CDF) quantile: the returned
value is always an element of the input. At 10^10 rows the plan
moves one counts-shuffle plus a #distinct-values prefix sum; the
percentile list never grows with data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from webcrawlergo_spark.plans.rank import with_running_sum
from webcrawlergo_spark.session import local_df

PCTS = (0.5, 0.95, 0.99)


def exact_percentiles_frame(
    df: DataFrame, col: str, pcts: tuple[float, ...] = PCTS
) -> DataFrame:
    """(pct, value, rank_at, n_rows) per requested percentile —
    value is the smallest input element whose cumulative count
    reaches ceil(pct · n)."""
    spark = df.sparkSession
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("v"))
        .agg(F.count("*").alias("cnt"))
    )
    # (r6 negative result, measured at sf1.0: checkpointing `counts`
    # so RangePartitioner's sampling pass wouldn't recompute it made
    # the query SLOWER — cold 5.7 → 10.3 s, warm 3.6 → 3.9 s; the
    # scan+groupBy subtree is cheaper than materializing the
    # millions-of-distinct-values frame. Left as the recompute.)
    cum = with_running_sum(counts, ["v"], "cnt", "cum")
    # total = the max inclusive running sum — read off the frame
    # with_running_sum just localCheckpoint'ed instead of re-scanning
    # the input and re-running the counts groupBy (r6, VERDICT item 4:
    # the tot branch was a second full scan+shuffle; integer max over
    # the checkpointed cum is bit-identical to sum(cnt))
    tot = cum.agg(F.max("cum").cast("bigint").alias("n"))
    targets = (
        local_df(spark, [(p,) for p in pcts], "pct double")
        .crossJoin(F.broadcast(tot))
        .select(
            "pct",
            F.ceil(F.col("pct") * F.col("n")).cast("bigint").alias("target"),
            "n",
        )
    )
    return (
        cum.join(
            F.broadcast(targets),
            (F.col("cum") - F.col("cnt") < F.col("target"))
            & (F.col("target") <= F.col("cum")),
        )
        .select("pct", F.col("v").alias("value"), F.col("target").alias("rank_at"), F.col("n").alias("n_rows"))
        .orderBy("pct")
    )


def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of lineitem extended price, exactly.

    (r6 negative result: spreading the 1-task lineitem scan on the
    groupBy key — so the exchange doubles as the groupBy distribution
    — measured cold 4.5 → 5.7 s, warm 3.3 → 3.5 s at sf1.0: the
    values are near-unique, so the spread trades the serialized
    1-task partial agg for a FULL raw-row shuffle with no map-side
    collapse. Left on the raw scan; the cost here is the multi-pass
    prefix-sum recipe, not the scan.

    Second r6 negative result: a direct order-statistics recipe —
    approxQuantile bucket bounds, per-bucket count collect turning the
    target ranks into plan literals, then one repartition+row_number
    pass picking the ranks straight off the raw rows — produced
    bit-identical results but measured SLOWER on an interleaved A/B
    (warm 3.9 vs 3.1 s, first-in-session 12.0 vs 7.2 s at sf1.0;
    cold 14.2 vs 5.1 s at sf0.1): its three raw-row actions
    (sketch, bucket counts, rank pass) cost more than the prefix-sum
    recipe's one extra scan+groupBy execution, and the raw-row
    repartition shuffles rows instead of (value, cnt) pairs.
    Reverted to this prefix-sum spelling.)"""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return exact_percentiles_frame(li, "l_extendedprice")


def _percentiles_sql(col: str = "l_extendedprice", pcts: tuple[float, ...] = PCTS) -> str:
    vals = ", ".join(f"({p}e0)" for p in pcts)
    return f"""
WITH c AS (SELECT {col} AS v, COUNT(*) AS cnt FROM lineitem
           WHERE {col} IS NOT NULL GROUP BY v),
cum AS (SELECT v, cnt, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum FROM c),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c),
t AS (SELECT pct, CAST(ceil(pct * n) AS BIGINT) AS target, n
      FROM (VALUES {vals}) p(pct), tot)
SELECT t.pct, cum.v AS value, t.target AS rank_at, t.n AS n_rows
FROM t JOIN cum ON cum.cum - cum.cnt < t.target AND t.target <= cum.cum
ORDER BY t.pct
"""


EXACT_PERCENTILES_SQL = _percentiles_sql()


QUERIES = {"exact_percentiles": exact_percentiles}
ORACLES = {"exact_percentiles": EXACT_PERCENTILES_SQL}
