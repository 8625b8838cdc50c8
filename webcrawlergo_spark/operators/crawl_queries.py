"""Crawl-semantics queries wired to the DuckDB oracle harness.

Two bridges between the frontier engine (plans/wave.py, pytest-
verified against a pure-Python golden oracle) and the driver's
SQL-oracle harness, which only sees the TPC-H-ish tables:

- ``link_extract_spans``: X1 — documents are lifted into the
  interleaved span representation (BASELINE.json input_hint:
  array<struct<kind,text,media_ref,offset>>), then links are
  extracted via posexplode preserving (offset, link_pos) document
  order, exactly the reference's ordered anchor walk
  (reference crawler.go:376-401). Oracle: flat SQL on the same
  derivation.

- ``crawl_bfs_depth``: the frontier wave loop (BFS-by-depth with a
  seen-set anti-join, reference queue/queue.go:99-141 FIFO+dedup)
  over a deterministic link graph derived from the documents table;
  oracle: WITH RECURSIVE min-depth reachability.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import local_df

MAX_DEPTH = 6
_EDGE_MULS = ((7, 1), (13, 2), (31, 3))  # dst = (src*a + b) % n_docs


def docs_as_spans(docs: DataFrame) -> DataFrame:
    """Lift flat documents into the interleaved-span shape
    (one text span at offset 0, one media span at offset 1)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
    )


def extract_links(spans_df: DataFrame, prefix: str = "s") -> DataFrame:
    """X1: posexplode(spans) → text spans only → ordered href tokens.

    Order is carried by computed columns (offset, link_pos) — the
    document-order invariant of the reference's anchor walk. Media
    spans yield no links (FIXTURES.md §1 convention).
    """
    flat = spans_df.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.offset").alias("offset"),
    )
    toks = flat.filter(F.col("kind") == "text").select(
        "doc_id", "offset", F.posexplode(F.split("text", " ")).alias("link_pos", "tok")
    )
    return (
        toks.filter(F.col("tok").startswith(prefix))
        .select(
            "doc_id",
            "offset",
            "link_pos",
            F.concat(F.lit("https://site.test/"), F.col("tok")).alias("href"),
        )
        .orderBy("doc_id", "offset", "link_pos")
    )


def link_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return extract_links(docs_as_spans(docs))


LINK_EXTRACT_SQL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS "offset", pos AS link_pos,
       'https://site.test/' || tok AS href
FROM (
    SELECT doc_id,
           unnest(range(0, len(s))) AS pos,
           unnest(s) AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) t) u
WHERE tok LIKE 's%'
ORDER BY doc_id, link_pos
"""


def edges_df(docs: DataFrame) -> DataFrame:
    """Deterministic link graph over doc ids: each doc links to
    (id*a + b) % n_docs for the three (a, b) multipliers."""
    n = docs.count()
    e = [
        docs.select(
            F.col("doc_id").cast("long").alias("src"),
            ((F.col("doc_id") * a + b) % n).cast("long").alias("dst"),
        )
        for a, b in _EDGE_MULS
    ]
    return reduce(lambda x, y: x.unionByName(y), e).distinct()


def bfs_frontier(edges: DataFrame, seed: int = 0, max_depth: int = MAX_DEPTH) -> DataFrame:
    """BFS-by-depth wave loop — the skeleton of the crawl engine:
    each wave = dedup-against-seen anti-join (J2) + distinct (U1),
    exactly the UniqueQueue first-encounter semantics
    (reference queue/queue.go:99-110) batched per depth.

    Scale notes: `seen` and `frontier` stay as DataFrames; each wave
    shuffles once on the join key. At 10^10 URLs the anti-join is the
    cuckoo-shard probe + exact confirm (operators/seenset.py); here the
    exact path is used because the oracle demands bit-exactness.
    """
    from pyspark.sql import Observation

    spark = edges.sparkSession
    # materialize the edge set ONCE: without this every wave's join
    # re-executes the upstream union+distinct (and its shuffle) —
    # 7x redundant work that showed up as the r2 driver-bench
    # regression (7.0s -> 11.2s). One eager checkpoint also gives the
    # per-wave anti-join a stats-known relation AQE can re-plan from.
    # r6: pre-partitioned on src (the per-wave join key) before the
    # checkpoint, so each wave's frontier⋈edges join sheds the
    # edge-side exchange (the pagerank_frame trick).
    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = edges.repartition(n_shuf, F.col("src")).localCheckpoint(eager=True)
    frontier = local_df(spark, [(seed, 0)], "node long, depth int")
    seen = frontier.select("node")
    out = [frontier]
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen, "node", "left_anti")
            .withColumn("depth", F.lit(depth))
        )
        # ONE job per wave: the eager localCheckpoint truncates the
        # growing lineage AND carries the row count as an observed
        # metric (no separate isEmpty() job)
        obs = Observation()
        nxt = nxt.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
        if int(obs.get["n"] or 0) == 0:
            break
        out.append(nxt)
        # seen is a union of already-checkpointed waves — shallow DAG,
        # nothing to truncate
        seen = seen.unionByName(nxt.select("node"))
        frontier = nxt
    return reduce(lambda a, b: a.unionByName(b), out)


def crawl_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bfs_frontier(edges_df(docs)).orderBy("node")


CRAWL_BFS_SQL = f"""
WITH RECURSIVE
n AS (SELECT COUNT(*) AS n_docs FROM documents),
edges AS (
  {" UNION ".join(
      f"SELECT CAST(doc_id AS BIGINT) AS src, CAST((doc_id * {a} + {b}) % (SELECT n_docs FROM n) AS BIGINT) AS dst FROM documents"
      for a, b in _EDGE_MULS)}),
bfs AS (
  SELECT CAST(0 AS BIGINT) AS node, 0 AS depth
  UNION
  SELECT e.dst AS node, bfs.depth + 1 AS depth
  FROM bfs JOIN edges e ON e.src = bfs.node
  WHERE bfs.depth < {MAX_DEPTH})
SELECT node, CAST(MIN(depth) AS INTEGER) AS depth FROM bfs GROUP BY node ORDER BY node
"""

# --------------------------------------------------------------------------
# Anchor-text aggregation — the per-target link-context index
# --------------------------------------------------------------------------


def anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target anchor aggregation: every extracted link carries its
    anchor context (the token preceding it in document order); the
    aggregate per target href is (in-reference count, distinct source
    docs, lexicographically-first anchor) — the index a crawler builds
    so a page is describable by what OTHER pages say about it (the
    classic anchor-text signal; the reference walks anchors in
    document order, crawler.go:376-401, but never aggregates them).

    Plan shape: the token stream keeps document order as computed
    columns (the X1 invariant); the anchor is a lag window partitioned
    by (doc_id, offset) — per-span sequences, bounded by document
    length, so the window never sees a mega-partition. One shuffle on
    the doc key for the lag, one map-side-combining groupBy on href.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    flat = docs_as_spans(docs).select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.offset").alias("offset"),
    )
    toks = flat.filter(F.col("kind") == "text").select(
        "doc_id", "offset", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id", "offset").orderBy("pos")
    with_anchor = toks.withColumn("anchor", F.lag("tok", 1, "").over(w))
    links = with_anchor.filter(F.col("tok").startswith("s")).select(
        F.concat(F.lit("https://site.test/"), F.col("tok")).alias("href"),
        "doc_id",
        "anchor",
    )
    return (
        links.groupBy("href")
        .agg(
            F.count("*").cast("bigint").alias("n_refs"),
            F.countDistinct("doc_id").cast("bigint").alias("n_src_docs"),
            F.min("anchor").alias("first_anchor"),
        )
        .orderBy("href")
    )


ANCHOR_TEXT_SQL = """
WITH toks AS (
  SELECT doc_id, pos, tok,
         COALESCE(LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos), '') AS anchor
  FROM (
    SELECT doc_id,
           unnest(range(0, len(s))) AS pos,
           unnest(s) AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents) t) u)
SELECT 'https://site.test/' || tok AS href,
       CAST(COUNT(*) AS BIGINT) AS n_refs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
       MIN(anchor) AS first_anchor
FROM toks WHERE tok LIKE 's%'
GROUP BY tok ORDER BY href
"""


# --------------------------------------------------------------------------
# Crawl snapshot delta — what changed between two crawl cutoffs
# --------------------------------------------------------------------------

DELTA_T0 = "2024-01-02 00:00:00"
DELTA_T1 = "2024-01-04 00:00:00"


def crawl_delta_frames(pages: DataFrame, t0: str = DELTA_T0, t1: str = DELTA_T1) -> DataFrame:
    """Snapshot diff of the append-only pages log between cutoffs t0
    and t1: per URL, is it NEW (first fetched in (t0, t1]), UPDATED
    (latest page row changed), or UNCHANGED — plus the number of
    fetches in the window. The incremental-re-crawl planner's input
    (reference init.go:39-75 classifies single URLs against an expiry
    cutoff at resume; this is the set-level operator).

    Plan shape: EXACTLY one hash exchange + one sort on url_id
    (plan-asserted, tests/test_graph_cms_chunk.py) — all three signals
    come out of the same sorted window pass over the t1-filtered log:
    the t1-latest row is rn=1, the t0-snapshot id is
    first(ignorenulls) of the ≤t0 rows in the same descending order,
    and the in-window fetch count is a full-frame conditional sum.
    Zero joins; never a second scan of the log."""
    t0lit = F.lit(t0).cast("timestamp")
    upper = pages.filter(F.col("added_at") <= F.lit(t1).cast("timestamp")).select(
        "url_id", "id", "added_at"
    )
    w = Window.partitionBy("url_id").orderBy(F.col("added_at").desc(), F.col("id").desc())
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    labeled = upper.select(
        "url_id",
        "id",
        F.row_number().over(w).alias("rn"),
        F.first(
            F.when(F.col("added_at") <= t0lit, F.col("id")), ignorenulls=True
        ).over(wfull).alias("latest_id_t0"),
        F.sum(F.when(F.col("added_at") > t0lit, F.lit(1)).otherwise(F.lit(0)))
        .over(wfull)
        .cast("bigint")
        .alias("n_new_fetches"),
    )
    return (
        labeled.filter(F.col("rn") == 1)
        .select(
            "url_id",
            F.when(F.col("latest_id_t0").isNull(), F.lit("new"))
            .when(F.col("id") != F.col("latest_id_t0"), F.lit("updated"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
            "n_new_fetches",
            F.col("id").alias("latest_id_t1"),
        )
        .orderBy("url_id")
    )


def crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawlergo_spark.sources import crawlviews as cv
    from webcrawlergo_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events")
    return crawl_delta_frames(cv.pages_view(ev))


def _crawl_delta_sql() -> str:
    from webcrawlergo_spark.sources import crawlviews as cv

    return f"""
WITH pages AS ({cv.PAGES_VIEW_SQL}),
upper_ AS (SELECT url_id, id, added_at FROM pages
           WHERE added_at <= TIMESTAMP '{DELTA_T1}'),
l1 AS (
  SELECT url_id, id AS latest_id_t1 FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY url_id ORDER BY added_at DESC, id DESC) AS rn
    FROM upper_) t WHERE rn = 1),
l0 AS (
  SELECT url_id, id AS latest_id_t0 FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY url_id ORDER BY added_at DESC, id DESC) AS rn
    FROM upper_ WHERE added_at <= TIMESTAMP '{DELTA_T0}') t WHERE rn = 1),
c AS (
  SELECT url_id,
         CAST(SUM(CASE WHEN added_at > TIMESTAMP '{DELTA_T0}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new_fetches
  FROM upper_ GROUP BY url_id)
SELECT l1.url_id,
       CASE WHEN l0.latest_id_t0 IS NULL THEN 'new'
            WHEN l1.latest_id_t1 <> l0.latest_id_t0 THEN 'updated'
            ELSE 'unchanged' END AS status,
       c.n_new_fetches, l1.latest_id_t1
FROM l1 LEFT JOIN l0 ON l1.url_id = l0.url_id
JOIN c ON l1.url_id = c.url_id
ORDER BY l1.url_id
"""


# --------------------------------------------------------------------------
# Re-crawl priority — per-URL change-rate estimation from fetch history
# --------------------------------------------------------------------------

# Bias-reduced Poisson change-rate estimator (Cho & Garcia-Molina
# 2003, "Estimating frequency of change"): with n re-fetch intervals
# of which x showed a changed content fingerprint,
#   r_hat      = -ln((n - x + 0.5) / (n + 0.5))   [changes per fetch]
#   lambda_day = r_hat * n / span_days            [changes per day]
# Shared verbatim by both engines: the ratio is halves-plus-integers
# (exact in binary), one libm ln, two multiplies and one divide in a
# fixed order, then the portable floor-round to 6dp. 5e-1/86400e6
# keep the literals DOUBLE in Spark SQL (the hll_distinct decimal
# trap).
_RECRAWL_EXPR = (
    "floor(-ln((n - x + 5e-1) / (n + 5e-1))"
    " * ((CAST(n AS DOUBLE) * 86400e6) / t_us) * 1e6 + 0.5) / 1e6"
)


def recrawl_priority_frames(pages: DataFrame) -> DataFrame:
    """Per-URL change-rate estimate from the append-only fetch log —
    the signal a monitored re-crawl scheduler (reference T7 re-crawl
    expiry, init.go resume classification) uses to order the frontier:
    fast-changing URLs re-fetch first, static ones decay to the back.

    A "change" is a content-fingerprint flip between consecutive
    fetches of the same URL (here the doc_id bucket the synthetic
    pages view carries; in production the page content hash — S8's
    page rows land with one, doc_fingerprint).

    Plan shape: the log shuffles ONCE on url_id; the lag window and
    the per-URL aggregate both run over that partitioning (the
    crawl_delta lesson — Catalyst reuses the exchange, plan-asserted);
    the estimator itself is codegen scalar math on the n/x/t_us
    aggregate, one row per URL. At 10^10 pages this is one
    map-side-combinable exchange of the log's (url_id, us, fp)
    projection and nothing else."""
    us = F.expr("unix_micros(CAST(added_at AS TIMESTAMP_LTZ))")
    fp = F.expr("CAST(substring(doc_id, 4) AS BIGINT) % 8")
    f = pages.select("url_id", "id", us.alias("us"), fp.alias("fp"))
    w = Window.partitionBy("url_id").orderBy("us", "id")
    l = f.select(
        "url_id",
        "us",
        "fp",
        F.lag("fp").over(w).alias("prev"),
    )
    g = l.groupBy("url_id").agg(
        (F.count("*") - 1).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("prev").isNotNull() & (F.col("fp") != F.col("prev")),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("x"),
        (F.max("us") - F.min("us")).cast("bigint").alias("t_us"),
    )
    return (
        g.filter((F.col("n") >= 1) & (F.col("t_us") > 0))
        .select("url_id", "n", "x", F.expr(_RECRAWL_EXPR).alias("lambda_day_6"))
        .orderBy("url_id")
    )


def recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from webcrawlergo_spark.sources import crawlviews as cv
    from webcrawlergo_spark.sources.tpch import load_table

    ev = load_table(spark, sf_dir, "events")
    return recrawl_priority_frames(cv.pages_view(ev))


def _recrawl_priority_sql() -> str:
    from webcrawlergo_spark.sources import crawlviews as cv

    return f"""
WITH pages AS ({cv.PAGES_VIEW_SQL}),
f AS (SELECT url_id, id, epoch_us(added_at) AS us,
             CAST(SUBSTR(doc_id, 4) AS BIGINT) % 8 AS fp
      FROM pages),
l AS (SELECT url_id, us, fp,
             LAG(fp) OVER (PARTITION BY url_id ORDER BY us, id) AS prev
      FROM f),
g AS (SELECT url_id,
             CAST(COUNT(*) - 1 AS BIGINT) AS n,
             CAST(SUM(CASE WHEN prev IS NOT NULL AND fp <> prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(MAX(us) - MIN(us) AS BIGINT) AS t_us
      FROM l GROUP BY url_id)
SELECT url_id, n, x, {_RECRAWL_EXPR} AS lambda_day_6
FROM g WHERE n >= 1 AND t_us > 0 ORDER BY url_id
"""


CRAWL_ORACLES = {
    "link_extract_spans": LINK_EXTRACT_SQL,
    "crawl_bfs_depth": CRAWL_BFS_SQL,
    "anchor_text_agg": ANCHOR_TEXT_SQL,
    "crawl_delta": _crawl_delta_sql(),
    "recrawl_priority": _recrawl_priority_sql(),
}
