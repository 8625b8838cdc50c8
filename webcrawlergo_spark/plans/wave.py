"""The frontier wave-loop engine — the Spark-native re-expression of
the reference's goroutine crawl loop (reference crawler.go:163-332).

Execution model: BFS-by-depth iterative micro-batches ("waves") over
DataFrames. One wave =

  dequeue batch (politeness-capped per host)
  → global event-rank assignment (plans/rank.py — the FIFO clock)
  → fetch-sim join against the web index
  → retry / dead-mark / skip status handling (T3, T4)
  → link extraction (X1, operators/linkextract.py)
  → canonicalize (X2 pandas UDF, functions/urlnorm.py)
  → validate (P7-P14 + robots X3, operators/validate.py)
  → first-encounter dedup (J2, operators/seenset.py: exact anti-join
    or bloom-shard prefilter + exact confirm)
  → state MERGE (urls flags, pages append, seen, invalid)
  → checkpoint commit + per-partition lineage (T5)

FIFO-order equivalence: the reference's single-worker queue processes
items in enqueue order; every item enqueued during wave w is
processed after all wave-w items (they were all enqueued earlier).
Hence sorting each wave by the enqueue key

    (parent_rank, span_offset, link_pos)

— where parent_rank is the enqueuing fetch-event's global rank,
retries use (own_event_rank, -1, 0) to model InsertForce-at-failure
(reference crawler.go:197-203), seed uses (-2, 0, 0) and resume rows
(-1, load_seq, 0) (reference cmd/webcrawlerGo/crawl.go:27-30 then
init.go:21-106) — reproduces the n=1 crawl order *exactly*, while
each wave executes fully parallel. Order is a computed column, never
an execution accident (SURVEY §3.1 contract).

Politeness: the reference sleeps RequestDelay per worker
(crawler.go:326) — a rate, not a reordering. The engine models it as
a virtual-time schedule (per-host fetch seq × delay, reported in
lineage) plus an optional hard per-host-per-wave cap
(``politeness_max_per_host_per_wave``) that defers overflow rows to
the next wave. The cap changes scheduling, never the seen-set; order
parity is guaranteed in the default (uncapped) mode.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from ..functions.urlnorm import host_expr, make_normalize_udf, normalize_expr
from ..operators.linkextract import extract_links
from ..operators.sampling import salted_topk_split
from ..operators.seenset import (
    DEFAULT_BITS_PER_KEY,
    _cuckoo_buckets_for,
    bloom_or_shards,
    bloom_probe_sharded,
    build_bloom_shards,
    build_cuckoo_shards,
    cuckoo_insert_shards,
    cuckoo_probe_sharded,
    dedup_new_urls,
)
from ..operators.validate import (
    marked_flag,
    parse_robots_rules,
    robots_allowed,
    robots_ok_expr,
    validity_flag,
)
from ..session import local_df
from .checkpoint import CheckpointStore
from .rank import SMALL_BATCH as RANK_SMALL_BATCH
from .rank import with_global_rank, with_host_seq

# In-flight content-minhash permutation family: ONE md5 per distinct
# token (its first 8 hex digits as a 32-bit base hash), then N
# universal hashes (a·h + b) mod P over that single integer — the
# classic minwise scheme (Broder 1997). Replaces N md5 evaluations
# per token (8 md5s + 32-char string mins measured as ~30% of total
# crawl wall at 200k pages; one md5 + integer mins reclaims most of
# it, and the partial-agg shuffle rows shrink 32-char strings →
# 8-byte longs). P is the classic prime > 2^32; a < 2^29 odd and
# h < 2^32 keep a·h + b < 2^61 — no BIGINT overflow.
MINHASH_P = 4294967311
# content-signature format version carried in the checkpoint manifest
# (ADVICE r5): bump whenever the page_stats signature columns change
# shape/type so a resume across the change fails loudly at load, not
# at a later multi-file schema merge. 2 = bigint universal-hash
# minhash (r5); 1/absent = the md5-hex-string era.
STATS_FORMAT = 2


def minhash_ab(n: int) -> tuple[tuple[int, int], ...]:
    """Deterministic (a_i, b_i) pairs, md5-derived so any runtime
    (Spark expr, pure-Python golden, tests) regenerates them."""
    import hashlib as _h

    return tuple(
        (
            int(_h.md5(f"a{i}".encode()).hexdigest()[:7], 16) * 2 + 1,
            int(_h.md5(f"b{i}".encode()).hexdigest()[:7], 16),
        )
        for i in range(n)
    )

FRONTIER_COLS = "url string, host string, depth int, parent_rank long, span_offset int, link_pos int, should_fetch boolean, retry_count int"
URLS_COLS = "url string, is_monitored boolean, is_alive boolean, last_saved double"
URL_COLS = "url string"
FLAGS_COLS = "url string, flag boolean"
EVENTS_COLS = (
    "event_rank long, wave_id int, url string, status string, "
    "fetch_seq long, virtual_ms long"
)
PAGES_COLS = "url string, doc_id string, event_rank long"
LINEAGE_COLS = (
    "wave_id int, partition_id int, dequeued long, fetched long, deduped long, "
    "enqueued long, virtual_ms long"
)
PAGE_STATS_COLS = (
    "url string, event_rank long, n_chars int, n_tokens int, marker_hits int, "
    "fingerprint string, n_media int"
)

def _bloom_overflow_metric():
    """Any shard holding more keys than its bits_per_key budget ⇒ FPR
    past design ⇒ rebuild with headroom. Ridden as an Observation
    metric on whatever action settles the shard table — never its own
    job. (A function, not a module constant: building a Column needs
    an active SparkContext.)"""
    return F.max(
        (F.col("n") * F.lit(DEFAULT_BITS_PER_KEY) > F.col("m_bits")).cast("long")
    ).alias("overflow")


@dataclass
class CrawlConfig:
    base_url: str
    marked_paths: list[str] = field(default_factory=list)
    ignore_patterns: list[str] = field(default_factory=list)
    retry_times: int = 2
    request_delay_ms: int = 50
    update_days: int = 1
    now_ts: float = 1_700_000_000.0
    # "exact" | "bloom" | "cuckoo". Bloom = the dense fast path (no
    # deletion; overflow only degrades FPR, never correctness).
    # Cuckoo = the DELETABLE tier as a full crawl mode: the same
    # executor-side shard-table design, but a registry delete between
    # runs can forget keys (S9/T4) without an O(seen) rebuild. A
    # cuckoo insert can FAIL at capacity (a potential false negative,
    # which bloom cannot have), so the wave loop observes max(n_fail)
    # on the probe's own action and, on any failure, falls back to the
    # full exact anti-join for that wave and rebuilds the shards with
    # fresh headroom — correctness never depends on cuckoo sizing.
    seen_mode: str = "exact"
    n_shards: int = 16
    # bloom-mode tuning. The probe pays a fixed cost (a shard-key
    # shuffle of the wave's candidates + an Arrow round-trip) to avoid
    # shuffling+sorting the crawl-lifetime seen set; below this seen
    # size the plain anti-join is cheaper, so bloom mode runs the
    # exact join and maintains NO shards at all — the driver tracks
    # only n_seen_est (an int) and the shard table is built ONCE, from
    # `seen`, the wave the estimate crosses the gate (one O(seen) job
    # amortized over the whole crawl; the r3 design paid per-wave lazy
    # OR-in + settle jobs below the gate for shards it never probed —
    # a measured 26% throughput tax, BENCH_r03). The default is the
    # measured single-host crossover (BENCH.md §bloom-crossover: at
    # 1M-row candidates the memory-local hash anti-join wins below
    # ~4M seen rows; the probe wins above). On a multi-node cluster
    # the anti-join pays a network shuffle+sort of the whole seen set,
    # so the crossover drops sharply — size this at roughly 4x the
    # expected wave candidate count there. Parity tests set 0 to
    # force the probe on tiny corpora.
    bloom_probe_min_seen: int = 4_000_000
    # probe tasks = n_shards * salt (each task still holds ONE blob)
    bloom_probe_salt: int = 2
    # capacity floor per shard for the bloom/cuckoo tier builds: a
    # crawl grows the seen set by orders of magnitude past the seed
    # list, so sizing off the current count alone forces O(seen)
    # rebuilds every couple of waves; 64k keys of headroom is ~free
    # (80 KB/shard bloom, 200 KB/shard cuckoo). Tests shrink it to
    # force the overflow/rebuild/fallback machinery on tiny corpora.
    tier_min_per_shard: int = 64_000
    # shard-count ceiling rule: every (re)build sizes the shard count
    # to max(n_shards, keys/tier_max_keys_per_shard) so one shard's
    # blob stays task-sized no matter how big the seen set grows —
    # at the 10^10-key design point a fixed n_shards=16 would mean
    # ~780 MB bloom blobs per task; with the 50M rule the build picks
    # 200 shards of ~60 MB. The count is pinned between builds (the
    # cogrouped probe/absorb must address the table that exists) and
    # round-trips the checkpoint manifest. Tests shrink it to force
    # mid-crawl shard-count growth.
    tier_max_keys_per_shard: int = 50_000_000
    # reference semantics: single-site crawl (P8). False = accept any
    # host — the multi-host frontier mode the 10^10-URL north rule
    # actually runs at (same-host is then just one more predicate).
    same_host_only: bool = True
    # "jvm" = whole-stage-codegen canonicalizer (default hot path);
    # "pandas" = the Arrow-batched UDF (X2 extension surface) —
    # bit-identical semantics, tested against each other.
    canonicalizer: str = "jvm"
    politeness_max_per_host_per_wave: int | None = None
    checkpoint_dir: str | None = None
    update_hrefs: bool = False
    max_waves: int = 10_000
    # crawl-time page analytics: per fetched page compute token/char
    # counts, marker-hit counts and an md5 content fingerprint over the
    # text spans (the engine's training-data ops applied in-flight) and
    # append them to a page_stats log. All JVM column expressions.
    analyze_pages: bool = False
    # P14 save guard (reference crawler.go:346-348): pages whose
    # rendered content is shorter than this are not saved. Content
    # length = total chars across span text/media_ref fields.
    min_content_chars: int = 0
    # crawl-time near-dup signatures: adds an N-seed content minhash
    # (distinct unigram tokens, explode + groupBy-min — map-side
    # combine) per fetched page to page_stats. The in-flight half of
    # the training-data dedup pipeline (operators/dedup.py is the
    # batch half; production ingest pipelines typically carry 32-128
    # permutations). Requires analyze_pages.
    content_minhash: bool = False
    content_minhash_seeds: int = 8
    # X3: the UA string grobotstxt group-selection matches against
    # (reference crawler.go:60,442).
    user_agent: str = "webcrawlerGo"
    # robots evaluation strategy: "expr" compiles the rules into a
    # whole-stage-codegen CASE chain (zero shuffle — right for one or
    # a few hosts); "join" evaluates relationally against a broadcast
    # rules table (right for a multi-host frontier with many rule
    # sets, where a driver-compiled expression would blow up codegen);
    # "auto" switches on rule-set size.
    robots_mode: str = "auto"
    robots_expr_max_rules: int = 64
    # exact per-request virtual-time politeness (T1 fidelity): when
    # on, every event carries fetch_seq (its 1-based position in its
    # host's wave queue) and virtual_ms (wave base + (seq-1) × delay),
    # reconstructing the reference's per-request schedule exactly —
    # for a single worker the reconstruction collapses to
    # event_rank × delay (asserted by parity test). Off by default:
    # it costs one distributed per-host rank per wave (plans/rank.py
    # with_host_seq) and the shard-level virtual_ms lineage already
    # satisfies the set/order contract.
    virtual_time_exact: bool = False

    def __post_init__(self):
        # reference internal/utils.go ContainsAny skips empty patterns;
        # an empty string would otherwise match every URL (ADVICE r1)
        self.marked_paths = [p for p in self.marked_paths if p]
        self.ignore_patterns = [p for p in self.ignore_patterns if p]


@dataclass
class CrawlResult:
    events: DataFrame      # (event_rank, wave_id, url, status) — every dequeue
    urls: DataFrame        # registry with flags
    pages: DataFrame       # saved content log (url, doc_id, event_rank)
    seen: DataFrame        # the queue-map key set
    invalid: DataFrame     # known-invalid cache
    lineage: DataFrame     # per-wave per-partition metrics
    waves: int = 0
    page_stats: DataFrame | None = None  # crawl-time analytics (analyze_pages)

    def crawl_order(self) -> list[str]:
        return [
            r["url"]
            for r in self.events.filter(F.col("status") == "ok").orderBy("event_rank").collect()
        ]

    def event_order(self) -> list[str]:
        return [r["url"] for r in self.events.orderBy("event_rank").collect()]


def _host(col):
    return F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#:]+)", 1)


class CrawlEngine:
    """One engine instance per crawl run (single-writer-per-wave —
    the snapshot-isolation stance that replaces the reference's
    optimistic row locking, reference models/url.go:36-40)."""

    def __init__(
        self,
        spark: SparkSession,
        web_index: DataFrame,   # (url, doc_id, status, fail_times) fetch-sim table
        docs: DataFrame,        # (doc_id, spans)
        robots_rows: list[tuple[str, str, int]],  # (host, robots_txt, status)
        config: CrawlConfig,
        fetcher=None,  # None → fetch-sim join; else operators/fetch.py seam
    ):
        self.spark = spark
        self.fetcher = fetcher
        self.cfg = config
        # Pre-partition the two STATIC fetch-sim tables on their join
        # keys once, at setup (r6, guide §2.4/§3.1): every wave joins
        # `web_index` by url and `docs` by doc_id, and an unpartitioned
        # side makes each of those a full shuffle+sort of the table
        # per wave (measured: the docs side alone re-shuffled ~2.6 GB
        # ×3 waves at the 2M-page bench). One hash exchange here sheds
        # the static-side exchange from every wave's sort-merge/hash
        # join; the wave side still shuffles O(wave) rows. Partition
        # count = shuffle.partitions so EnsureRequirements recognizes
        # the distribution. Real-fetch mode carries content inline and
        # never joins these; skip (web_index may still be probed by
        # nothing — docs/index are fetch-sim machinery only).
        if fetcher is None:
            n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
            web_index = web_index.repartition(n_shuf, F.col("url")).localCheckpoint(
                eager=True
            )
            docs = docs.repartition(n_shuf, F.col("doc_id")).localCheckpoint(eager=True)
        self.web_index = web_index
        self.docs = docs
        self.base_host = config.base_url.split("://", 1)[1].split("/", 1)[0].split(":")[0]
        self._rules_df = parse_robots_rules(spark, robots_rows, user_agent=config.user_agent)
        rules = self._rules_df.collect()
        use_expr = config.robots_mode == "expr" or (
            config.robots_mode == "auto" and len(rules) <= config.robots_expr_max_rules
        )
        if use_expr:
            self._robots_ok = robots_ok_expr([tuple(r) for r in rules])
        else:
            self._robots_ok = None  # relational path (robots_allowed join)
            self._rules_df = self._rules_df.localCheckpoint(eager=True)
        if config.canonicalizer == "pandas":
            udf = make_normalize_udf(config.base_url)
            self._normalize = lambda col: udf(col)
        else:
            self._normalize = lambda col: normalize_expr(config.base_url, col)

    # -- state init ---------------------------------------------------------

    def _empty(self, schema: str) -> DataFrame:
        return local_df(self.spark, [], schema)

    def _with_spans(self, df: DataFrame) -> DataFrame:
        """Attach page content: fetch-sim rows join the docs table by
        doc_id; real-fetch rows already carry ``spans`` off the wire."""
        if self.fetcher is not None:
            return df
        # SHUFFLE_HASH with the WAVE side as build (hint on the left):
        # sort-merge would re-SORT the (pre-partitioned, much larger)
        # docs side every wave; hashing the small wave-row side and
        # streaming docs costs no sort at all (guide §3.1).
        return df.hint("shuffle_hash").join(self.docs, "doc_id")

    # -- seen-filter tier dispatch (bloom | cuckoo) -------------------------
    # One wave-loop code path serves both approximate tiers; these
    # four hooks are the only mode-dependent pieces. All of them keep
    # the executor-side discipline: shard tables are DataFrames for
    # their whole life, the driver holds counts and sizing ints only.

    def _tier_build(self, urls: DataFrame, n_keys: int) -> DataFrame:
        """(Re)build the shard table from ~``n_keys`` keys. Each build
        re-picks the SHARD COUNT by the keys/shard ceiling rule
        (cfg.tier_max_keys_per_shard — keeps one shard's blob
        task-sized at any seen-set scale) and the per-shard capacity
        with 4× headroom; both are pinned until the next build (the
        cogrouped probe/absorb must address the table that exists) and
        round-trip the checkpoint manifest meta."""
        cfg = self.cfg
        cap = max(cfg.tier_max_keys_per_shard, 1)
        self._tier_shards = max(cfg.n_shards, (n_keys + cap - 1) // cap)
        self._tier_ps = max(cfg.tier_min_per_shard, n_keys * 4 // self._tier_shards)
        if cfg.seen_mode == "cuckoo":
            return build_cuckoo_shards(
                urls, n_shards=self._tier_shards, expected_per_shard=self._tier_ps
            )
        return build_bloom_shards(
            urls, n_shards=self._tier_shards, expected_per_shard=self._tier_ps
        )

    def _tier_absorb(self, tier_df: DataFrame, new_urls: DataFrame) -> DataFrame:
        """Fold a wave's new keys into the shard table (cogrouped,
        lazy — rides the next action that reads the table)."""
        if self.cfg.seen_mode == "cuckoo":
            return cuckoo_insert_shards(
                tier_df,
                new_urls,
                n_shards=self._tier_shards,
                default_n_buckets=_cuckoo_buckets_for(self._tier_ps),
            )
        return bloom_or_shards(
            tier_df,
            new_urls,
            n_shards=self._tier_shards,
            default_m_bits=self._tier_ps * DEFAULT_BITS_PER_KEY,
        )

    def _tier_probe(self, candidates: DataFrame, tier_df: DataFrame, url_col: str) -> DataFrame:
        fn = cuckoo_probe_sharded if self.cfg.seen_mode == "cuckoo" else bloom_probe_sharded
        return fn(
            candidates,
            tier_df,
            url_col=url_col,
            n_shards=self._tier_shards,
            probe_salt=self.cfg.bloom_probe_salt,
        )

    def _tier_overflow_metric(self):
        """Bloom: any shard past its bits/key budget (FPR degraded —
        costs confirm work, never correctness). Cuckoo: any FAILED
        insert (a potential false negative — the wave that observes it
        must not trust probe negatives) or any shard past its design
        load (preemptive, before inserts start failing)."""
        if self.cfg.seen_mode == "cuckoo":
            return F.max(
                (
                    (F.col("n_fail") > 0)
                    | (F.col("n") * 100 > F.col("n_buckets") * 4 * 84)
                ).cast("long")
            ).alias("overflow")
        return _bloom_overflow_metric()

    def _seed_frontier(
        self, resume_urls: DataFrame | None
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """Returns (frontier, urls, seen, fetch_flags) mirroring
        beginCrawl + loadUrlsToQueue. ``fetch_flags`` is the queue
        map's *value* side (reference queue/queue.go:15-17) — shared
        mutable state, kept as its own table because duplicate queue
        occurrences of one URL observe each other's updates."""
        cfg = self.cfg
        spark = self.spark
        base = cfg.base_url.rstrip("/")
        # seed (crawl.go:27-30): queue position 0, urls row, map entry
        seed_frontier = local_df(
            spark, [(base, self.base_host, 0, -2, 0, 0, False, 0)], FRONTIER_COLS
        )
        seed_urls = local_df(spark, [(base, False, True, None)], URLS_COLS)
        seed_seen = local_df(spark, [(base,)], URL_COLS)
        seed_flags = local_df(spark, [(base, False)], FLAGS_COLS)
        if resume_urls is None:
            return seed_frontier, seed_urls, seed_seen, seed_flags

        # resume-load classification (init.go:21-106) as pure column
        # expressions — the registry is O(total URLs) and NEVER touches
        # the driver (the r1 version collect()ed it; reference pages at
        # 100k, init.go:31-32 — here the whole load is one distributed
        # pass + one global-rank for the O3 seq ordering).
        ignore_hit = F.lit(False)
        for p in cfg.ignore_patterns:
            ignore_hit = ignore_hit | F.col("url").contains(p)
        marked = F.lit(False)
        for m in cfg.marked_paths:
            marked = marked | F.col("url").contains(m)
        host = _host(F.col("url"))
        mon, alive = F.col("is_monitored"), F.col("is_alive")
        eligible = alive & ~ignore_hit & (host == F.lit(self.base_host))
        expiry = F.coalesce(F.col("last_saved"), F.lit(0.0)) + F.lit(
            float(cfg.update_days * 86400)
        )
        fetch = eligible & (
            (mon & (F.lit(float(cfg.now_ts)) >= expiry)) | (~mon & marked)
        )
        classified = resume_urls.select(
            "id", "url", "is_monitored", "is_alive", "last_saved",
            host.alias("_host"),
            eligible.alias("_eligible"),
            fetch.alias("_fetch"),
            (fetch | (eligible & F.lit(bool(cfg.update_hrefs)))).alias("_enqueue"),
            (eligible & ~mon & marked).alias("_promote"),  # init.go:81-86
        ).localCheckpoint(eager=True)  # read 4× below — scan resume input once

        # registry: DB rows win over the seed insert (unique constraint
        # ignored, crawl.go:29-30); un-monitored marked rows promote
        resume_tbl = classified.select(
            "url",
            (F.col("is_monitored") | F.col("_promote")).alias("is_monitored"),
            "is_alive",
            "last_saved",
        )
        urls = resume_tbl.unionByName(seed_urls.join(resume_tbl, "url", "left_anti"))

        # map entries: dead rows + every eligible row; fetch rows carry
        # flag=true (InsertForce(false) then SetMapValue(true), init.go:93-94)
        in_map = classified.filter(~F.col("is_alive") | F.col("_eligible"))
        resume_flags = in_map.select("url", F.col("_fetch").alias("flag"))
        fetch_flags = resume_flags.unionByName(
            seed_flags.join(resume_flags, "url", "left_anti")
        )
        seen = in_map.select("url").unionByName(seed_seen).distinct()

        # O3 seq: rank of enqueued rows under ORDER BY is_monitored ASC,
        # id ASC — distributed (plans/rank.py), no single-partition sort
        enq = with_global_rank(
            classified.filter(F.col("_enqueue")), ["is_monitored", "id"], "_seq"
        )
        resume_frontier = enq.select(
            "url",
            F.col("_host").alias("host"),
            F.lit(0).alias("depth"),
            F.lit(-1).cast("long").alias("parent_rank"),
            F.col("_seq").cast("int").alias("span_offset"),
            F.lit(0).alias("link_pos"),
            F.col("_fetch").alias("should_fetch"),
            F.lit(0).alias("retry_count"),
        )
        return seed_frontier.unionByName(resume_frontier), urls, seen, fetch_flags

    # -- the wave loop ------------------------------------------------------

    def run(
        self,
        resume_urls: DataFrame | None = None,
        resume: bool = False,
        extra_frontier: DataFrame | None = None,
        debug_timing: bool = False,
    ) -> CrawlResult:
        """``extra_frontier``: bulk seed rows in FRONTIER_COLS shape
        (url, host, depth, parent_rank, span_offset, link_pos,
        should_fetch, retry_count) — the "seed list" path for
        multi-seed frontiers; rows order after the base seed via
        their (parent_rank, span_offset) keys."""
        # Crawl-time analytics (the page_stats branch) depend only on
        # the wave's already-checkpointed `sim` + the static docs
        # table — they are independent of the NEXT wave's work. A
        # 1-worker pool materializes each wave's stats delta in the
        # background so its jobs back-fill executor slots during the
        # next wave's driver-bound phases (guide §2.6 "overlap
        # independent jobs") instead of accumulating into one big
        # serial tail job after the loop (measured: ~15 s of a 82 s
        # 2M-page leg). One worker bounds contention; FIFO scheduling
        # lets wave jobs continue to grab freed slots. The pool is shut
        # down however the loop ends; a wave that raises drops the
        # stats jobs still queued.
        stats_pool = ThreadPoolExecutor(max_workers=1) if self.cfg.analyze_pages else None
        try:
            return self._run(stats_pool, resume_urls, resume, extra_frontier, debug_timing)
        finally:
            if stats_pool is not None:
                stats_pool.shutdown(cancel_futures=True)

    def _run(
        self,
        stats_pool: ThreadPoolExecutor | None,
        resume_urls: DataFrame | None,
        resume: bool,
        extra_frontier: DataFrame | None,
        debug_timing: bool,
    ) -> CrawlResult:
        cfg = self.cfg
        spark = self.spark
        store = CheckpointStore(cfg.checkpoint_dir) if cfg.checkpoint_dir else None

        # append-only logs accumulate as per-wave deltas — unioned
        # lazily, checkpointed as deltas (O(wave), not O(history))
        events_deltas: list[DataFrame] = []
        pages_deltas: list[DataFrame] = []
        lineage_deltas: list[DataFrame] = []
        page_stats_deltas: list = []  # DataFrames or in-flight Futures of them

        def settle_stats(wait: bool) -> None:
            # a failed stats job raises here: once per wave for the
            # deltas already finished (so the error surfaces at the
            # wave that caused it), for all of them after the loop
            page_stats_deltas[:] = [
                d.result() if isinstance(d, Future) and (wait or d.done()) else d
                for d in page_stats_deltas
            ]

        if resume and store and store.latest():
            m = store.latest()
            fmt = int((m.get("meta") or {}).get("stats_format", 1))
            if cfg.analyze_pages and cfg.content_minhash and fmt != STATS_FORMAT:
                raise RuntimeError(
                    f"checkpoint stats_format={fmt} predates this engine's "
                    f"content-minhash format {STATS_FORMAT} (bigint lattice "
                    "signatures, r5); discard the checkpoint or re-crawl — "
                    "resuming would mix signature column types (ADVICE r5)"
                )
            frontier = store.load(spark, "frontier")
            urls = store.load(spark, "urls")
            seen = store.load(spark, "seen")
            fetch_flags = store.load(spark, "fetch_flags")
            invalid = store.load(spark, "invalid")
            for deltas, name in ((events_deltas, "events"), (pages_deltas, "pages"), (lineage_deltas, "lineage")):
                prior = store.load(spark, name)
                if prior is not None:
                    deltas.append(prior)
            event_base = int(m["meta"]["event_base"])
            virtual_base_ms = int(m["meta"].get("virtual_base_ms", 0))
            wave_id = int(m["wave_id"]) + 1
        else:
            frontier, urls, seen, fetch_flags = self._seed_frontier(resume_urls)
            if extra_frontier is not None:
                frontier = frontier.unionByName(extra_frontier)
                seen = seen.unionByName(extra_frontier.select("url")).distinct()
                # seed rows enter the queue map with their should_fetch
                # flag (existing map entries win, like the seed insert) —
                # without this a bulk-seed row never triggers a save
                fetch_flags = fetch_flags.unionByName(
                    extra_frontier.select("url", F.col("should_fetch").alias("flag"))
                    .join(fetch_flags.select("url"), "url", "left_anti")
                )
                urls = urls.unionByName(
                    extra_frontier.select(
                        "url", F.col("should_fetch").alias("is_monitored"),
                        F.lit(True).alias("is_alive"), F.lit(None).cast("double").alias("last_saved"),
                    ).join(urls.select("url"), "url", "left_anti")
                )
            invalid = self._empty(URL_COLS)
            event_base = 0
            virtual_base_ms = 0
            wave_id = 0
        # fast-path guards — python-side facts that let a wave skip
        # whole plan sections (each skipped section = 1-2 jobs/wave):
        # fetch-flag machinery only matters if some flag can ever be
        # true; the invalid anti-join only once something is invalid
        flags_live = bool(cfg.marked_paths) or fetch_flags.filter(F.col("flag")).limit(1).count() > 0
        invalid_nonempty = invalid.limit(1).count() > 0
        truncate_every = 4  # lineage-truncation cadence for slow-growing state
        # frontier size for wave 0 — every later wave derives it from
        # observed counters (n_retries + n_deferred + n_enqueued), so
        # the per-wave frontier.count() job disappears
        n_frontier = frontier.count()

        # approximate seen-filter tier (bloom or cuckoo) lives across
        # waves: built once (or resumed from the checkpoint), then
        # incrementally absorbed per wave — the r1 version rebuilt from
        # the FULL seen set every wave, O(seen) instead of O(new). The
        # shard table is a DATAFRAME for its whole life (executor-side
        # blobs, cogrouped probe/absorb in operators/seenset.py); the
        # driver tracks only two ints — the shard sizing and a
        # seen-count estimate for the probe gate. The r2 design held a
        # driver dict and broadcast it whole to every executor:
        # ~12.5 GB per node at the 10^10-URL design point. Now nothing
        # driver-side grows with the seen set.
        tier_on = cfg.seen_mode in ("bloom", "cuckoo")
        is_cuckoo = cfg.seen_mode == "cuckoo"
        tier_df: DataFrame | None = None
        tier_chain = 0  # un-settled lazy absorb links
        n_seen_est = 0
        # sizing pins (shard count + per-shard capacity) — set by
        # _tier_build, resumed from the manifest meta with the blobs
        self._tier_shards = cfg.n_shards
        self._tier_ps = cfg.tier_min_per_shard
        if tier_on:
            n_seen_est = seen.count()
            loaded = (
                store.load(spark, cfg.seen_mode)
                if (resume and store and store.latest())
                else None
            )
            if loaded is not None:
                tier_df = loaded  # parquet-backed, already truncated
                meta = store.latest()["meta"]
                self._tier_shards = int(meta.get("tier_shards", cfg.n_shards))
                self._tier_ps = int(meta.get("tier_ps", cfg.tier_min_per_shard))
            elif n_seen_est >= cfg.bloom_probe_min_seen:
                tier_df = self._tier_build(seen, n_seen_est).localCheckpoint(eager=True)
            # else: DEFERRED. Below the probe gate the tier costs
            # NOTHING over exact (r3 paid per-wave OR-in + settle jobs
            # for shards the run never probed — a measured 26% tax);
            # the gate-crossing build inside the loop constructs the
            # shards once from `seen` when the estimate gets there.

        import time as _time

        def _tick(label, _last=[None]):
            if debug_timing:
                now = _time.time()
                if _last[0] is not None:
                    print(f"    {label}: {now - _last[0]:.2f}s", flush=True)
                _last[0] = now

        while wave_id < cfg.max_waves:
            _tick(None)
            settle_stats(wait=False)
            if n_frontier == 0:
                break
            # politeness cap (T1): per-host quota, overflow defers.
            # Two-phase salted top-K (operators/sampling.py::
            # salted_topk_split — shared with stratified sampling): a
            # mega-host (the bench corpus puts 25% of the frontier on
            # one) would serialize a plain Window.partitionBy(host)
            # into one straggler task; phase 1 ranks within
            # (host, salt) — n_salt-way parallel even for one host —
            # phase 2 ranks only the bounded survivors. Identical
            # selection, bounded partitions.
            if cfg.politeness_max_per_host_per_wave is not None:
                cap = cfg.politeness_max_per_host_per_wave
                order = [F.col("parent_rank"), F.col("span_offset"), F.col("link_pos")]
                top, over = salted_topk_split(
                    frontier, ["host"], order, cap, salt_on=F.col("url")
                )
                # ONE materialization of the split, tagged by `_in`: the
                # batch size, the sim checkpoint and the next frontier
                # (`deferred`) all read it, and each read of a lazy split
                # would re-run the salted windows. The batch size rides
                # the checkpoint as an Observation.
                obs_split = Observation()
                split = (
                    top.drop("rk").withColumn("_in", F.lit(True))
                    .unionByName(over.withColumn("_in", F.lit(False)))
                    .observe(obs_split, F.sum(F.col("_in").cast("long")).alias("n_in"))
                    .localCheckpoint(eager=True)
                )
                n_events = int(obs_split.get["n_in"] or 0)
                n_deferred = n_frontier - n_events
                batch = split.filter(F.col("_in")).drop("_in")
                deferred = split.filter(~F.col("_in")).drop("_in")
            else:
                batch, deferred = frontier, self._empty(FRONTIER_COLS)
                n_events = n_frontier
                n_deferred = 0

            # fetch step (S1). Two modes behind one column contract:
            # fetch-sim JOINS the web_index (1:1 left joins don't
            # disturb ordering), so the rank's materialization and the
            # sim checkpoint are one pass over one wide frame; the
            # REAL fetcher (operators/fetch.py) passes fetch columns
            # through inline from mapInPandas — same columns, plus the
            # content itself ("spans") riding the fetch event instead
            # of a doc_id join (what a crawler actually transports).
            def _with_flag_in(df):
                # shared by both fetch modes (depends only on "url")
                if flags_live:
                    return df.join(
                        fetch_flags.withColumnRenamed("flag", "_flag_in"), "url", "left"
                    )
                return df.withColumn("_flag_in", F.lit(False))

            if self.fetcher is not None:
                fr = _with_flag_in(self.fetcher(batch))
                sim = fr.select(
                    *[F.col(c) for c in batch.columns],
                    "doc_id",
                    "http_status",
                    # real transport outcomes replace the sim's derived
                    # retry_count < fail_times rule below
                    F.col("transport_fail").alias("_tfail"),
                    "spans",
                    F.coalesce(F.col("_flag_in"), F.lit(False)).alias("flag_in"),
                )
            else:
                web = self.web_index.select(
                    "url", F.col("doc_id").alias("_doc_id"),
                    F.col("status").alias("_status"), F.col("fail_times").alias("_ft"),
                )
                # SHUFFLE_HASH, build = the (pre-partitioned) index
                # side: sheds the per-wave sort of both sides; the
                # index's exchange is already shed by the one-time
                # repartition in __init__ (left-outer + build-right
                # is a supported shuffled-hash shape)
                sim = _with_flag_in(batch.join(web.hint("shuffle_hash"), "url", "left"))
                sim = sim.select(
                    *[F.col(c) for c in batch.columns],
                    F.col("_doc_id").alias("doc_id"),
                    F.coalesce(F.col("_status"), F.lit(404)).alias("http_status"),
                    F.coalesce(F.col("_ft"), F.lit(0)).alias("fail_times"),
                    F.coalesce(F.col("_flag_in"), F.lit(False)).alias("flag_in"),
                )
            # FIFO clock: global event ranks for this wave
            sim = with_global_rank(
                sim, ["parent_rank", "span_offset", "link_pos"], "event_rank",
                start=event_base, n_rows=n_events,
            )
            event_base += n_events
            if self.fetcher is not None:
                sim = sim.withColumnRenamed("_tfail", "transport_fail")
            else:
                sim = sim.withColumn(
                    "transport_fail", F.col("retry_count") < F.col("fail_times")
                )
            if flags_live:
                # the map value a dequeue observes: entering flag, unless
                # an earlier event of the same URL *this wave* consumed it
                # (a 200 fetch saves+resets, a transport failure
                # InsertForce-resets; 404/skip leave it untouched)
                w_url = Window.partitionBy("url").orderBy("event_rank").rowsBetween(
                    Window.unboundedPreceding, -1
                )
                consuming = (F.col("transport_fail") | (F.col("http_status") == 200)).cast("long")
                sim = sim.withColumn(
                    "flag_at",
                    F.col("flag_in") & (F.coalesce(F.sum(consuming).over(w_url), F.lit(0)) == 0),
                )
            else:
                sim = sim.withColumn("flag_at", F.lit(False))
            # piggyback the retry count on the checkpoint action — the
            # observed metric replaces a whole count() job next wave
            obs_sim = Observation()
            sim = sim.observe(
                obs_sim,
                F.sum(
                    (
                        F.col("transport_fail") & (F.col("retry_count") < F.lit(cfg.retry_times))
                    ).cast("long")
                ).alias("n_retries"),
            )
            # WIDTH RESTORE before the checkpoint (fetch-sim mode):
            # sim rows are tiny (url + ids — the spans only attach
            # downstream via the doc_id join), so AQE's size-based
            # coalescing collapses a 100k-row wave to 1-4 partitions
            # ... and every downstream map stage (the spans join, the
            # link-extract regex, canonicalize, validate — the crawl's
            # dominant cost) inherits that width. Measured: extract+
            # norm+judge wall tracked sim's partition count, not the
            # wave's row count (85k pages on 1 partition = 10.4 s; the
            # same wave at 32 = 3.3 s; whole crawl 41 s → 33 s).
            # Repartitioning the ~100 B rows is one trivial shuffle;
            # tiny end-of-crawl waves stay narrow via the row gate.
            # Real-fetch mode: its sim carries the fetched spans
            # INLINE (a width restore shuffles full page content) and
            # a multi-host frontier is already wide from the pre-fetch
            # repartition(host) — so no restore there. EXCEPT the
            # single-host crawl (the reference's default mode): there
            # repartition(host) is necessarily ONE task — correct for
            # the fetch itself (per-host politeness serializes the
            # wire anyway) but nothing says the extract must stay
            # serial; one bounded shuffle of the wave's fetched
            # content buys full-width regex/canonicalize work.
            # r6: only the SMALL_BATCH rank path needs the restore —
            # above it, with_global_rank's explicit repartitionByRange
            # (user-specified partition count, exempt from AQE
            # coalescing) already pinned the wave at full width, and
            # the extra round-robin exchange re-shuffled ~1M rows per
            # big wave for nothing.
            width = min(
                spark.sparkContext.defaultParallelism,
                max(1, n_events // 1000),
            )
            if (self.fetcher is None or cfg.same_host_only) and n_events <= RANK_SMALL_BATCH:
                sim = sim.repartition(width)
            sim = sim.localCheckpoint(eager=True)
            n_retries = int(obs_sim.get["n_retries"] or 0)
            if debug_timing:
                print(
                    f"    sim: {sim.rdd.getNumPartitions()} partitions,"
                    f" {n_events} rows",
                    flush=True,
                )
            _tick("rank+fetchsim")

            retries = (
                sim.filter(F.col("transport_fail") & (F.col("retry_count") < F.lit(cfg.retry_times)))
                .select(
                    "url", "host", "depth",
                    F.col("event_rank").alias("parent_rank"),
                    F.lit(-1).alias("span_offset"), F.lit(0).alias("link_pos"),
                    F.lit(False).alias("should_fetch"),  # InsertForce resets the map value (queue/queue.go:124)
                    (F.col("retry_count") + 1).alias("retry_count"),
                )
            )
            ok = sim.filter(~F.col("transport_fail") & (F.col("http_status") == 200))
            dead = sim.filter(~F.col("transport_fail") & (F.col("http_status") == 404)).select("url")

            status_col = (
                F.when(F.col("transport_fail"), "fail")
                .when(F.col("http_status") == 200, "ok")
                .when(F.col("http_status") == 404, "notfound")
                .otherwise("skip")
                .alias("status")
            )
            if cfg.virtual_time_exact:
                # per-request politeness clock: seq within (wave, host),
                # virtual offset (seq-1) × delay from the wave's virtual
                # base; the wave's virtual duration is its busiest
                # host's queue drained at one request per delay
                # one eager materialization carries the wave's max seq
                # as an Observation metric — the host-seq window runs
                # exactly once (a separate agg job would re-execute it)
                obs_vt = Observation()
                seqd = (
                    with_host_seq(
                        sim, "host", ["event_rank"], "fetch_seq", n_rows=n_events
                    )
                    .observe(obs_vt, F.max("fetch_seq").alias("mx"))
                    .localCheckpoint(eager=True)
                )
                wave_events = seqd.select(
                    "event_rank", F.lit(wave_id).alias("wave_id"), "url", status_col,
                    "fetch_seq",
                    (
                        F.lit(virtual_base_ms)
                        + (F.col("fetch_seq") - 1) * F.lit(cfg.request_delay_ms)
                    ).cast("long").alias("virtual_ms"),
                )
                virtual_base_ms += int(obs_vt.get["mx"] or 0) * cfg.request_delay_ms
            else:
                wave_events = sim.select(
                    "event_rank", F.lit(wave_id).alias("wave_id"), "url", status_col,
                    F.lit(None).cast("long").alias("fetch_seq"),
                    F.lit(None).cast("long").alias("virtual_ms"),
                )
            events_deltas.append(wave_events)

            # X1 + X2: extract → canonicalize → split empty/known-invalid.
            # The explode multiplies rows ~links-per-page ×, but AQE has
            # already coalesced upstream partitions to its advisory size
            # — redistribute so canonicalize/validate run at full width.
            raw_links = extract_links(
                self._with_spans(ok).select("url", "event_rank", "depth", "spans"),
                id_cols=["url", "event_rank", "depth"],
            ).withColumnRenamed("url", "parent_url")

            if cfg.analyze_pages:
                text = F.concat_ws(
                    " ",
                    F.transform(
                        F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]
                    ),
                )
                toks = F.split(text, " ")
                fetched_docs = self._with_spans(ok)
                stats = fetched_docs.select(
                    "url",
                    "event_rank",
                    F.length(text).alias("n_chars"),
                    F.size(toks).alias("n_tokens"),
                    F.size(F.filter(toks, lambda t: t.startswith("w1"))).alias("marker_hits"),
                    F.md5(text).alias("fingerprint"),
                    F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n_media"),
                )
                if cfg.content_minhash:
                    # in-flight near-dup signatures: 8-seed minhash over
                    # the distinct UNIGRAM token set (the batch pipeline
                    # in operators/dedup.py uses 3-gram shingles for
                    # precision; the in-flight tier trades n-gram
                    # context for a single-split plan). Shape matters:
                    # a SEPARATE narrow branch joined back on the page
                    # key, tokens exploded once, mins aggregated with
                    # map-side combine. Higher-order-function shingling
                    # here re-evaluated split(text) per element_at — the
                    # HOF path is interpreted with NO common-subexpr
                    # elimination (measured 10× wall blowup).
                    # ONE md5 per token, N integer permutations of it
                    # (module docstring at minhash_ab) — never N md5s
                    # r6: the exploded token rows carry ONLY the 8-byte
                    # event_rank (the wave's unique page key — a global
                    # row_number) instead of (url, event_rank): the
                    # ~40-byte url string multiplied by ~tokens-per-page
                    # dominated the aggregate's hash/partial-agg bytes;
                    # url re-attaches via the stats join below. Same
                    # groups (event_rank is unique), same mins.
                    mh = (
                        fetched_docs.select(
                            "event_rank",
                            F.explode_outer(F.array_distinct(F.split(text, " "))).alias("_g"),
                        )
                        .select(
                            "event_rank",
                            F.conv(F.substring(F.md5("_g"), 1, 8), 16, 10)
                            .cast("bigint")
                            .alias("_h"),
                        )
                        .groupBy("event_rank")
                        .agg(
                            *[
                                F.min(
                                    (F.lit(a) * F.col("_h") + F.lit(b))
                                    % F.lit(MINHASH_P)
                                ).alias(f"mh{i}")
                                for i, (a, b) in enumerate(
                                    minhash_ab(cfg.content_minhash_seeds)
                                )
                            ]
                        )
                    )
                    # SHUFFLE_HASH, build = the narrow mh side: the
                    # groupBy's own hash(event_rank) output feeds the
                    # join exchange-free, and neither side pays a sort
                    mh_cols = [f"mh{i}" for i in range(cfg.content_minhash_seeds)]
                    stats = stats.join(mh.hint("shuffle_hash"), "event_rank").select(
                        "url", "event_rank", "n_chars", "n_tokens",
                        "marker_hits", "fingerprint", "n_media", *mh_cols,
                    )
                page_stats_deltas.append(
                    stats_pool.submit(lambda df=stats: df.localCheckpoint(eager=True))
                )
            norm = raw_links.withColumn("_n", self._normalize(F.col("raw_href"))).select(
                "parent_url", "event_rank", "depth", "span_offset", "link_pos",
                F.col("_n.href").alias("href"), F.col("_n.scheme").alias("scheme"),
                F.col("_n.host").alias("host"), F.col("_n.path").alias("path"),
            ).filter(F.col("href").isNotNull())
            if invalid_nonempty:
                norm = norm.join(invalid.withColumnRenamed("url", "href"), "href", "left_anti")  # P13
            judged = validity_flag(
                norm,
                self.base_host if cfg.same_host_only else None,
                cfg.ignore_patterns,
            )
            if self._robots_ok is not None:
                judged = judged.withColumn("valid", F.col("pre_ok") & self._robots_ok)
            else:
                # multi-host frontier: rules as a broadcast table (X3
                # relational path — a driver-compiled CASE chain over
                # millions of hosts would blow up codegen)
                judged = robots_allowed(judged, self._rules_df).withColumn(
                    "valid", F.col("pre_ok") & F.col("robots_ok")
                )

            # single pass over the (huge) link set: normalize+validate run
            # exactly once, map-side partial agg collapses ~links-per-page×
            # duplication BEFORE anything materializes. `valid` is a pure
            # function of href, so grouping by (href, valid) == by href.
            obs_grouped = Observation()
            # the host string does NOT ride the exchange (guide §2.3 —
            # shuffle fewer bytes): host is a pure function of href
            # (urlnorm.host_expr ≡ the normalize struct's host field,
            # equality-tested), so it is re-derived AFTER the groupBy
            # from the deduplicated href set — ~links-per-page× fewer
            # evaluations than rows shuffled, and ~20 bytes less per
            # shuffled row
            grouped = judged.groupBy("href", "valid").agg(
                F.min(F.struct("event_rank", "span_offset", "link_pos", "depth")).alias("k")
            )
            # flatten the min-struct BEFORE anything Arrow-bound: a
            # struct column crosses applyInPandas as per-row Python
            # dicts (measured ~4x the whole probe's cost at 200k
            # candidates); flat native columns stay zero-copy
            grouped = grouped.select(
                "href",
                "valid",
                F.col("k.event_rank").alias("event_rank"),
                F.col("k.span_offset").alias("span_offset"),
                F.col("k.link_pos").alias("link_pos"),
                F.col("k.depth").alias("depth"),
                host_expr(F.col("href")).alias("host"),
            )
            # probe gate: below bloom_probe_min_seen the anti-join the
            # probe would avoid is cheaper than the probe's own
            # shard-shuffle + Arrow hop — run exact with NO shard
            # state at all. The wave the estimate crosses the gate
            # pays ONE O(seen) build (amortized over the whole crawl);
            # from then on maintenance is the per-wave O(new) OR-in.
            if tier_on and tier_df is None and n_seen_est >= cfg.bloom_probe_min_seen:
                tier_df = self._tier_build(seen, n_seen_est).localCheckpoint(eager=True)
            probe_on = tier_df is not None and n_seen_est >= cfg.bloom_probe_min_seen
            metrics = [F.sum((~F.col("valid")).cast("long")).alias("n_invalid_cand")]
            obs_tier_probe = None
            if probe_on:
                # probe INSIDE the checkpointed stage: the definite-new /
                # maybe-seen branches downstream then read the flag from
                # memory instead of re-running the cogroup per branch.
                # n_maybe rides the same action and picks the confirm
                # strategy (broadcast two-step vs sort-merge anti).
                if is_cuckoo:
                    # a cuckoo tier can hold FAILED inserts (= possible
                    # false negatives); observe the overflow flag on the
                    # blob side of this very probe so the SAME wave can
                    # refuse to trust the negatives (fallback below)
                    obs_tier_probe = Observation()
                    tier_df = tier_df.observe(obs_tier_probe, self._tier_overflow_metric())
                grouped = self._tier_probe(grouped, tier_df, url_col="href")
                metrics.append(
                    F.sum((F.col("valid") & F.col("maybe_seen")).cast("long")).alias("n_maybe")
                )
                # the maybe-set's total URL bytes ride the same action:
                # the confirm-broadcast gate is rows AND bytes (long
                # URLs make a row cap unbounded in bytes, ADVICE r3)
                metrics.append(
                    F.sum(
                        F.when(
                            F.col("valid") & F.col("maybe_seen"),
                            # octet_length, not length: chars undercount
                            # multi-byte UTF-8 URLs by up to 4x — the
                            # exact hazard the byte gate exists for
                            F.octet_length("href"),
                        ).cast("long")
                    ).alias("maybe_bytes")
                )
            grouped = grouped.observe(obs_grouped, *metrics).localCheckpoint(eager=True)
            # observed during the checkpoint pass — replaces the r1
            # filter(~valid).limit(1).count() probe job
            n_invalid_cand = int(obs_grouped.get["n_invalid_cand"] or 0)
            n_maybe = int(obs_grouped.get.get("n_maybe") or 0) if probe_on else 0
            maybe_bytes = int(obs_grouped.get.get("maybe_bytes") or 0) if probe_on else 0
            # cuckoo-only soundness gate: if any shard ever FAILED an
            # insert, a probe negative may be false — this wave must
            # not trust the probe (exact dedup below) and the shards
            # are rebuilt with fresh headroom after the wave's new
            # URLs are known. Observed on the probe's own action.
            tier_overflowed = bool(
                obs_tier_probe is not None and int(obs_tier_probe.get["overflow"] or 0)
            )
            _tick("extract+norm+judge")

            if n_invalid_cand:
                new_invalid = (
                    grouped.filter(~F.col("valid")).select(F.col("href").alias("url"))
                    .join(invalid, "url", "left_anti")
                )
                invalid = invalid.unionByName(new_invalid)
                if store is None:  # with a store, commit+read-back truncates
                    invalid = invalid.localCheckpoint(eager=True)
                invalid_nonempty = True

            # first-encounter dedup (J2): min enqueue key within the wave,
            # then anti-join the seen set (exact or probe+confirm)
            trust_probe = probe_on and not tier_overflowed
            flag_cols = [F.col("maybe_seen")] if trust_probe else []
            firsts = grouped.filter(F.col("valid")).select(
                F.col("href").alias("url"),
                "host",
                (F.col("depth") + 1).alias("depth"),
                F.col("event_rank").alias("parent_rank"),
                "span_offset",
                "link_pos",
                *flag_cols,
            )
            if trust_probe:
                new_urls = dedup_new_urls(
                    firsts, seen, maybe_col="maybe_seen", n_maybe=n_maybe,
                    maybe_bytes=maybe_bytes,
                )
            else:
                new_urls = dedup_new_urls(firsts, seen)
            obs_new = Observation()
            new_urls = (
                marked_flag(new_urls, cfg.marked_paths, url_col="url")
                .observe(obs_new, F.count(F.lit(1)).alias("n_new"))
                .localCheckpoint(eager=True)
            )
            n_new = int(obs_new.get["n_new"] or 0)
            if tier_overflowed:
                # cuckoo past capacity: ONE O(seen) rebuild with fresh
                # headroom (post-wave seen set — the fallback above
                # already deduped this wave exactly, so the rebuild
                # closes the failed-insert window completely)
                tier_df = self._tier_build(
                    seen.unionByName(new_urls.select("url")), n_seen_est + n_new
                ).localCheckpoint(eager=True)
                tier_chain = 0
            elif tier_df is not None and n_new:
                # O(new keys + blob bytes), all executor-side: hash
                # JVM-side, cogroup the wave's keys with the shard table,
                # each task folds into ONE shard's blob
                # (operators/seenset.py). The absorb is LAZY — it rides
                # the next action that touches the shard table (the next
                # wave's probe, the store commit, or the periodic settle
                # below) instead of paying its own per-wave job. The
                # chain stays shallow: new_urls is already checkpointed,
                # each link is a cogroup over n_shards rows.
                tier_df = self._tier_absorb(tier_df, new_urls.select("url"))
                tier_chain += 1
            if tier_df is not None and tier_chain >= truncate_every and store is None:
                # settle the chain: one small job (blob rows only)
                # truncates lineage and carries the overflow check as an
                # observed metric — nothing but one int reaches the
                # driver. Overflow cadence here is every truncate_every
                # waves: in between, degraded bloom FPR only costs extra
                # confirm work, never correctness (positives are always
                # exact-confirmed; cuckoo false NEGATIVES are caught by
                # the per-probe observation above, not this cadence).
                obs_settle = Observation()
                tier_df = (
                    tier_df.observe(obs_settle, self._tier_overflow_metric())
                    .localCheckpoint(eager=True)
                )
                tier_chain = 0
                if int(obs_settle.get["overflow"] or 0):
                    # past sizing: one O(seen) rebuild with fresh
                    # headroom. `seen` does NOT yet include this wave at
                    # this point (the state merge happens later in the
                    # loop) — the unionByName below is required
                    tier_df = self._tier_build(
                        seen.unionByName(new_urls.select("url")), n_seen_est + n_new
                    ).localCheckpoint(eager=True)
            n_seen_est += n_new
            _tick("dedup+newurls")

            enqueued = new_urls.select(
                "url", "host", "depth", "parent_rank", "span_offset", "link_pos",
                F.col("marked").alias("should_fetch"), F.lit(0).alias("retry_count"),
            )

            # exactly-once content save (T6): marked OR live map value
            # (reference crawler.go:300-311), P14 min-content guard
            # (crawler.go:346-348: len(html) < 100 ⇒ no save)
            saved = marked_flag(ok, cfg.marked_paths, url_col="url").filter(
                F.col("marked") | F.col("flag_at")
            )
            if cfg.min_content_chars > 0:
                clen = F.aggregate(
                    "spans",
                    F.lit(0),
                    lambda acc, s: acc
                    + F.length(F.coalesce(s["text"], F.lit("")))
                    + F.length(F.coalesce(s["media_ref"], F.lit(""))),
                )
                saved = (
                    self._with_spans(saved)
                    .filter(clen >= cfg.min_content_chars)
                    .drop("spans")
                )
            # ALWAYS one delta per wave (possibly empty) — the commit
            # below references this wave's delta; conditional appends
            # crashed wave 0 when marked_paths=[] (r1 verdict bug #1)
            wave_pages = saved.select("url", "doc_id", "event_rank")
            pages_deltas.append(wave_pages)

            # state MERGE: urls registry (S6/S7 without row CAS).
            # A content save sets last_saved = now (reference
            # savePageContent, crawler.go:353-355) — without it the
            # engine's own output registry can't drive T7 re-crawl
            # expiry on a later run. The wave's dead-marks and saves
            # fold into ONE per-url outcome frame, so the O(history)
            # registry goes through one join (one shuffle) per wave.
            # (With no marked paths and no live flags nothing is saved:
            # the pages branch is a constant-false filter the optimizer
            # prunes.)
            outcome = (
                dead.select("url", F.lit(True).alias("_dead"), F.lit(False).alias("_saved"))
                .unionByName(
                    wave_pages.select("url", F.lit(False).alias("_dead"), F.lit(True).alias("_saved"))
                )
                .groupBy("url")
                .agg(F.max("_dead").alias("_dead"), F.max("_saved").alias("_saved"))
            )
            urls = (
                urls.join(outcome, "url", "left")
                .withColumn("is_alive", F.when(F.col("_dead"), F.lit(False)).otherwise(F.col("is_alive")))
                .withColumn(
                    "last_saved",
                    F.when(F.col("_saved"), F.lit(float(cfg.now_ts))).otherwise(F.col("last_saved")),
                )
                .drop("_dead", "_saved")
            ).unionByName(
                new_urls.select(
                    "url", F.col("marked").alias("is_monitored"),
                    F.lit(True).alias("is_alive"), F.lit(None).cast("double").alias("last_saved"),
                )
            )
            # enqueued is already wave-distinct AND anti-joined vs seen,
            # so a plain union keeps `seen` duplicate-free — no distinct
            seen = seen.unionByName(enqueued.select("url"))

            # map-value updates for the next wave: any consuming event
            # (save/fail) resets to false; fresh discoveries enter with
            # their marked flag (SetMapValue(true) at crawler.go:276-278,
            # Insert default false at queue/queue.go:104)
            if flags_live:
                consumed = (
                    sim.filter(F.col("transport_fail") | (F.col("http_status") == 200))
                    .select("url").distinct().withColumn("_new_flag", F.lit(False))
                )
                fetch_flags = (
                    fetch_flags.join(consumed, "url", "left")
                    .select(
                        "url",
                        F.when(F.col("_new_flag").isNotNull(), F.lit(False)).otherwise(F.col("flag")).alias("flag"),
                    )
                    .unionByName(new_urls.select("url", F.col("marked").alias("flag")))
                )
                if store is None:
                    # without a store the per-wave join/union lineage must
                    # be cut here; with one, the commit write + read-back
                    # below does it for free
                    fetch_flags = fetch_flags.localCheckpoint(eager=True)

            # lineage (A3): per host-shard metrics for this wave. The
            # politeness model (T1): within a wave each host is fetched
            # sequentially with request_delay_ms spacing (the reference's
            # per-worker sleep, crawler.go:326), hosts in parallel — so a
            # shard's virtual wall-clock is its busiest host's queue
            # length × delay. One two-level aggregate over a tagged
            # union of the wave's events (dq, f), candidates (cand) and
            # new URLs (enq): one shuffle, no joins. Candidate and
            # new-URL rows carry a NULL host — they only add to their
            # shard's counts, and their dq of 0 never moves the max.
            shard = F.pmod(F.xxhash64("host"), F.lit(cfg.n_shards)).cast("int")
            one, zero, no_host = F.lit(1), F.lit(0), F.lit(None).cast("string")
            tagged = (
                sim.select(
                    shard.alias("partition_id"), "host", one.alias("dq"),
                    (~F.col("transport_fail") & (F.col("http_status") == 200)).cast("int").alias("f"),
                    zero.alias("cand"), zero.alias("enq"),
                )
                .unionByName(firsts.select(
                    shard.alias("partition_id"), no_host.alias("host"), zero.alias("dq"),
                    zero.alias("f"), one.alias("cand"), zero.alias("enq"),
                ))
                .unionByName(enqueued.select(
                    shard.alias("partition_id"), no_host.alias("host"), zero.alias("dq"),
                    zero.alias("f"), zero.alias("cand"), one.alias("enq"),
                ))
            )
            lin = (
                tagged.groupBy("partition_id", "host")
                .agg(*[F.sum(c).alias(c) for c in ("dq", "f", "cand", "enq")])
                .groupBy("partition_id")
                .agg(
                    F.sum("dq").alias("dequeued"),
                    F.sum("f").alias("fetched"),
                    (F.sum("cand") - F.sum("enq")).alias("deduped"),
                    F.sum("enq").alias("enqueued"),
                    (F.max("dq") * F.lit(cfg.request_delay_ms)).cast("long").alias("virtual_ms"),
                )
                .select(
                    F.lit(wave_id).alias("wave_id"), "partition_id", "dequeued", "fetched",
                    "deduped", "enqueued", "virtual_ms",
                )
            )
            lineage_deltas.append(lin)

            _tick("state-merge+lineage")
            frontier = retries.unionByName(deferred).unionByName(enqueued)
            # next wave's size from observed counters — no count() job
            n_frontier = n_retries + n_deferred + n_new

            # periodic lineage truncation for the slowly-growing state
            # (they gain one cheap union/join per wave; truncating every
            # wave costs more jobs than it saves)
            if store is None and wave_id % truncate_every == truncate_every - 1:
                seen = seen.localCheckpoint(eager=True)
                urls = urls.localCheckpoint(eager=True)

            if store:
                snap = {
                    "frontier": frontier, "urls": urls, "seen": seen,
                    "fetch_flags": fetch_flags, "invalid": invalid,
                }
                obs_commit_tier = None
                if tier_df is not None:
                    # shard blobs round-trip the store under the mode
                    # name ("bloom"/"cuckoo"): resume reuses them
                    # instead of an O(seen) rebuild. Already a
                    # DataFrame — the commit write executes any pending
                    # lazy absorb links, fires the overflow metric, and
                    # the read-back below truncates the chain. The
                    # driver never touches a blob.
                    obs_commit_tier = Observation()
                    tier_df = tier_df.observe(obs_commit_tier, self._tier_overflow_metric())
                    snap[cfg.seen_mode] = tier_df
                entry = store.commit(
                    wave_id,
                    snap,
                    # THIS wave's deltas, never deltas[-1]: on resume the
                    # loaded cumulative logs sit at deltas[0] and must not
                    # be re-committed as a new delta
                    appends={
                        "events": wave_events,
                        "pages": wave_pages,
                        "lineage": lin,
                    },
                    meta={
                        "event_base": event_base,
                        "virtual_base_ms": virtual_base_ms,
                        # tier sizing pins ride the manifest so resume
                        # addresses the shard table that exists
                        "tier_shards": self._tier_shards,
                        "tier_ps": self._tier_ps,
                        # content-signature format version (ADVICE r5):
                        # 2 = bigint universal-hash minhash columns
                        # (r5 rewrite); absent/1 = the md5-hex-string
                        # era. Resume refuses a cross-format checkpoint
                        # loudly instead of failing later on schema
                        # merge of mixed mh column types.
                        "stats_format": STATS_FORMAT,
                    },
                )
                # the commit write already materialized every state
                # table — re-reading the committed parquet truncates
                # lineage (replaces the per-wave eager localCheckpoints
                # of r1). Passing the written schema keeps the read-back
                # free of jobs: without it Spark runs a schema-inference
                # job per parquet read (six per wave).
                def reread(name):
                    return spark.read.schema(snap[name].schema).parquet(entry["tables"][name])

                seen = reread("seen")
                urls = reread("urls")
                invalid = reread("invalid")
                frontier = reread("frontier")
                if flags_live:
                    fetch_flags = reread("fetch_flags")
                if obs_commit_tier is not None:
                    tier_df = reread(cfg.seen_mode)
                    tier_chain = 0
                    if int(obs_commit_tier.get["overflow"] or 0):
                        # the rebuild is PERSISTED via an atomic manifest
                        # amend (ADVICE r3: an in-memory-only rebuild
                        # evaporated on kill, so resume repeated the
                        # O(seen) work from degraded-FPR blobs); the
                        # read-back also truncates the build's lineage
                        # _tier_build (first arg) updates the sizing
                        # pins BEFORE the meta dict is built — the
                        # amended manifest must describe the rebuilt
                        # table, not the one it replaces
                        rebuilt = self._tier_build(seen, n_seen_est)
                        entry = store.amend(
                            cfg.seen_mode,
                            rebuilt,
                            f"rebuild={wave_id}",
                            meta={
                                "tier_shards": self._tier_shards,
                                "tier_ps": self._tier_ps,
                            },
                        )
                        tier_df = spark.read.parquet(entry["tables"][cfg.seen_mode])
            _tick("truncate+commit")
            if debug_timing:
                print(f"  wave {wave_id}: {n_events} events", flush=True)
            wave_id += 1

        # the last wave's delta may still be running — its job
        # overlapped the loop's tail phases
        settle_stats(wait=True)

        def _acc(deltas: list[DataFrame], schema: str) -> DataFrame:
            if not deltas:
                return self._empty(schema)
            out = deltas[0]
            for d in deltas[1:]:
                out = out.unionByName(d)
            return out

        return CrawlResult(
            events=_acc(events_deltas, EVENTS_COLS),
            urls=urls,
            pages=_acc(pages_deltas, PAGES_COLS),
            seen=seen,
            invalid=invalid,
            lineage=_acc(lineage_deltas, LINEAGE_COLS),
            waves=wave_id,
            page_stats=_acc(page_stats_deltas, PAGE_STATS_COLS),
        )
