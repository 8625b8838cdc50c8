"""The frontier wave-loop engine — the Spark-native re-expression of
the reference's goroutine crawl loop (reference crawler.go:163-332).

Execution model: BFS-by-depth iterative micro-batches ("waves") over
DataFrames. One wave is a sequence of phases over a ``WaveState``:

  politeness cap     dequeue batch (per-host quota, overflow defers)
  fetch + event rank global event-rank assignment (plans/rank.py — the
                     FIFO clock) → fetch-sim join against the web index
                     → retry / dead-mark / skip status handling (T3, T4)
  extract            link extraction (X1, operators/linkextract.py)
                     → canonicalize (X2, functions/urlnorm.py)
                     → validate (P7-P14 + robots X3, operators/validate.py)
                     (page stats, when on, branch off the fetched pages)
  seen-set dedup     first-encounter dedup (J2, operators/seenset.py:
                     exact anti-join, or the ``SeenTier`` cuckoo-shard
                     prefilter + exact confirm)
  state merge        pages append, seen, pending saves, next
                     frontier, lineage
  commit             checkpoint commit (T5)

A wave hands the next one only what it reads: the frontier, the seen
set and ``pending`` (the queue map's true values a save has not yet
consumed) are snapshots; everything else is an append log with one
delta per wave. The known-invalid hrefs are such a log: validity is a
pure function of the href, so no wave needs the earlier waves' verdicts.

The urls registry (S6/S7) is not wave state: its only changes are an
insert-ignore, a 404 dead-mark and a save stamp, and the seen set, the
events log and the pages log record all three, so ``CrawlResult.urls``
is a view over them and the registry the crawl started from.

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
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F

from ..functions.urlnorm import host_expr, normalize_expr
from ..operators.linkextract import extract_links
from ..operators.sampling import salted_topk_split
from ..operators.seenset import (
    CUCKOO_SHARDS_SCHEMA,
    _cuckoo_buckets_for,
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
# permutations in the in-flight content minhash (page_stats mh0..mh7);
# production ingest pipelines typically carry 32-128
CONTENT_MINHASH_SEEDS = 8
# content-signature format version carried in the checkpoint manifest
# (ADVICE r5): bump whenever the page_stats signature columns change
# shape/type so a resume across the change fails loudly at load, not
# at a later multi-file schema merge. 2 = bigint universal-hash
# minhash (r5); 1/absent = the md5-hex-string era.
STATS_FORMAT = 2
# robots rule sets up to this size compile into a whole-stage-codegen
# CASE chain (zero shuffle — right for one or a few hosts); bigger ones
# are evaluated relationally against the rules table (a multi-host
# frontier, where a driver-compiled expression would blow up codegen)
ROBOTS_EXPR_MAX_RULES = 64
# seen-tier probe tasks = n_shards * PROBE_SALT (each task still holds
# ONE shard's table)
PROBE_SALT = 2
# lineage-truncation cadence (waves) for the slowly growing state and
# the seen tier's lazy absorb chain when no checkpoint store truncates
# them: they gain one cheap union/join per wave, and truncating every
# wave costs more jobs than it saves
TRUNCATE_EVERY = 4
# checkpoint table name of the seen tier's shard table
TIER_TABLE = "cuckoo"
SEEN_MODES = ("exact", "cuckoo")


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


@dataclass
class CrawlConfig:
    base_url: str
    marked_paths: list[str] = field(default_factory=list)
    ignore_patterns: list[str] = field(default_factory=list)
    retry_times: int = 2
    request_delay_ms: int = 50
    update_days: int = 1
    # the crawl's clock: T7 expiry on the resume load, and the
    # last_saved stamp of every save in the result registry. A
    # checkpoint resume stamps the pre-kill saves too with the
    # resuming engine's value.
    now_ts: float = 1_700_000_000.0
    # "exact" | "cuckoo". Cuckoo = the executor-side shard-table tier
    # (SeenTier): a probe splits the wave's candidates into
    # definitely-new and maybe-seen, and only the maybe-seen fraction
    # pays the exact anti-join; a registry delete between runs can
    # forget keys (S9/T4) without an O(seen) rebuild. A cuckoo insert
    # can FAIL at capacity (a potential false negative), so the wave
    # loop observes max(n_fail) on the probe's own action and, on any
    # failure, falls back to the full exact anti-join for that wave
    # and rebuilds the shards with fresh headroom — correctness never
    # depends on cuckoo sizing.
    seen_mode: str = "exact"
    n_shards: int = 16
    # Gates the cuckoo probe (the field keeps the bloom_ prefix of the
    # tier it was first written for). The probe pays a fixed cost (a
    # shard-key shuffle of the wave's candidates + an Arrow round-trip)
    # to avoid shuffling+sorting the crawl-lifetime seen set; below
    # this seen size the plain anti-join is cheaper, so the tier runs
    # the exact join and maintains NO shards at all — the driver tracks
    # only n_seen_est (an int) and the shard table is built ONCE, from
    # `seen`, the wave the estimate crosses the gate (one O(seen) job
    # amortized over the whole crawl). The default is the measured
    # single-host crossover (BENCH.md, tools/bloom_crossover.py: at
    # 1M-row candidates the memory-local hash anti-join wins below
    # ~4M seen rows; the probe wins above). On a multi-node cluster
    # the anti-join pays a network shuffle+sort of the whole seen set,
    # so the crossover drops sharply — size this at roughly 4x the
    # expected wave candidate count there. Parity tests set 0 to
    # force the probe on tiny corpora.
    bloom_probe_min_seen: int = 4_000_000
    # capacity floor per shard for the cuckoo tier builds: a crawl
    # grows the seen set by orders of magnitude past the seed list, so
    # sizing off the current count alone forces O(seen) rebuilds every
    # couple of waves; 64k keys of headroom is ~free (200 KB/shard).
    # Tests shrink it to force the overflow/rebuild/fallback machinery
    # on tiny corpora.
    tier_min_per_shard: int = 64_000
    # shard-count ceiling rule: every (re)build sizes the shard count
    # to max(n_shards, keys/tier_max_keys_per_shard) so one shard's
    # blob stays task-sized no matter how big the seen set grows. The
    # count is pinned between builds (the cogrouped probe/absorb must
    # address the table that exists) and round-trips the checkpoint
    # manifest. Tests shrink it to force mid-crawl shard-count growth.
    tier_max_keys_per_shard: int = 50_000_000
    # reference semantics: single-site crawl (P8). False = accept any
    # host — the multi-host frontier mode the 10^10-URL north rule
    # actually runs at (same-host is then just one more predicate).
    same_host_only: bool = True
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
    # crawl-time near-dup signatures: adds a CONTENT_MINHASH_SEEDS-seed
    # content minhash (distinct unigram tokens, explode + groupBy-min —
    # map-side combine) per fetched page to page_stats. The in-flight
    # half of the training-data dedup pipeline (operators/dedup.py is
    # the batch half). Requires analyze_pages.
    content_minhash: bool = False
    # X3: the UA string grobotstxt group-selection matches against
    # (reference crawler.go:60,442).
    user_agent: str = "webcrawlerGo"
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
        if self.seen_mode not in SEEN_MODES:
            raise ValueError(f"seen_mode must be one of {SEEN_MODES}, got {self.seen_mode!r}")
        if self.content_minhash and not self.analyze_pages:
            raise ValueError("content_minhash=True requires analyze_pages=True")


@dataclass
class CrawlResult:
    events: DataFrame      # (event_rank, wave_id, url, status) — every dequeue
    # registry with flags: a lazy view over the starting registry, the
    # seen set and the events/pages logs (CrawlEngine._registry)
    urls: DataFrame
    pages: DataFrame       # saved content log (url, doc_id, event_rank)
    seen: DataFrame        # the queue-map key set
    invalid: DataFrame     # every href judged invalid (the invalid log, distinct)
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


@dataclass
class WaveState:
    """Everything a wave hands to the next."""

    frontier: DataFrame
    # the urls registry the crawl started from (seed, resume and bulk
    # seed rows); never changes during the crawl
    registry: DataFrame
    seen: DataFrame
    # the URLs whose queue-map value (reference queue/queue.go:15-17)
    # is true and not yet consumed by a save or a transport failure:
    # resume fetch rows and bulk seed rows with should_fetch. Only
    # those values matter: a discovery's value is its marked flag, and
    # a marked URL is saved anyway. The set only shrinks.
    pending: DataFrame
    # None: no commit read-back truncates lineage, so the loop
    # checkpoints state itself
    store: CheckpointStore | None = None
    event_base: int = 0
    virtual_base_ms: int = 0
    wave_id: int = 0
    # derived from observed counters every wave, never a count() job
    n_frontier: int = 0
    # pending is non-empty (checked once, at load): otherwise the waves
    # skip the pending join and the per-URL consumption window
    flags_live: bool = False
    # append logs accumulate as per-wave deltas — unioned lazily,
    # checkpointed as deltas (O(wave), not O(history)); a page-stats
    # entry may still be an in-flight Future of its delta
    events: list[DataFrame] = field(default_factory=list)
    pages: list[DataFrame] = field(default_factory=list)
    lineage: list[DataFrame] = field(default_factory=list)
    invalid: list[DataFrame] = field(default_factory=list)
    page_stats: list = field(default_factory=list)

    def settle_stats(self, wait: bool) -> None:
        # a failed stats job raises here: once per wave for the deltas
        # already finished (so the error surfaces at the wave that
        # caused it), for all of them after the loop
        self.page_stats[:] = [
            d.result() if isinstance(d, Future) and (wait or d.done()) else d
            for d in self.page_stats
        ]


def _overflow_metric():
    """Any FAILED insert (a potential false negative — the wave that
    observes it must not trust probe negatives) or any shard past its
    design load (preemptive, before inserts start failing). Ridden as
    an Observation metric on whatever action reads the shard table —
    never its own job. (A function, not a module constant: building a
    Column needs an active SparkContext.)"""
    return F.max(
        ((F.col("n_fail") > 0) | (F.col("n") * 100 > F.col("n_buckets") * 4 * 84)).cast("long")
    ).alias("overflow")


def _registry_rows(df: DataFrame, monitored: str) -> DataFrame:
    """New urls-registry rows: alive and never saved."""
    return df.select(
        "url", F.col(monitored).alias("is_monitored"),
        F.lit(True).alias("is_alive"), F.lit(None).cast("double").alias("last_saved"),
    )


def _reread(entry: dict, tables: dict[str, DataFrame], name: str) -> DataFrame:
    # the commit write already materialized the table: re-reading the
    # parquet truncates lineage. Passing the written schema keeps the
    # read-back free of jobs: without it Spark runs a schema-inference
    # job per read.
    df = tables[name]
    return df.sparkSession.read.schema(df.schema).parquet(entry["tables"][name])


class SeenTier:
    """The seen set's approximate tier and all of its policy: sizing,
    the probe gate, overflow, rebuild and the commit-time amend.
    ``seen_mode="exact"`` is the tier whose gate never opens: no
    count, no build, no probe, no commit table."""

    # The cuckoo shard table lives across waves: built once (or
    # resumed from the checkpoint), then each wave's new keys are
    # absorbed — O(new), never a per-wave O(seen) rebuild. It is a
    # DataFrame for its whole life (executor-side tables, cogrouped
    # probe/absorb in operators/seenset.py); the driver tracks only the
    # sizing pins and a seen-count estimate for the probe gate, so
    # nothing driver-side grows with the seen set.

    def __init__(self, cfg: CrawlConfig):
        self.cfg = cfg
        self.min_seen = cfg.bloom_probe_min_seen if cfg.seen_mode == "cuckoo" else None
        self.df: DataFrame | None = None
        self.chain = 0  # un-settled lazy absorb links
        self.n_seen_est = 0
        # sizing pins (shard count + per-shard capacity): set by every
        # build, resumed from the manifest meta with the table
        self.shards = cfg.n_shards
        self.ps = cfg.tier_min_per_shard

    @staticmethod
    def overflowed(obs: Observation | None) -> bool:
        return obs is not None and bool(int(obs.get["overflow"] or 0))

    def pins(self) -> dict:
        return {"tier_shards": self.shards, "tier_ps": self.ps}

    def _gate_open(self) -> bool:
        return self.min_seen is not None and self.n_seen_est >= self.min_seen

    def load(self, seen: DataFrame, store: CheckpointStore | None) -> None:
        """Crawl start: resume the table and its sizing pins from
        ``store``'s latest manifest when it has one, else build the
        table if ``seen`` already passes the gate."""
        if self.min_seen is None:
            return
        self.n_seen_est = seen.count()
        loaded = store and store.load(seen.sparkSession, TIER_TABLE, CUCKOO_SHARDS_SCHEMA)
        if loaded is None:
            self._gate_build(seen)
            return
        self.df = loaded  # parquet-backed, already truncated
        meta = store.latest()["meta"]
        self.shards = int(meta.get("tier_shards", self.cfg.n_shards))
        self.ps = int(meta.get("tier_ps", self.cfg.tier_min_per_shard))

    def _gate_build(self, seen: DataFrame) -> None:
        # Below the gate the tier costs NOTHING over exact: no shards
        # exist, so there is no per-wave maintenance for a table the
        # crawl never probes. The wave the estimate crosses the gate
        # builds the shards once from `seen`.
        if self.df is None and self._gate_open():
            self.df = self._build(seen, self.n_seen_est).localCheckpoint(eager=True)

    def _build(self, keys: DataFrame, n_keys: int) -> DataFrame:
        """A table of ~``n_keys`` keys. Each build re-picks the SHARD
        COUNT by the keys/shard ceiling rule (keeps one shard's table
        task-sized at any seen-set scale) and the per-shard capacity
        with 4× headroom; both are pinned until the next build."""
        cfg = self.cfg
        cap = max(cfg.tier_max_keys_per_shard, 1)
        self.shards = max(cfg.n_shards, (n_keys + cap - 1) // cap)
        self.ps = max(cfg.tier_min_per_shard, n_keys * 4 // self.shards)
        return build_cuckoo_shards(keys, n_shards=self.shards, expected_per_shard=self.ps)

    def _rebuild(
        self, keys: DataFrame, n_keys: int, store: CheckpointStore | None = None, tag: str = ""
    ) -> None:
        """ONE O(seen) rebuild with fresh headroom from ``keys``, the
        whole seen set; with a store, persisted by a manifest amend."""
        # An in-memory-only rebuild evaporated on kill, so resume
        # repeated the O(seen) work from a degraded table (ADVICE r3).
        # The amend's meta carries the rebuilt table's pins, which
        # _build has already updated.
        rebuilt = self._build(keys, n_keys)
        if store is None:
            self.df = rebuilt.localCheckpoint(eager=True)
        else:
            store.amend(TIER_TABLE, rebuilt, tag, meta=self.pins())
            self.df = store.load(keys.sparkSession, TIER_TABLE, CUCKOO_SHARDS_SCHEMA)
        self.chain = 0

    def probe(
        self, cands: DataFrame, seen: DataFrame, url_col: str
    ) -> tuple[DataFrame, Observation | None]:
        """Build the table if the gate just opened, then add
        ``maybe_seen`` to ``cands``. Returns them with the table's
        overflow Observation (fires on the caller's action over them),
        or unflagged with None when the probe does not run."""
        self._gate_build(seen)
        if self.df is None or not self._gate_open():
            return cands, None
        obs = Observation()
        self.df = self.df.observe(obs, _overflow_metric())
        flagged = cuckoo_probe_sharded(
            cands, self.df, url_col=url_col, n_shards=self.shards, probe_salt=PROBE_SALT
        )
        return flagged, obs

    def absorb(
        self, seen: DataFrame, new_urls: DataFrame, n_new: int, overflowed: bool, settle: bool
    ) -> None:
        """Fold a wave's (checkpointed) new URLs into the table, or
        rebuild it on an overflow. ``seen`` does not include them yet.
        ``settle`` (no checkpoint store) truncates the absorb chain
        every TRUNCATE_EVERY waves."""
        if not overflowed and self.df is not None and n_new:
            # O(new keys + table bytes), all executor-side: hash
            # JVM-side, cogroup the wave's keys with the shard table,
            # each task folds into ONE shard's table. The absorb is
            # LAZY — it rides the next action that reads the table (the
            # next wave's probe, the store commit, or the settle below)
            # instead of paying its own per-wave job.
            self.df = cuckoo_insert_shards(
                self.df,
                new_urls.select("url"),
                n_shards=self.shards,
                default_n_buckets=_cuckoo_buckets_for(self.ps),
            )
            self.chain += 1
        if not overflowed and settle and self.df is not None and self.chain >= TRUNCATE_EVERY:
            # one small job (table rows only) truncates lineage and
            # carries the overflow check — nothing but one int reaches
            # the driver. Failed inserts between settles are caught by
            # the per-probe observation, not this cadence.
            obs = Observation()
            self.df = self.df.observe(obs, _overflow_metric()).localCheckpoint(eager=True)
            self.chain = 0
            overflowed = self.overflowed(obs)
        if overflowed:
            # the wave already deduped exactly, so the rebuild from the
            # post-wave seen set closes the failed-insert window
            self._rebuild(seen.unionByName(new_urls.select("url")), self.n_seen_est + n_new)
        self.n_seen_est += n_new

    def commit(
        self, store: CheckpointStore, wave_id: int, tables: dict, appends: dict, meta: dict
    ) -> dict:
        """Commit a wave's state with the shard table and its sizing
        pins riding along; amend a rebuilt table on overflow."""
        # Resume reuses the committed table instead of an O(seen)
        # rebuild, addressed by the pinned shard count. The commit write
        # runs any pending lazy absorb links and fires the overflow
        # metric; an overflow is rebuilt from the committed seen set.
        obs = None
        if self.df is not None:
            obs = Observation()
            self.df = self.df.observe(obs, _overflow_metric())
            tables = {**tables, TIER_TABLE: self.df}
        entry = store.commit(wave_id, tables, appends=appends, meta={**meta, **self.pins()})
        if obs is not None:
            self.df = _reread(entry, tables, TIER_TABLE)
            self.chain = 0
            if self.overflowed(obs):
                self._rebuild(
                    _reread(entry, tables, "seen"), self.n_seen_est, store, f"rebuild={wave_id}"
                )
        return entry


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
        if len(rules) <= ROBOTS_EXPR_MAX_RULES:
            self._robots_ok = robots_ok_expr([tuple(r) for r in rules])
        else:
            self._robots_ok = None  # relational path (robots_allowed join)
            self._rules_df = self._rules_df.localCheckpoint(eager=True)

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

    # -- load / seed ----------------------------------------------------------

    def _seed_frontier(
        self, resume_urls: DataFrame | None
    ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """Returns (frontier, registry, seen, pending) mirroring
        beginCrawl + loadUrlsToQueue."""
        cfg = self.cfg
        spark = self.spark
        base = cfg.base_url.rstrip("/")
        # seed (crawl.go:27-30): queue position 0, urls row, map entry
        seed_frontier = local_df(
            spark, [(base, self.base_host, 0, -2, 0, 0, False, 0)], FRONTIER_COLS
        )
        seed_urls = local_df(spark, [(base, False, True, None)], URLS_COLS)
        seed_seen = local_df(spark, [(base,)], URL_COLS)
        if resume_urls is None:
            return seed_frontier, seed_urls, seed_seen, self._empty(URL_COLS)

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
        host = host_expr(F.col("url"))
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
        registry = resume_tbl.unionByName(seed_urls.join(resume_tbl, "url", "left_anti"))

        # map entries: dead rows + every eligible row; fetch rows are
        # pending (InsertForce(false) then SetMapValue(true), init.go:93-94)
        in_map = classified.filter(~F.col("is_alive") | F.col("_eligible"))
        pending = classified.filter(F.col("_fetch")).select("url").distinct()
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
        return seed_frontier.unionByName(resume_frontier), registry, seen, pending

    def _load(
        self, store: CheckpointStore | None, resume: bool,
        resume_urls: DataFrame | None, extra_frontier: DataFrame | None,
    ) -> WaveState:
        """The state the crawl starts from: the latest checkpoint when
        resuming from one, else the seed (plus resume registry rows and
        bulk seed rows)."""
        cfg = self.cfg
        spark = self.spark
        m = store.latest() if store else None  # run() refused a used dir without resume
        if m:
            fmt = int((m.get("meta") or {}).get("stats_format", 1))
            if cfg.analyze_pages and cfg.content_minhash and fmt != STATS_FORMAT:
                raise RuntimeError(
                    f"checkpoint stats_format={fmt} predates this engine's "
                    f"content-minhash format {STATS_FORMAT} (bigint lattice "
                    "signatures, r5); discard the checkpoint or re-crawl — "
                    "resuming would mix signature column types (ADVICE r5)"
                )
            # the known schemas spare the reads their inference jobs
            st = WaveState(
                *(store.load(spark, n, ddl) for n, ddl in (
                    ("frontier", FRONTIER_COLS), ("registry", URLS_COLS), ("seen", URL_COLS),
                    ("pending", URL_COLS),
                )),
                store=store,
                event_base=int(m["meta"]["event_base"]),
                virtual_base_ms=int(m["meta"].get("virtual_base_ms", 0)),
                wave_id=int(m["wave_id"]) + 1,
            )
            if st.registry is None or st.pending is None:
                raise RuntimeError(
                    f"checkpoint {store.root} predates the registry log and the pending "
                    "table this engine resumes from; discard the checkpoint or re-crawl"
                )
            for deltas, name, ddl in (
                (st.events, "events", EVENTS_COLS), (st.pages, "pages", PAGES_COLS),
                (st.lineage, "lineage", LINEAGE_COLS), (st.invalid, "invalid", URL_COLS),
                (st.page_stats, "page_stats", self._stats_cols()),
            ):
                prior = store.load(spark, name, ddl)
                if prior is not None:
                    deltas.append(prior)
        else:
            frontier, registry, seen, pending = self._seed_frontier(resume_urls)
            if extra_frontier is not None:
                # seed rows enter the queue map with their should_fetch
                # flag (existing map entries win, like the seed insert) —
                # without this a bulk-seed row never triggers a save
                pending = pending.unionByName(
                    extra_frontier.filter(F.col("should_fetch")).select("url")
                    .join(seen, "url", "left_anti")
                ).distinct()
                frontier = frontier.unionByName(extra_frontier)
                seen = seen.unionByName(extra_frontier.select("url")).distinct()
                registry = registry.unionByName(
                    _registry_rows(extra_frontier, "should_fetch")
                    .join(registry.select("url"), "url", "left_anti")
                )
            st = WaveState(frontier, registry, seen, pending, store=store)
        st.flags_live = st.pending.limit(1).count() > 0
        # wave 0's frontier size — every later wave derives it from
        # observed counters (n_retries + n_deferred + n_enqueued)
        st.n_frontier = st.frontier.count()
        return st

    # -- the wave loop ------------------------------------------------------

    def run(
        self,
        resume_urls: DataFrame | None = None,
        resume: bool = False,
        extra_frontier: DataFrame | None = None,
    ) -> CrawlResult:
        """``extra_frontier``: bulk seed rows in FRONTIER_COLS shape
        (url, host, depth, parent_rank, span_offset, link_pos,
        should_fetch, retry_count) — the "seed list" path for
        multi-seed frontiers; rows order after the base seed via
        their (parent_rank, span_offset) keys."""
        cfg = self.cfg
        store = CheckpointStore(cfg.checkpoint_dir) if cfg.checkpoint_dir else None
        if store is not None and not resume and store.latest():
            # a fresh crawl's commits must not inherit another crawl's logs
            raise ValueError(
                f"checkpoint dir {store.root} already holds a crawl: pass resume=True "
                "to continue it, or use an empty directory"
            )
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
        stats_pool = ThreadPoolExecutor(max_workers=1) if cfg.analyze_pages else None
        try:
            st = self._load(store, resume, resume_urls, extra_frontier)
            self.tier = SeenTier(cfg)
            self.tier.load(st.seen, store)
            while st.wave_id < cfg.max_waves:
                st.settle_stats(wait=False)
                if st.n_frontier == 0:
                    break
                batch, deferred, n_events = self._politeness_cap(st)
                sim, n_retries = self._fetch(st, batch, n_events)
                wave_events = self._record_events(st, sim, n_events)
                ok = sim.filter(~F.col("transport_fail") & (F.col("http_status") == 200))
                if stats_pool is not None:
                    stats = self._page_stats(ok)
                    st.page_stats.append(
                        stats_pool.submit(lambda df=stats: df.localCheckpoint(eager=True))
                    )
                grouped, probe_obs, confirm, wave_invalid = self._extract(st, ok)
                firsts, new_urls, n_new = self._dedup(st, grouped, probe_obs, confirm)
                n_carried = n_retries + (st.n_frontier - n_events) + n_new
                wave_pages, lin = self._merge(st, sim, ok, deferred, firsts, new_urls, n_carried)
                if store is not None:
                    appends = {"events": wave_events, "pages": wave_pages, "lineage": lin}
                    if wave_invalid is not None:
                        appends["invalid"] = wave_invalid
                    self._commit(st, appends)
                st.wave_id += 1
            # the last wave's delta may still be running — its job
            # overlapped the loop's tail phases
            st.settle_stats(wait=True)
        finally:
            if stats_pool is not None:
                stats_pool.shutdown(cancel_futures=True)
        return self._result(st)

    def _politeness_cap(self, st: WaveState) -> tuple[DataFrame, DataFrame, int]:
        """Politeness cap (T1): per-host quota, overflow defers to the
        next wave. Returns (batch, deferred, batch size)."""
        cap = self.cfg.politeness_max_per_host_per_wave
        if cap is None:
            return st.frontier, self._empty(FRONTIER_COLS), st.n_frontier
        # Two-phase salted top-K (operators/sampling.py::
        # salted_topk_split — shared with stratified sampling): a
        # mega-host (the bench corpus puts 25% of the frontier on
        # one) would serialize a plain Window.partitionBy(host)
        # into one straggler task; phase 1 ranks within
        # (host, salt) — n_salt-way parallel even for one host —
        # phase 2 ranks only the bounded survivors. Identical
        # selection, bounded partitions.
        order = [F.col("parent_rank"), F.col("span_offset"), F.col("link_pos")]
        top, over = salted_topk_split(st.frontier, ["host"], order, cap, salt_on=F.col("url"))
        # ONE materialization of the split, tagged by `_in`: the batch
        # size, the sim checkpoint and the next frontier (`deferred`)
        # all read it, and each read of a lazy split would re-run the
        # salted windows. The batch size rides the checkpoint as an
        # Observation.
        obs_split = Observation()
        split = (
            top.drop("rk").withColumn("_in", F.lit(True))
            .unionByName(over.withColumn("_in", F.lit(False)))
            .observe(obs_split, F.sum(F.col("_in").cast("long")).alias("n_in"))
            .localCheckpoint(eager=True)
        )
        n_events = int(obs_split.get["n_in"] or 0)
        return (
            split.filter(F.col("_in")).drop("_in"),
            split.filter(~F.col("_in")).drop("_in"),
            n_events,
        )

    def _with_flag_in(self, st: WaveState, df: DataFrame) -> DataFrame:
        # shared by both fetch modes (depends only on "url")
        if st.flags_live:
            return df.join(st.pending.withColumn("_flag_in", F.lit(True)), "url", "left")
        return df.withColumn("_flag_in", F.lit(False))

    def _fetch(self, st: WaveState, batch: DataFrame, n_events: int) -> tuple[DataFrame, int]:
        """Fetch + event rank: the wave's fetch events with their global
        FIFO ranks, status columns and the map value each dequeue
        observes, materialized once. Returns (sim, n_retries)."""
        cfg = self.cfg
        # fetch step (S1). Two modes behind one column contract:
        # fetch-sim JOINS the web_index (1:1 left joins don't
        # disturb ordering), so the rank's materialization and the
        # sim checkpoint are one pass over one wide frame; the
        # REAL fetcher (operators/fetch.py) passes fetch columns
        # through inline from mapInPandas — same columns, plus the
        # content itself ("spans") riding the fetch event instead
        # of a doc_id join (what a crawler actually transports).
        if self.fetcher is not None:
            sim = self._with_flag_in(st, self.fetcher(batch)).select(
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
            sim = self._with_flag_in(st, batch.join(web.hint("shuffle_hash"), "url", "left"))
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
            start=st.event_base, n_rows=n_events,
        )
        st.event_base += n_events
        if self.fetcher is not None:
            sim = sim.withColumnRenamed("_tfail", "transport_fail")
        else:
            sim = sim.withColumn("transport_fail", F.col("retry_count") < F.col("fail_times"))
        if st.flags_live:
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
                (F.col("transport_fail") & (F.col("retry_count") < F.lit(cfg.retry_times))).cast("long")
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
        width = min(self.spark.sparkContext.defaultParallelism, max(1, n_events // 1000))
        if (self.fetcher is None or cfg.same_host_only) and n_events <= RANK_SMALL_BATCH:
            sim = sim.repartition(width)
        sim = sim.localCheckpoint(eager=True)
        return sim, int(obs_sim.get["n_retries"] or 0)

    def _record_events(self, st: WaveState, sim: DataFrame, n_events: int) -> DataFrame:
        """The wave's slice of the events log (every dequeue with its
        status and, under virtual_time_exact, its per-request
        politeness clock)."""
        cfg = self.cfg
        status_col = (
            F.when(F.col("transport_fail"), "fail")
            .when(F.col("http_status") == 200, "ok")
            .when(F.col("http_status") == 404, "notfound")
            .otherwise("skip")
            .alias("status")
        )
        src, fetch_seq, virtual_ms = sim, F.lit(None).cast("long"), F.lit(None).cast("long")
        if cfg.virtual_time_exact:
            # per-request politeness clock: seq within (wave, host),
            # virtual offset (seq-1) × delay from the wave's virtual
            # base; the wave's virtual duration is its busiest host's
            # queue drained at one request per delay. One eager
            # materialization carries the wave's max seq as an
            # Observation metric — the host-seq window runs exactly
            # once (a separate agg job would re-execute it)
            obs_vt = Observation()
            src = (
                with_host_seq(sim, "host", ["event_rank"], "fetch_seq", n_rows=n_events)
                .observe(obs_vt, F.max("fetch_seq").alias("mx"))
                .localCheckpoint(eager=True)
            )
            fetch_seq = F.col("fetch_seq")
            virtual_ms = (
                F.lit(st.virtual_base_ms) + (F.col("fetch_seq") - 1) * F.lit(cfg.request_delay_ms)
            ).cast("long")
            st.virtual_base_ms += int(obs_vt.get["mx"] or 0) * cfg.request_delay_ms
        wave_events = src.select(
            "event_rank", F.lit(st.wave_id).alias("wave_id"), "url", status_col,
            fetch_seq.alias("fetch_seq"), virtual_ms.alias("virtual_ms"),
        )
        st.events.append(wave_events)
        return wave_events

    def _page_stats(self, ok: DataFrame) -> DataFrame:
        """Crawl-time page analytics of the wave's fetched pages (lazy)."""
        text = F.concat_ws(
            " ",
            F.transform(F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]),
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
        if not self.cfg.content_minhash:
            return stats
        # in-flight near-dup signatures: minhash over the distinct
        # UNIGRAM token set (the batch pipeline in operators/dedup.py
        # uses 3-gram shingles for precision; the in-flight tier
        # trades n-gram context for a single-split plan). Shape
        # matters: a SEPARATE narrow branch joined back on the page
        # key, tokens exploded once, mins aggregated with map-side
        # combine. Higher-order-function shingling here re-evaluated
        # split(text) per element_at — the HOF path is interpreted
        # with NO common-subexpr elimination (measured 10× wall
        # blowup). ONE md5 per token, N integer permutations of it
        # (MINHASH_P) — never N md5s. The exploded token rows carry
        # ONLY the 8-byte event_rank (the wave's unique page key — a
        # global row_number) instead of (url, event_rank): the
        # ~40-byte url string multiplied by ~tokens-per-page dominated
        # the aggregate's hash/partial-agg bytes; url re-attaches via
        # the stats join below. Same groups, same mins.
        mh = (
            fetched_docs.select(
                "event_rank",
                F.explode_outer(F.array_distinct(F.split(text, " "))).alias("_g"),
            )
            .select(
                "event_rank",
                F.conv(F.substring(F.md5("_g"), 1, 8), 16, 10).cast("bigint").alias("_h"),
            )
            .groupBy("event_rank")
            .agg(
                *[
                    F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
                    for i, (a, b) in enumerate(minhash_ab(CONTENT_MINHASH_SEEDS))
                ]
            )
        )
        # SHUFFLE_HASH, build = the narrow mh side: the groupBy's own
        # hash(event_rank) output feeds the join exchange-free, and
        # neither side pays a sort
        joined = stats.join(mh.hint("shuffle_hash"), "event_rank")
        return joined.select(*stats.columns, *mh.columns[1:])

    def _extract(
        self, st: WaveState, ok: DataFrame
    ) -> tuple[DataFrame, Observation | None, dict, DataFrame | None]:
        """Extract → canonicalize → validate the fetched pages' links into
        one row per href with its min enqueue key, seen-tier probe
        included, materialized once. Returns (grouped, the tier's
        overflow Observation, dedup_new_urls' confirm-strategy
        arguments, the wave's invalid-log delta or None when the wave
        found no invalid href)."""
        cfg = self.cfg
        # X1 + X2: extract → canonicalize → drop empty hrefs. P13, the
        # reference's known-invalid cache (crawler.go:395), only spares
        # re-validation; validity is a pure function of the href, so
        # every wave validates its own hrefs and no cache is read.
        raw_links = extract_links(
            self._with_spans(ok).select("url", "event_rank", "depth", "spans"),
            id_cols=["url", "event_rank", "depth"],
        ).withColumnRenamed("url", "parent_url")
        norm = raw_links.withColumn("_n", normalize_expr(cfg.base_url, F.col("raw_href"))).select(
            "parent_url", "event_rank", "depth", "span_offset", "link_pos",
            F.col("_n.href").alias("href"), F.col("_n.scheme").alias("scheme"),
            F.col("_n.host").alias("host"), F.col("_n.path").alias("path"),
        ).filter(F.col("href").isNotNull())
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
        # The host string does NOT ride the exchange (guide §2.3 —
        # shuffle fewer bytes): host is a pure function of href
        # (urlnorm.host_expr ≡ the normalize struct's host field,
        # equality-tested), so it is re-derived AFTER the groupBy from
        # the deduplicated href set — ~links-per-page× fewer
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
        # the probe runs INSIDE the checkpointed stage: the
        # definite-new / maybe-seen branches downstream then read the
        # flag from memory instead of re-running the cogroup per
        # branch. The maybe-set's rows and total URL bytes ride the
        # same action and pick the confirm strategy (broadcast
        # two-step vs sort-merge anti): the broadcast gate is rows AND
        # bytes (long URLs make a row cap unbounded in bytes, ADVICE
        # r3). octet_length, not length: chars undercount multi-byte
        # UTF-8 URLs by up to 4x — the exact hazard the byte gate
        # exists for.
        grouped, probe_obs = self.tier.probe(grouped, st.seen, url_col="href")
        metrics = [F.sum((~F.col("valid")).cast("long")).alias("n_invalid_cand")]
        if probe_obs is not None:
            maybe = F.col("valid") & F.col("maybe_seen")
            metrics.append(F.sum(maybe.cast("long")).alias("n_maybe"))
            metrics.append(F.sum(F.when(maybe, F.octet_length("href")).cast("long")).alias("maybe_bytes"))
        obs_grouped = Observation()
        grouped = grouped.observe(obs_grouped, *metrics).localCheckpoint(eager=True)
        counts = obs_grouped.get
        confirm = {}
        if probe_obs is not None:
            confirm = {
                "maybe_col": "maybe_seen",
                "n_maybe": int(counts.get("n_maybe") or 0),
                "maybe_bytes": int(counts.get("maybe_bytes") or 0),
            }

        wave_invalid = None
        if int(counts["n_invalid_cand"] or 0):
            # already distinct within the wave (one row per href)
            wave_invalid = grouped.filter(~F.col("valid")).select(F.col("href").alias("url"))
            st.invalid.append(wave_invalid)
        return grouped, probe_obs, confirm, wave_invalid

    def _dedup(
        self, st: WaveState, grouped: DataFrame, probe_obs: Observation | None, confirm: dict
    ) -> tuple[DataFrame, DataFrame, int]:
        """First-encounter dedup (J2): the wave's valid candidates
        (min enqueue key per href) minus the seen set. Returns
        (firsts, new_urls, n_new); the tier absorbs new_urls."""
        # an overflowed tier may hold FAILED inserts (= possible false
        # negatives), so the wave that observes it dedups exactly
        overflowed = self.tier.overflowed(probe_obs)
        trust_probe = probe_obs is not None and not overflowed
        firsts = grouped.filter(F.col("valid")).select(
            F.col("href").alias("url"),
            "host",
            (F.col("depth") + 1).alias("depth"),
            F.col("event_rank").alias("parent_rank"),
            "span_offset",
            "link_pos",
            *([F.col("maybe_seen")] if trust_probe else []),
        )
        new_urls = dedup_new_urls(firsts, st.seen, **(confirm if trust_probe else {}))
        obs_new = Observation()
        new_urls = (
            marked_flag(new_urls, self.cfg.marked_paths, url_col="url")
            .observe(obs_new, F.count(F.lit(1)).alias("n_new"))
            .localCheckpoint(eager=True)
        )
        n_new = int(obs_new.get["n_new"] or 0)
        self.tier.absorb(st.seen, new_urls, n_new, overflowed, settle=st.store is None)
        return firsts, new_urls, n_new

    def _save_pages(self, ok: DataFrame) -> DataFrame:
        """The wave's pages delta: exactly-once content save (T6)."""
        # marked OR live map value (reference crawler.go:300-311), P14
        # min-content guard (crawler.go:346-348: len(html) < 100 ⇒ no save)
        cfg = self.cfg
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
        return saved.select("url", "doc_id", "event_rank")

    def _merge(
        self, st: WaveState, sim: DataFrame, ok: DataFrame, deferred: DataFrame,
        firsts: DataFrame, new_urls: DataFrame, n_frontier: int,
    ) -> tuple[DataFrame, DataFrame]:
        """State MERGE + lineage: the pages delta, seen, the pending
        saves and the next frontier (size ``n_frontier``). Returns the
        wave's pages and lineage deltas. The urls registry needs no
        merge: ``_registry`` derives it from the logs at the result."""
        cfg = self.cfg
        enqueued = new_urls.select(
            "url", "host", "depth", "parent_rank", "span_offset", "link_pos",
            F.col("marked").alias("should_fetch"), F.lit(0).alias("retry_count"),
        )
        # ALWAYS one delta per wave (possibly empty) — the commit
        # references this wave's delta; conditional appends crashed
        # wave 0 when marked_paths=[] (r1 verdict bug #1)
        wave_pages = self._save_pages(ok)
        st.pages.append(wave_pages)

        # enqueued is already wave-distinct AND anti-joined vs seen,
        # so a plain union keeps `seen` duplicate-free — no distinct
        st.seen = st.seen.unionByName(enqueued.select("url"))

        # any consuming event (save/fail) resets the map value to
        # false. A fresh discovery's value is its marked flag
        # (SetMapValue(true) at crawler.go:276-278), which the save
        # reads off the URL itself, so discoveries never become pending.
        if st.flags_live:
            consumed = sim.filter(F.col("transport_fail") | (F.col("http_status") == 200))
            st.pending = st.pending.join(consumed.select("url"), "url", "left_anti")

        lin = self._lineage(st, sim, firsts, enqueued)
        st.lineage.append(lin)

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
        st.frontier = retries.unionByName(deferred).unionByName(enqueued)
        st.n_frontier = n_frontier

        if st.store is None and st.wave_id % TRUNCATE_EVERY == TRUNCATE_EVERY - 1:
            st.seen = st.seen.localCheckpoint(eager=True)
            if st.flags_live:
                st.pending = st.pending.localCheckpoint(eager=True)
        return wave_pages, lin

    def _lineage(
        self, st: WaveState, sim: DataFrame, firsts: DataFrame, enqueued: DataFrame
    ) -> DataFrame:
        """Lineage (A3): per host-shard metrics for this wave."""
        # The politeness model (T1): within a wave each host is fetched
        # sequentially with request_delay_ms spacing (the reference's
        # per-worker sleep, crawler.go:326), hosts in parallel — so a
        # shard's virtual wall-clock is its busiest host's queue length
        # × delay. One two-level aggregate over a tagged union of the
        # wave's events (dq, f), candidates (cand) and new URLs (enq):
        # one shuffle, no joins. Candidate and new-URL rows carry a NULL
        # host — they only add to their shard's counts, and their dq of
        # 0 never moves the max.
        cfg = self.cfg
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
        return (
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
                F.lit(st.wave_id).alias("wave_id"), "partition_id", "dequeued", "fetched",
                "deduped", "enqueued", "virtual_ms",
            )
        )

    def _commit(self, st: WaveState, appends: dict[str, DataFrame]) -> None:
        """Checkpoint commit (T5) of the wave's state snapshots
        (frontier, seen, pending, plus the seen tier's table) and its
        append-log deltas, then read every snapshot back: a snapshot
        left lazy would still read files of an older wave, which the
        retention GC deletes. The crawl's first commit also logs the
        starting registry."""
        if self.cfg.analyze_pages:
            # the stats log is committed too, so this wave's delta must
            # be finished: stats overlap this wave's later phases, not
            # the next wave
            st.settle_stats(wait=True)
            appends = {**appends, "page_stats": st.page_stats[-1]}
        if st.store.latest() is None:
            appends = {**appends, "registry": st.registry}
        tables = {"frontier": st.frontier, "seen": st.seen, "pending": st.pending}
        entry = self.tier.commit(
            st.store,
            st.wave_id,
            tables,
            appends=appends,
            meta={
                "event_base": st.event_base,
                "virtual_base_ms": st.virtual_base_ms,
                # content-signature format version (ADVICE r5): resume
                # refuses a cross-format checkpoint loudly instead of
                # failing later on schema merge of mixed mh column types
                "stats_format": STATS_FORMAT,
            },
        )
        for name in tables:
            setattr(st, name, _reread(entry, tables, name))

    def _stats_cols(self) -> str:
        mh = "".join(f", mh{i} bigint" for i in range(CONTENT_MINHASH_SEEDS))
        return PAGE_STATS_COLS + (mh if self.cfg.content_minhash else "")

    def _registry(
        self, registry: DataFrame, seen: DataFrame, events: DataFrame, pages: DataFrame
    ) -> DataFrame:
        """The urls registry (S6/S7) as a view over the crawl's logs: the
        starting registry, plus every URL the crawl enqueued as a new
        row (an existing row wins: the reference's insert-ignore,
        golden.py), then one per-URL outcome: a 404 marks the row dead
        (T4) and a content save sets last_saved = now (savePageContent,
        crawler.go:353-355, which drives T7 re-crawl expiry)."""
        found = seen.join(registry, "url", "left_anti")
        found = marked_flag(found, self.cfg.marked_paths, url_col="url")
        outcome = (
            events.filter(F.col("status") == "notfound")
            .select("url", F.lit(True).alias("_dead"), F.lit(False).alias("_saved"))
            .unionByName(pages.select("url", F.lit(False).alias("_dead"), F.lit(True).alias("_saved")))
            .groupBy("url")
            .agg(F.max("_dead").alias("_dead"), F.max("_saved").alias("_saved"))
        )
        return (
            registry.unionByName(_registry_rows(found, "marked"))
            .join(outcome, "url", "left")
            .select(
                "url", "is_monitored",
                F.when(F.col("_dead"), F.lit(False)).otherwise(F.col("is_alive")).alias("is_alive"),
                F.when(F.col("_saved"), F.lit(float(self.cfg.now_ts)))
                .otherwise(F.col("last_saved")).alias("last_saved"),
            )
        )

    def _result(self, st: WaveState) -> CrawlResult:
        def union_all(deltas: list[DataFrame], schema: str) -> DataFrame:
            return reduce(DataFrame.unionByName, deltas) if deltas else self._empty(schema)

        events, pages = union_all(st.events, EVENTS_COLS), union_all(st.pages, PAGES_COLS)
        return CrawlResult(
            events=events,
            urls=self._registry(st.registry, st.seen, events, pages),
            pages=pages,
            seen=st.seen,
            invalid=union_all(st.invalid, URL_COLS).distinct(),
            lineage=union_all(st.lineage, LINEAGE_COLS),
            waves=st.wave_id,
            page_stats=union_all(st.page_stats, self._stats_cols()),
        )
