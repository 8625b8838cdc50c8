"""URL-seen set — J2, the dedup heart of the engine.

The reference's seen-set is a mutexed in-memory map
(reference queue/queue.go:15-24, FirstEncounter at 55-57). At
10^10-URL scale a map per executor is impossible; the north rule
prescribes a sharded approximate-membership tier plus an *exact*
confirm so results stay bit-for-bit:

  candidate --xxhash64 (JVM)--> shard, h1, h2
            --cuckoo probe (vectorized numpy over Arrow batches)-->
      definite-new  ────────────────────────────► enqueue
      maybe-seen    ──exact anti-join vs urls───► enqueue survivors

Probe negatives are exact as long as no insert ever failed (the
tables carry a cumulative n_fail the caller watches), so only the
(tiny) positive fraction pays the anti-join. The tier is a
partial-key cuckoo filter (Fan et al., CoNEXT'14 public paper; the
per-shard kernel is the numpy CuckooFilter class) because it
supports deletion: it backs the S9 delete / T4 resurrection path
(cuckoo_delete_shards), where a deleted URL must leave the
never-recrawl set without an O(seen) rebuild.

The tier lives EXECUTOR-SIDE for its whole life: the fingerprint
tables are a (shard, n_buckets, n, n_fail, table, n_shards) DataFrame
built per shard with applyInPandas; probe/insert/delete are cogrouped
applyInPandas jobs that repartition the keys by shard, so each task
holds exactly ONE shard's table, and the driver never materializes a
table (the r2/r3 designs broadcast the whole shard dict to every
executor and kept a driver copy: ~12.5 GB per node at the 10^10-URL
design point). The only whole-set transfer is the shard-table shuffle
itself, which spreads 1/n_shards per task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

# --------------------------------------------------------------------------
# numpy cuckoo filter (overflow/deletion tier)
# --------------------------------------------------------------------------

class CuckooFilter:
    """Partial-key cuckoo filter: 4-slot buckets, 16-bit fingerprints.

    Supports delete(), used when a dead
    URL is resurrected (is_alive flips back) and must leave the
    never-recrawl set. Serializable to bytes for checkpointing.
    """

    SLOTS = 4
    FP_BITS = 16
    MAX_KICKS = 500

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        # POWER OF TWO REQUIRED: the partial-key property — bucket2 =
        # b1 xor hash(fp), and back again — is an involution only
        # modulo a power of two. With any other count, a kick-chain
        # eviction relocates a fingerprint into a bucket the probe
        # never checks: a SILENT false negative with n_fail == 0,
        # below every overflow trigger (found by review in r4 — at
        # 60% load a non-pow2 filter false-negatives ~0.1% of its own
        # inserted keys).
        if n_buckets <= 0 or (n_buckets & (n_buckets - 1)) != 0:
            raise ValueError(f"n_buckets must be a power of two, got {n_buckets}")
        self.n_buckets = n_buckets
        self.table = table if table is not None else np.zeros((n_buckets, self.SLOTS), dtype=np.uint16)

    @staticmethod
    def _fp(h1: np.ndarray) -> np.ndarray:
        fp = (h1 & np.uint64(0xFFFF)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)  # 0 = empty slot sentinel

    def _b1(self, h2: np.ndarray) -> np.ndarray:
        return (h2 % np.uint64(self.n_buckets)).astype(np.int64)

    def _b2(self, b1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        # partial-key: alt bucket = b1 xor hash(fp)
        fph = fp.astype(np.uint64) * np.uint64(0x5BD1E995)
        return ((b1.astype(np.uint64) ^ fph) % np.uint64(self.n_buckets)).astype(np.int64)

    def insert_many(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Insert; returns number that failed (filter full)."""
        fps = self._fp(h1.astype(np.uint64))
        b1s = self._b1(h2.astype(np.uint64))
        fails = 0
        for fp, b1 in zip(fps, b1s):  # kicks are fp-derived, fully deterministic
            if not self._insert_one(int(fp), int(b1)):
                fails += 1
        return fails

    def _insert_one(self, fp: int, b1: int) -> bool:
        b2 = int(self._b2(np.array([b1]), np.array([fp], dtype=np.uint16))[0])
        for b in (b1, b2):
            row = self.table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = fp
                return True
        # evict deterministically: slot chosen by fp, alternate buckets
        b = b1 if (fp & 1) else b2
        cur = fp
        for kick in range(self.MAX_KICKS):
            slot = (cur + kick) % self.SLOTS
            cur, self.table[b, slot] = int(self.table[b, slot]), np.uint16(cur)
            b = int(self._b2(np.array([b]), np.array([cur], dtype=np.uint16))[0])
            row = self.table[b]
            empty = np.where(row == 0)[0]
            if len(empty):
                self.table[b, empty[0]] = cur
                return True
        return False

    def contains_many(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        fps = self._fp(h1.astype(np.uint64))
        b1s = self._b1(h2.astype(np.uint64))
        b2s = self._b2(b1s, fps)
        in1 = (self.table[b1s] == fps[:, None]).any(axis=1)
        in2 = (self.table[b2s] == fps[:, None]).any(axis=1)
        return in1 | in2

    def delete_many(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Remove one copy of each fingerprint; returns found-mask."""
        fps = self._fp(h1.astype(np.uint64))
        b1s = self._b1(h2.astype(np.uint64))
        b2s = self._b2(b1s, fps)
        found = np.zeros(len(fps), dtype=bool)
        for i, (fp, b1, b2) in enumerate(zip(fps, b1s, b2s)):
            for b in (b1, b2):
                slots = np.where(self.table[b] == fp)[0]
                if len(slots):
                    self.table[b, slots[0]] = 0
                    found[i] = True
                    break
        return found

    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, n_buckets: int) -> "CuckooFilter":
        table = np.frombuffer(data, dtype=np.uint16).reshape(n_buckets, cls.SLOTS).copy()
        return cls(n_buckets, table)


# --------------------------------------------------------------------------
# DataFrame layer
# --------------------------------------------------------------------------

def with_hashes(df: DataFrame, url_col: str = "url", n_shards: int = 16) -> DataFrame:
    """JVM-side hashing: shard + two independent 64-bit hashes.
    xxhash64 runs in codegen; Python only ever sees the hash columns."""
    return (
        df.withColumn("_h1", F.xxhash64(F.col(url_col)))
        .withColumn("_h2", F.xxhash64(F.col(url_col), F.lit(0x51_7C_C1)))
        .withColumn("_shard", F.pmod(F.col("_h1"), F.lit(n_shards)).cast("int"))
    )


def table_n_shards(blob_df: DataFrame, default: int = 16) -> int:
    """The shard count a cuckoo table was built with (carried on
    every row). One tiny driver job; callers with the count pinned
    (the wave engine) pass it explicitly instead."""
    row = blob_df.select("n_shards").first()
    return int(row[0]) if row and row[0] is not None else default


CUCKOO_SHARDS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("n_buckets", T.LongType()),
        T.StructField("n", T.LongType()),
        # cumulative failed inserts: a key the kick chain couldn't
        # place is NOT in the filter, so a probe on it could false-
        # negative — callers must treat max(n_fail) > 0 as "resize and
        # rebuild" (observable as a metric on any action over the table)
        T.StructField("n_fail", T.LongType()),
        T.StructField("table", T.BinaryType()),
        # the shard COUNT the table was built with, carried per row:
        # probing or maintaining with a mismatched count silently
        # routes keys to the wrong shard (review r4) — callers that
        # don't track the count pass n_shards=None and it is read
        # back from here (table_n_shards)
        T.StructField("n_shards", T.IntegerType()),
    ]
)


def _cuckoo_buckets_for(per_shard: int) -> int:
    """Bucket count for a shard expected to hold ``per_shard`` keys:
    4-slot buckets at ≤84% design load (the partial-key construction's
    safe region — past ~95% kick chains start failing), rounded UP to
    a power of two — the xor-involution requirement (see
    CuckooFilter.__init__). The floor is deliberately tiny so tests
    can size a filter into overflow; real sizing comes from the
    caller's per-shard capacity (the wave loop floors it at
    CrawlConfig.tier_min_per_shard)."""
    need = per_shard // (CuckooFilter.SLOTS * 84 // 100) + 1
    return max(4, 1 << (need - 1).bit_length())


def build_cuckoo_shards(
    urls: DataFrame,
    url_col: str = "url",
    n_shards: int = 16,
    expected_per_shard: int | None = None,
    growth: int = 2,
) -> DataFrame:
    """urls → (shard, n_buckets, n, n_fail, table), one row per shard,
    built in parallel with applyInPandas. ``growth`` sizes headroom so
    incremental inserts (cuckoo_insert_shards) don't immediately
    overflow.

    Sizing rule: the (rare) full build/rebuild delivers ONE shard's
    key hashes (16 B/key) to one task — pick n_shards ≥
    total_keys / ~50M so a shard's hash frame stays task-sized. The
    wave engine applies this rule automatically at every (re)build
    (CrawlConfig.tier_max_keys_per_shard). The per-wave maintenance
    path (cuckoo_insert_shards) only ever ships a WAVE's keys and is
    insensitive to total size."""
    hashed = with_hashes(urls.select(url_col), url_col, n_shards)
    if expected_per_shard is None:
        total = urls.count()
        per_shard = max(1024, (total // max(n_shards, 1)) * growth)
    else:
        per_shard = expected_per_shard
    n_buckets = _cuckoo_buckets_for(per_shard)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["_shard"].iloc[0]) if len(pdf) else 0
        cf = CuckooFilter(n_buckets)
        fails = cf.insert_many(
            pdf["_h1"].to_numpy(np.uint64), pdf["_h2"].to_numpy(np.uint64)
        )
        return pd.DataFrame(
            {
                "shard": [shard],
                "n_buckets": [n_buckets],
                "n": [len(pdf)],
                "n_fail": [fails],
                "table": [cf.to_bytes()],
                "n_shards": [n_shards],
            }
        )

    return hashed.groupBy("_shard").applyInPandas(build, CUCKOO_SHARDS_SCHEMA)


def cuckoo_probe_sharded(
    candidates: DataFrame,
    cuckoo_df: DataFrame,
    url_col: str = "url",
    n_shards: int | None = None,
    probe_salt: int = 2,
) -> DataFrame:
    """Add ``maybe_seen`` via the shard-partitioned executor-side
    probe. Negatives are exact as long as no insert ever failed (track
    max(n_fail)); positives still need the exact confirm.

    Candidates are repartitioned by their shard and cogrouped with the
    shard table, so each task reads exactly ONE shard's table — driver
    memory and per-executor memory stay flat w.r.t. the seen-set size
    (the broadcast-dict probe this replaces shipped EVERY shard to
    EVERY executor). A candidate shard with no table row is definitely
    new (maybe_seen = False).

    ``probe_salt`` multiplies probe parallelism past n_shards: the
    cogroup key is (shard, salt) with the table row replicated per
    salt — n_shards*probe_salt tasks, each still holding one table.
    The replication cost is salt×(total table bytes) through the
    shuffle, spread across the cluster — vs the broadcast's
    executors×(total table bytes) to every node.
    """
    if n_shards is None:
        n_shards = table_n_shards(cuckoo_df)
    out_fields = list(candidates.schema.fields)
    out_cols = [f.name for f in out_fields]
    out_schema = T.StructType(out_fields + [T.StructField("maybe_seen", T.BooleanType())])
    hashed = with_hashes(candidates, url_col, n_shards).withColumn(
        "_salt", F.pmod(F.col("_h2"), F.lit(probe_salt)).cast("int")
    )
    table_side = cuckoo_df.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(probe_salt)]))
    )

    def probe(cand: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if not len(cand):
            return pd.DataFrame(columns=out_cols + ["maybe_seen"])
        if not len(shard):
            maybe = np.zeros(len(cand), dtype=bool)
        else:
            cf = CuckooFilter.from_bytes(shard["table"].iloc[0], int(shard["n_buckets"].iloc[0]))
            maybe = cf.contains_many(
                cand["_h1"].to_numpy(np.uint64), cand["_h2"].to_numpy(np.uint64)
            )
        out = cand[out_cols].copy()
        out["maybe_seen"] = maybe
        return out

    return (
        hashed.groupBy("_shard", "_salt")
        .cogroup(table_side.groupBy("shard", "_salt"))
        .applyInPandas(probe, out_schema)
    )


def _cuckoo_apply_shards(
    cuckoo_df: DataFrame,
    urls: DataFrame,
    op: str,
    url_col: str,
    n_shards: int | None,
    default_n_buckets: int,
) -> DataFrame:
    """Shared cogrouped maintenance: each task mutates ONE shard's
    fingerprint table with its wave of keys (hashing is JVM-side; the
    driver never sees a table). Shards with no keys pass through."""
    if n_shards is None:
        n_shards = table_n_shards(cuckoo_df)
    keys = with_hashes(urls.select(url_col), url_col, n_shards).select(
        "_shard", "_h1", "_h2"
    )
    cols = [f.name for f in CUCKOO_SHARDS_SCHEMA.fields]

    def apply(new: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        if not len(shard):
            if op == "delete":
                # nothing to delete from a shard that has no filter —
                # fabricating an empty table row here would persist
                # and shuffle forever (review r4)
                return pd.DataFrame(columns=cols)
            sid = int(new["_shard"].iloc[0])
            n_buckets, n, n_fail = default_n_buckets, 0, 0
            cf = CuckooFilter(n_buckets)
        else:
            sid = int(shard["shard"].iloc[0])
            n_buckets = int(shard["n_buckets"].iloc[0])
            n = int(shard["n"].iloc[0])
            n_fail = int(shard["n_fail"].iloc[0])
            cf = CuckooFilter.from_bytes(shard["table"].iloc[0], n_buckets)
        if len(new):
            h1 = new["_h1"].to_numpy(np.uint64)
            h2 = new["_h2"].to_numpy(np.uint64)
            if op == "insert":
                n_fail += cf.insert_many(h1, h2)
                n += len(new)
            else:
                n -= int(cf.delete_many(h1, h2).sum())
        return pd.DataFrame(
            {
                "shard": [sid],
                "n_buckets": [n_buckets],
                "n": [n],
                "n_fail": [n_fail],
                "table": [cf.to_bytes()],
                "n_shards": [n_shards],
            }
        )

    return (
        keys.groupBy("_shard")
        .cogroup(cuckoo_df.groupBy("shard"))
        .applyInPandas(apply, CUCKOO_SHARDS_SCHEMA)
    )


def cuckoo_insert_shards(
    cuckoo_df: DataFrame,
    urls: DataFrame,
    url_col: str = "url",
    n_shards: int | None = None,
    default_n_buckets: int = 16_384,
) -> DataFrame:
    """Next shard table with ``urls`` inserted — O(new keys + table
    bytes), all executor-side. Watch max(n_fail): >0 means the filter
    is past capacity and must be rebuilt larger (a failed insert is a
    potential false negative)."""
    return _cuckoo_apply_shards(
        cuckoo_df, urls, "insert", url_col, n_shards, default_n_buckets
    )


def cuckoo_delete_shards(
    cuckoo_df: DataFrame,
    urls: DataFrame,
    url_col: str = "url",
    n_shards: int | None = None,
    default_n_buckets: int = 16_384,
) -> DataFrame:
    """Next shard table with ``urls`` deleted (S9 delete / T4
    resurrection). Only ever delete
    previously-inserted keys: removing a never-inserted key can evict
    a colliding fingerprint and create a false negative."""
    return _cuckoo_apply_shards(
        cuckoo_df, urls, "delete", url_col, n_shards, default_n_buckets
    )


def dedup_new_urls(
    candidates: DataFrame,
    seen_urls: DataFrame,
    url_col: str = "url",
    n_shards: int | None = None,
    cuckoo_df: DataFrame | None = None,
    maybe_col: str | None = None,
    n_maybe: int | None = None,
    maybe_bytes: int | None = None,
    confirm_broadcast_max: int = 2_000_000,
    confirm_broadcast_max_bytes: int = 64 << 20,
) -> DataFrame:
    """THE dedup operator (J2): candidates not in the seen set.

    Exact path: one anti-join. Cuckoo path: probe first (or take the
    ``maybe_col`` flag of a probe that already ran), anti-join only
    the maybe-seen fraction, union back the definite-new rows —
    identical results, a fraction of the shuffle. After a registry
    delete the filter forgets the keys too (S9/T4), so the fast path
    never goes stale.

    Confirm strategy: when the caller knows the maybe-fraction row
    count (``n_maybe``, e.g. observed on an upstream checkpoint) and
    it is broadcastable, the exact confirm becomes two broadcast hash
    joins — ``hits = seen ⋉ broadcast(maybe)`` (seen is STREAMED
    map-side: scanned once, never shuffled or sorted) then
    ``maybe ▷ broadcast(hits)``. That removes the per-wave
    shuffle+sort of the (unbounded, crawl-lifetime) seen set that the
    plain sort-merge anti-join pays; above the threshold it falls
    back to the sort-merge anti-join.

    The broadcast gate is rows AND bytes (ADVICE r3): 2M short URLs
    broadcast fine, but long URLs make a row cap unbounded in bytes —
    when the caller also observed the maybe-set's total URL bytes
    (``maybe_bytes``, e.g. a sum(length(url)) metric on the same
    upstream action that counted n_maybe), the broadcast path
    additionally requires it under ``confirm_broadcast_max_bytes``
    (default 64 MB — the broadcast is replicated per executor, so
    budget it like spark.sql.autoBroadcastJoinThreshold, not like
    heap)."""
    if cuckoo_df is None and maybe_col is None:
        return candidates.join(seen_urls.select(url_col), url_col, "left_anti")
    if maybe_col is not None:
        # the probe already ran (e.g. inside an upstream checkpointed
        # stage, so the two branches below don't re-execute it)
        flagged = candidates.withColumnRenamed(maybe_col, "maybe_seen")
    else:
        flagged = cuckoo_probe_sharded(candidates, cuckoo_df, url_col, n_shards)
    definite_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
    if (
        n_maybe is not None
        and n_maybe <= confirm_broadcast_max
        and (maybe_bytes is None or maybe_bytes <= confirm_broadcast_max_bytes)
    ):
        hits = seen_urls.select(url_col).join(
            F.broadcast(maybe.select(url_col)), url_col, "left_semi"
        )
        confirmed_new = maybe.join(F.broadcast(hits), url_col, "left_anti")
    else:
        confirmed_new = maybe.join(seen_urls.select(url_col), url_col, "left_anti")
    return definite_new.unionByName(confirmed_new)
