"""Checkpoint store — Parquet + atomic manifest (Iceberg-degraded).

The north rule wants every wave committed to Iceberg so a killed job
resumes losslessly. The sandbox image has no Iceberg jar, so the same
contract is implemented as Parquet snapshots plus a JSON manifest
committed by atomic rename — the Iceberg idea (immutable data files +
a pointer flip) in 60 lines. The interface is commit/latest/load so a
real Iceberg catalog can slot in unchanged (spark.table + MERGE INTO)
when the runtime jar is present.

Layout:
    <root>/<table>/wave=<n>/*.parquet     immutable snapshot data
    <root>/_manifest.json.tmp → rename → <root>/_manifest.json

The crawl engine (plans/wave.py) commits two kinds of table. Its
snapshots, rewritten every wave, are ``frontier``, ``seen``,
``pending`` (the URLs whose save is still owed) and the seen tier's
``cuckoo`` shards. Its append logs, one delta per wave, are
``events``, ``pages``, ``lineage``, ``invalid`` (only from waves that
found an invalid href) and ``page_stats`` (when the crawl analyzes
pages), plus ``registry``: the urls registry the crawl started from,
written once by its first commit. A checkpoint directory holds one
crawl.

A manifest names the exact wave directory per table, so a crash
between table writes and the rename leaves the previous manifest
(and therefore the previous consistent state) in force — the
snapshot-isolation property that replaces the reference's
SQLite WAL checkpoint (reference models/sqlite/sqlite.go:99-109) and
row-version CAS (reference models/url.go:36-40).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, root: str, keep_last: int = 2):
        self.root = root
        self.keep_last = keep_last  # snapshot history depth (rollback window)
        os.makedirs(root, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    @staticmethod
    def _write_json_atomic(path: str, obj: dict) -> None:
        """tmp + os.replace for EVERY manifest file — the history
        manifests rollback() depends on get the same crash-safety as
        the current-pointer flip (ADVICE r4: a crash mid-write of
        _manifest-<wave>.json corrupted the rollback window)."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)

    def latest(self) -> dict | None:
        """The last committed manifest, or None."""
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            return json.load(f)

    def manifest_for(self, wave_id: int) -> dict | None:
        """A historical manifest (Iceberg snapshot-history analog).
        Only the last ``keep_last`` waves' snapshot files survive GC,
        so older manifests may reference pruned data."""
        p = os.path.join(self.root, f"_manifest-{wave_id}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def rollback(self, wave_id: int) -> dict:
        """Point the current manifest at a historical snapshot — the
        Iceberg rollback-to-snapshot operation as a pointer flip. The
        next resume then continues from ``wave_id``."""
        m = self.manifest_for(wave_id)
        if m is None:
            raise ValueError(f"no manifest for wave {wave_id} (history keeps {self.keep_last})")
        for name, path in m["tables"].items():
            if not os.path.exists(path):
                raise ValueError(f"snapshot data for wave {wave_id} table {name} was GC'd")
        self._write_json_atomic(self._manifest_path, m)
        return m

    def commit(
        self,
        wave_id: int,
        tables: dict[str, DataFrame],
        appends: dict[str, DataFrame] | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Write table snapshots + append-only deltas, then atomically
        flip the manifest.

        ``tables`` are full snapshots (frontier, seen, …) — rewritten
        per wave. ``appends`` are append-only logs (events, pages,
        lineage): only this wave's delta is written; the manifest
        carries the cumulative file list, so commit cost is O(delta),
        not O(history) — the property that makes per-wave commits
        affordable at 10^10 events.
        """
        prev = self.latest() or {"append_tables": {}}
        entry: dict = {
            "wave_id": wave_id,
            "tables": {},
            "append_tables": {k: list(v) for k, v in prev.get("append_tables", {}).items()},
            "meta": meta or {},
        }
        for name, df in tables.items():
            path = os.path.join(self.root, name, f"wave={wave_id}")
            df.write.mode("overwrite").parquet(path)
            entry["tables"][name] = path
        for name, df in (appends or {}).items():
            path = os.path.join(self.root, name, f"wave={wave_id}")
            df.write.mode("overwrite").parquet(path)
            entry["append_tables"].setdefault(name, []).append(path)
        self._write_json_atomic(self._manifest_path, entry)  # atomic pointer flip
        # snapshot history for rollback (Iceberg snapshot log analog)
        self._write_json_atomic(
            os.path.join(self.root, f"_manifest-{wave_id}.json"), entry
        )
        self._gc(keep_wave=wave_id, protect=entry["append_tables"])
        return entry

    def amend(self, table: str, df: DataFrame, tag: str, meta: dict | None = None) -> dict:
        """Atomically repoint ONE snapshot table of the current
        manifest at freshly-written data — the post-commit maintenance
        path (e.g. a seen-tier overflow rebuild detected on the commit's
        own Observation). Same write-new-then-pointer-flip discipline
        as commit: a crash mid-amend leaves the committed state in
        force, a crash after the flip resumes from the rebuilt data —
        the rebuild work is never lost and never half-visible
        (ADVICE r3: the in-memory-only rebuild evaporated on kill).

        ``tag`` names the snapshot dir (convention: ``rebuild=<wave>``
        so GC ages it with its wave's other snapshots). ``meta``
        entries are merged into the manifest meta (e.g. sizing pins
        that changed with the rebuilt table).
        """
        m = self.latest()
        if m is None:
            raise ValueError("amend before any commit")
        # never overwrite an existing snapshot dir: after a rollback +
        # re-run reaching the same wave id, a historical manifest may
        # still reference <tag>; clobbering it would corrupt that
        # snapshot (ADVICE r4). Suffix an attempt counter instead —
        # GC parses the leading wave id either way.
        path = os.path.join(self.root, table, tag)
        attempt = 0
        while os.path.exists(path):
            attempt += 1
            path = os.path.join(self.root, table, f"{tag}.{attempt}")
        df.write.mode("overwrite").parquet(path)
        m["tables"][table] = path
        if meta:
            m["meta"].update(meta)
        self._write_json_atomic(self._manifest_path, m)
        self._write_json_atomic(
            os.path.join(self.root, f"_manifest-{m['wave_id']}.json"), m
        )
        return m

    def load_at(self, spark: SparkSession, table: str, wave_id: int) -> DataFrame | None:
        """Time-travel read (Iceberg ``VERSION AS OF``): ``table``
        exactly as wave ``wave_id`` committed it, resolved through the
        snapshot-history manifest. For append tables the historical
        manifest's cumulative file list IS the as-of-wave prefix of
        the log, so deltas appended by later waves are invisible —
        the property that lets lineage/metrics queries run against a
        consistent past state while the crawl keeps committing.

        Raises for an unknown wave or a snapshot whose data files the
        retention GC already dropped (history keeps ``keep_last``
        waves); returns None for a table the wave didn't carry.
        """
        m = self.manifest_for(wave_id)
        if m is None:
            raise ValueError(
                f"no manifest for wave {wave_id} (history keeps {self.keep_last})"
            )
        paths = self._paths(m, table)
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise ValueError(f"data for wave {wave_id} table {table} was GC'd: {missing}")
        return spark.read.parquet(*paths) if paths else None

    def load(self, spark: SparkSession, table: str, schema=None) -> DataFrame | None:
        """``table`` as the latest manifest has it, or None. A known
        ``schema`` (DDL or StructType) spares the read Spark's
        schema-inference job."""
        m = self.latest()
        paths = self._paths(m, table) if m else []
        if not paths:
            return None
        return (spark.read.schema(schema) if schema else spark.read).parquet(*paths)

    @staticmethod
    def _paths(m: dict, table: str) -> list[str]:
        """A snapshot table's one dir, or an append log's delta dirs."""
        if table in m["tables"]:
            return [m["tables"][table]]
        return m.get("append_tables", {}).get(table, [])

    def _gc(self, keep_wave: int, keep_last: int | None = None, protect: dict | None = None) -> None:
        """Drop snapshot dirs older than the last ``keep_last`` waves,
        never touching paths referenced by append tables."""
        keep_last = keep_last if keep_last is not None else self.keep_last
        protected = {p for paths in (protect or {}).values() for p in paths}
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            # snapshot dirs are <kind>=<wave_id>[.<attempt>] (wave=N
            # commits, rebuild=N / rebuild=N.k amends) — age by wave
            # id, keep the last keep_last ids, whatever kind wrote them
            snaps: list[tuple[int, str]] = []
            for d in os.listdir(tdir):
                if "=" not in d:
                    continue
                try:
                    snaps.append((int(d.split("=")[1].split(".")[0]), d))
                except ValueError:
                    continue
            keep_ids = set(sorted({w for w, _ in snaps})[-keep_last:])
            for w, d in snaps:
                path = os.path.join(tdir, d)
                if w not in keep_ids and path not in protected:
                    shutil.rmtree(path, ignore_errors=True)
