"""SparkSession factory.

One place to configure the engine's session so tests, the driver
entry point, and the benchmark all agree on: AQE on (runtime shuffle
re-planning + skew-join splitting), Arrow on (vectorized pandas UDF
transfer), UTC session timezone (DuckDB-oracle comparability), and
shuffle partitions sized to cores rather than the 200 default.

At cluster scale the same factory is used by ``spark-submit
--py-files``; only ``master`` and the memory knobs change.

Rule: engine code never builds a DataFrame from a Python list. Such
a frame (``spark.createDataFrame`` over a list) is a Python RDD: every
job that scans its lineage runs Python worker tasks (about 1 s of
worker CPU per scan of a 1-row frame on a 4-vCPU host). Driver-side
rows go through ``local_df`` instead, which yields a JVM-local
``LocalTableScan`` (or an empty ``Range`` projection) that costs
nothing to re-scan. Only ``sources/`` (test-data generators) is exempt.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
MAX_DRIVER_MEM_MB = 20 * 1024
DRIVER_MEM_SHARE = 0.6


def _memory_limit_bytes() -> int | None:
    """The tighter of MemAvailable and the cgroup (v2 or v1) limit."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit() and int(raw) < (1 << 60):  # "max" / 2^63-ish = unlimited
            limits.append(int(raw))
    return min(limits) if limits else None


def default_driver_mem() -> str:
    """Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: min(20g, 60% of
    the memory this host actually grants). The heap is pre-touched
    (-Xms = -Xmx + AlwaysPreTouch), so asking for more than the host
    has kills the JVM before its gateway opens."""
    limit = _memory_limit_bytes()
    if limit is None:
        return f"{MAX_DRIVER_MEM_MB}m"
    mb = int(limit * DRIVER_MEM_SHARE) >> 20
    return f"{max(1024, min(MAX_DRIVER_MEM_MB, mb))}m"


def local_df(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """A DataFrame of driver-side ``rows`` under the ``ddl`` schema,
    JVM-local (see the module rule). Non-empty rows cross once as an
    Arrow batch (a ``LocalTableScan``); columns are object-typed so
    pandas never widens an int column holding None to float. Empty
    frames are a typed projection over ``range(0)``: an empty pandas
    frame silently falls back to a Python RDD."""
    schema = StructType.fromDDL(ddl)
    if not rows:
        return spark.range(0, 0, 1, 1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
    import pandas as pd

    pdf = pd.DataFrame(
        {f.name: pd.Series([r[i] for r in rows], dtype=object) for i, f in enumerate(schema.fields)}
    )
    return spark.createDataFrame(pdf, schema)


def get_spark(
    app_name: str = "webcrawlergo_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``cpus`` controls local-mode parallelism (``local[cpus]``); on a
    real cluster leave ``master`` to spark-submit. ``shuffle_partitions``
    defaults to 2x cores locally — at 100 TB you would instead size it
    as total_shuffle_bytes / ~128MB and let AQE coalesce.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or max(cpus, 8)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64MB advisory over-coalesces stages that feed an
        # explode (links fan out ~16x after the scan) — keep post-
        # shuffle partitions smaller so fan-out stages stay parallel
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # superseded localCheckpoint blocks are only dropped after a
        # driver GC notices the RDD is unreachable — with a large,
        # mostly-empty heap that can take many minutes; force it
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # ParallelGC + pre-touched fixed heap: G1's periodic uncommit +
        # re-fault of heap pages dominated wall time in this VM (90%+
        # kernel time, mostly-idle CPUs). A fixed pre-touched heap with
        # a throughput collector removed the stalls (3x on the crawl
        # bench). On a real cluster, apply the same to executors.
        #
        # -XX:-DontCompileHugeMethods (r6): whole-stage codegen of the
        # unrolled fixed-dim vector arithmetic (operators/similarity.py
        # _dot/_sub_l2 — ~450 scalar ops inside one join-consume
        # method) exceeds HotSpot's 8000-bytecode JIT cutoff, leaving
        # the hottest generated method running in the BYTECODE
        # INTERPRETER: measured 42 s vs 1.8 s for the identical
        # 5M-row dot-product stage with the flag flipped. Codegen'd
        # SQL is exactly the "huge generated method" case the default
        # cutoff was not designed for; apply to executors too on a
        # real cluster.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch -XX:-DontCompileHugeMethods -Xms"
                + driver_mem,
            ),
        )
        .config("spark.ui.enabled", "false")
        # shuffle + spill through the VM's virtio disk throttles every
        # wave identically at any core count; tmpfs restores the NVMe-
        # class local I/O a real executor would have
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's "no partition defined" warning is an accident
    # detector; the engine's only unpartitioned windows are the
    # DELIBERATE small-batch paths (plans/rank.py: below 100k rows one
    # task beats the 3-job distributed recipe). Silence that one
    # logger — every at-scale window in the engine is partitioned.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # log4j internals moved — cosmetic only
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
