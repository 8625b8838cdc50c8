"""Loaders for the driver-provisioned TPC-H-ish parquet testdata.

Analog of the reference's table scans (S4, reference
models/url.go:201-267): explicit parquet reads so Catalyst gets
pushdown + pruning for free. No schema inference games — parquet
footers carry the schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Widen a NARROW file scan to the session's core count (r6).

    The driver's testdata tables are single parquet files with ONE row
    group, so the scan is a single task no matter what
    ``maxPartitionBytes`` / ``minPartitionNum`` say (splits align to
    row groups — a 1-row-group file yields one non-empty task). Every
    operator that explodes such a scan (shingles, token streams,
    vector×codeword fans) was doing ALL of its per-row work on 1-2 of
    the 32 cores: the sf1.0 bench measured minhash's 8×md5 aggregate at
    18.5 s on the raw scan vs ~1 s spread (guide §2.5 "input skew —
    repartition immediately after the read").

    Scale-adaptive, not a local[32] constant: when the scan already has
    at least ``defaultParallelism`` partitions (any real multi-file /
    multi-row-group table, e.g. 100 TB of corpus) this is a NO-OP — no
    exchange is inserted. The repartition hashes the table's unique
    key, so the spread is even and there is no round-robin
    sort-before-repartition cost; identical exchange subtrees inside
    one plan are computed once (ReuseExchange).
    """
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p, F.col(key))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; known: {TESTDATA_TABLES}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

