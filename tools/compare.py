"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, column-name set, and an order-insensitive
value multiset (columns sorted by name, rows sorted, values
normalized). Usage:

    python tools/compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webcrawlergo_spark.schemas import TESTDATA_TABLES  # noqa: E402
from webcrawlergo_spark.session import get_spark  # noqa: E402


def _norm(v):
    """Normalize to a homogeneous sortable representation (nulls and
    mixed types must not break the row sort)."""
    if v is None:
        return ("\x00null", "")
    if isinstance(v, datetime.datetime):
        # tz-exact: a tz-aware oracle timestamp must NOT silently match a
        # naive Spark one (the driver's hash is type-exact — r1 lesson)
        return ("ts", v.isoformat(sep=" ", timespec="microseconds"))
    if isinstance(v, bool):
        return ("bool", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "NaN")
        return ("float", repr(round(v + 0.0, 9)))
    if isinstance(v, decimal.Decimal):
        # DuckDB HUGEINT/DECIMAL arrive as Decimal; Spark longs as int.
        # Distinct tags ⇒ a HUGEINT oracle vs BIGINT Spark column FAILS
        # here (the driver is type-exact; round-1 false-passes came from
        # coercing these together).
        return ("decimal", str(v))
    if isinstance(v, (list, tuple)):
        return ("list", str([_norm(x) for x in v]))
    return (type(v).__name__, str(v))


def _arrow_type(t, side: str = "duck") -> str:
    """Normalize an Arrow type to a driver-equivalence class (the
    driver hashes collected Python/pandas values, so the classes are
    value-coercion classes, not raw Arrow types)."""
    import pyarrow as pa

    if pa.types.is_timestamp(t):
        # Spark .collect() renders ANY Spark timestamp as a naive
        # datetime (session-tz applied); DuckDB keeps TIMESTAMPTZ
        # aware — that asymmetry was the r1 events_tumbling_agg FAIL.
        if side == "spark" or t.tz is None:
            return "timestamp"
        return "timestamp+tz"
    if pa.types.is_integer(t):
        # widths coerce to identical pandas values (int32(5) == int64(5));
        # the driver's value-hash treats them equal — r1 evidence: int32
        # Spark vs BIGINT DuckDB columns PASSED. Decimal128 (HUGEINT) and
        # float do NOT coerce cleanly and stay distinct classes.
        return "int"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_type(t.value_type, side)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(f"{f.name}:{_arrow_type(f.type, side)}" for f in t) + ">"
    return str(t)


def _dtype_mismatches(sdf, duck_res) -> list[str]:
    """Type-exact schema check via Arrow (the driver's hash is
    type-sensitive: int32 vs int64, timestamp vs timestamptz, BIGINT vs
    HUGEINT all FAIL there even when values are equal)."""
    stab = sdf.limit(64).toArrow()
    dtab = duck_res.arrow()
    stypes = {f.name: _arrow_type(f.type, "spark") for f in stab.schema}
    dtypes = {f.name: _arrow_type(f.type, "duck") for f in dtab.schema}
    out = []
    for name in sorted(set(stypes) & set(dtypes)):
        if stypes[name] != dtypes[name]:
            out.append(f"{name}: spark={stypes[name]} duck={dtypes[name]}")
    return out


def run_compare(sf_dir: str, only: list[str] | None = None) -> int:
    import __spark_entry__ as entrymod

    spark = get_spark("compare-harness")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = dict(entrymod.queries())
    # retired-from-driver queries stay locally verified
    if hasattr(entrymod, "retired_queries"):
        qs.update(entrymod.retired_queries())
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only check, {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: schema spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        else:
            bad = _dtype_mismatches(sdf, con.sql(oracles[name]))
            if bad:
                print(f"FAIL {name}: dtype mismatch: {'; '.join(bad)}")
                ok = False
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        if ok:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
            sset = sorted(tuple(_norm(r[i]) for i in order) for r in srows)
            dset = sorted(tuple(_norm(r[i]) for i in dorder) for r in drows)
            if sset != dset:
                diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows")
        else:
            failures += 1
    spark.stop()
    return failures


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:] or None
    raise SystemExit(run_compare(sf_dir, only))
