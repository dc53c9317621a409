"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema
shape, and an order-insensitive value hash. Strictest plausible compare:
values are canonicalized (floats via repr of float64, timestamps to ISO,
NULL to a sentinel), columns sorted by name, rows sorted, sha256 hashed.

Both sides are fetched THROUGH ARROW (``DataFrame.toArrow()`` /
``duckdb .arrow()``) so engine-level typing divergences surface exactly
as they do at the real driver gate: a DuckDB HUGEINT arrives as
arrow decimal128(38,0) -> Python Decimal, which canonicalizes
differently from Spark's int64 -> int. (Round-1 lesson: the old
``fetchall()`` path collapsed HUGEINT to int and hid 4 gate failures.)

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb


def canon(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, Decimal):
        # Deliberately distinct from int/float canon: the driver hashes
        # arrow-typed values, where decimal128 != int64 even when equal.
        return "dec:" + str(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat() + "T00:00:00"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from quantum_rag_data_pipeline_spark.session import get_spark

    if os.environ.get("ORACLE_CHECK_PLAIN_SESSION") == "1":
        # simulate the DRIVER's gate session: no engine configs, Spark 4
        # defaults (ANSI on, no adaptive tweaks, default timezone) — catches
        # ANSI overflow/cast errors and conf-dependent behavior our tuned
        # session would mask. events nanos handling must still work because
        # sources/registry.py sets that conf at runtime.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "16g")
            .getOrCreate()
        )
    else:
        spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # queries may cache() internal frames (round-5: single-shot reuse
        # is cache, not localCheckpoint); drop them so entries never
        # accumulate across a 327-query sweep (round-1 lesson: resident
        # blocks degraded later queries 2-4x)
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stab = sdf.toArrow()
            srows = [tuple(d[c] for c in scols) for d in stab.to_pylist()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {dt:.1f}s) [no oracle]")
            continue
        try:
            dtab = con.execute(oracles[name]).arrow()
            dcols = list(dtab.schema.names)
            drows = [tuple(d[c] for c in dcols) for d in dtab.to_pylist()]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            problems.append(f"schema spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sh, dh = table_hash(scols, srows), table_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                sset = sorted("\x01".join(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)
                dset = sorted("\x01".join(canon(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i])) for r in drows)
                diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
                for a, b in diff:
                    print(f"      spark : {a[:220]}")
                    print(f"      duckdb: {b[:220]}")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
        else:
            print(f"PASS  {name} ({len(srows)} rows, {dt:.1f}s)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
