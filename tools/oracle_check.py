"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every __spark_entry__ query at the given SF, runs the matching oracle
SQL in DuckDB over the same parquet, and compares row count, column names,
and order-insensitive values (NaN≡NULL, -0.0≡0.0, floats EXACT).

Floats are compared at full precision by default, because that is what the
driver's value-hash sees: round 3's `corpus_report` passed this tool while
it still re-rounded both sides to 6 dp in Python, then FAILED the driver's
hash on a last-ulp difference. Local green must predict driver green, so
the re-rounding comparator is now opt-in (ORACLE_CHECK_LOOSE=1) for
debugging only — a query that needs it to pass is NOT done.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
The Spark session is sized to this host unless SPARK_GRAFT_CPUS /
SPARK_DRIVER_MEMORY say otherwise: the cores this process may run on,
and a driver heap of at most a quarter of physical memory (so two
sweeps side by side fit in memory).
Set ORACLE_CHECK_TIME=1 to append per-query spark/oracle wall times —
the numbers that decide which oracles need cheapening for the driver's
per-round budget (round 3 found one 700 s oracle this way).
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duckdb_connect_views(sf_dir: str):
    """DuckDB connection with every driver table registered as a view —
    the shared bootstrap for this tool, type_audit, and dtype_audit
    (one table list to maintain)."""
    con = duckdb.connect()
    # keep DuckDB spill out of the repo cwd (defaults to ./.tmp), bounded
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET max_temp_directory_size='20GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


LOOSE = os.environ.get("ORACLE_CHECK_LOOSE") == "1"


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if LOOSE:
            return round(v, 6)
        return v + 0.0  # exact compare; normalize -0.0 only
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


# DuckDB output types whose pandas conversion is VERSION-DEPENDENT:
# 1.0.0 renders HUGEINT (sum(BIGINT)) as float64; newer versions changed
# the conversion, and DECIMAL literals (0.25, 1.0) propagate DECIMAL
# through arithmetic. Every one of the 7 CORRECTNESS_r04 driver
# hash-FAILs had exactly such a column while passing this tool's numeric
# compare — so an unstable output type is a FAILURE here, not a warning.
# Fix: CAST the oracle's output column to BIGINT/DOUBLE to match Spark.
UNSTABLE_DUCKDB_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def value_hash(cols, rows):
    """Order-insensitive canonical hash over normalized rows.

    Unlike the numeric compare above, the serialization DISTINGUISHES
    int from float (and None from 0) — the same distinction the
    driver's value-hash makes — so a local hash diff between the Spark
    and oracle sides is diagnosable from the sweep output alone.
    """
    import hashlib

    h = hashlib.sha256()
    for row in norm_rows(cols, rows):
        for v in row:
            if v is None:
                h.update(b"\x00N")
            elif isinstance(v, bool):
                h.update(b"\x00B" + (b"1" if v else b"0"))
            elif isinstance(v, int):
                h.update(b"\x00I" + str(v).encode())
            elif isinstance(v, float):
                h.update(b"\x00F" + repr(v).encode())
            else:
                h.update(b"\x00S" + str(v).encode())
        h.update(b"\x01")
    return h.hexdigest()[:16]


def size_session_to_host() -> None:
    """Default SPARK_GRAFT_CPUS to the usable cores and cap
    SPARK_DRIVER_MEMORY at a quarter of physical memory (never above the
    session's 16g default); an explicit setting of either wins."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{min(phys_mb // 4, 16 * 1024)}m")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    size_session_to_host()
    import __spark_entry__ as entry_mod
    from alphalens_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb_connect_views(sf_dir)

    import time

    timing = os.environ.get("ORACLE_CHECK_TIME") == "1"
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        t1 = time.time()
        if name not in oracles:
            print(f"{name:35s} rows-only: {len(srows)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"{name:35s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        t2 = time.time()
        problems = []
        unstable = [
            f"{c}:{t}" for c, t in zip(ocols, otypes)
            if any(t.startswith(u) for u in UNSTABLE_DUCKDB_TYPES)
        ]
        if unstable:
            problems.append(
                "version-unstable oracle output type(s) "
                f"{', '.join(unstable)} — CAST to BIGINT/DOUBLE"
            )
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            a = norm_rows(scols, srows)
            b = norm_rows(ocols, orows)
            if a != b:
                n_bad = sum(1 for x, y in zip(a, b) if x != y)
                problems.append(f"values differ in {n_bad}/{len(a)} rows")
                for x, y in list(zip(a, b))[:2000]:
                    if x != y:
                        problems.append(f"  spark : {x}")
                        problems.append(f"  oracle: {y}")
                        break
        if problems:
            print(f"{name:35s} FAIL  " + "; ".join(problems[:3]))
            failures.append(name)
        else:
            hs, ho = value_hash(scols, srows), value_hash(ocols, orows)
            hx = f" hash={hs}" if hs == ho else f" HASH-DIFF spark={hs} oracle={ho}"
            if hs != ho:
                failures.append(name)
            extra = f"  spark={t1-t0:5.2f}s oracle={t2-t1:5.2f}s" if timing else ""
            tag = "OK  " if hs == ho else "FAIL"
            print(f"{name:35s} {tag}  ({len(srows)} rows){hx}{extra}")
    print()
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
