"""Local replica of the driver's correctness gate: run every declared
query on Spark and its oracle on DuckDB at sf0.01, compare row count,
schema (column names), and an order-insensitive value hash.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

# the checkout this script lives in, so a second checkout imports its own library
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    return str(v)


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from vicinity_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    # co-residency hardening (r11): DuckDB shares the process (and the
    # host) with a 24g Spark JVM + its Arrow python workers. DuckDB's
    # default memory limit is 80% of RAM, so under transient host
    # pressure its allocator hits raw malloc failures ("Failed to
    # allocate block of 4096 bytes") on oracles that pass in isolation
    # — the source of rare spurious duckdb-error FAILs (observed twice,
    # 6 rows one run / 1 row another, all OOM, all green isolated).
    # Bound the limit well below the contended zone and give it a spill
    # directory so heavy oracles degrade to disk instead of failing.
    con.execute("SET memory_limit='12GB'")
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            # one retry: the only duckdb failures ever observed here are
            # transient allocator OOMs under host memory pressure
            try:
                time.sleep(2)
                cur = con.execute(oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
            except Exception as e2:
                failures.append(name)
                # report BOTH attempts — a retry that dies differently
                # (e.g. a real binder error surfacing after an OOM)
                # must not be masked by the first exception
                print(
                    f"FAIL  {name}: duckdb error: {type(e).__name__}: {e}"
                    + (
                        f" | retry: {type(e2).__name__}: {e2}"
                        if f"{type(e2).__name__}: {e2}" != f"{type(e).__name__}: {e}"
                        else " (retry: same)"
                    )
                )
                continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            sh = value_hash([tuple(r) for r in srows], scols)
            oh = value_hash(orows, ocols)
            if sh != oh:
                problems.append("value-hash mismatch")
                # show a sample diff
                sset = {tuple(canon(v) for v in r) for r in srows}
                oset = {tuple(canon(v) for v in r) for r in orows}
                for x in list(sset - oset)[:3]:
                    print(f"        spark-only: {x}")
                for x in list(oset - sset)[:3]:
                    print(f"        duck-only:  {x}")
        dt = time.time() - t0
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}  [{dt:.1f}s]")
        else:
            print(f"OK    {name}: {len(srows)} rows  [{dt:.1f}s]")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
