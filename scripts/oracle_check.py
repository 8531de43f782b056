"""Rehearse the driver's correctness gate: run every queries() entry on
Spark at sf0.01 and the matching oracle_sql() on DuckDB; compare row count,
column names, and order-insensitive values (rounded doubles). Each OK line
carries a digest of the sorted normalized rows, so two checkouts can be
compared result for result.

Run: python scripts/oracle_check.py [names...]"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from titanlib_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    out = []
    for r in rows:
        vals = []
        for c in sorted(cols):
            v = r[c] if isinstance(r, dict) else r[cols.index(c)]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main(only=None):
    spark = get_spark("oracle_check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [r.asDict() for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows, cols={scols} "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            s_n = normalize(srows, scols)
            d_n = normalize(
                [dict(zip(dcols, r)) for r in drows], dcols
            )
            if s_n != d_n:
                diff = [(a, b) for a, b in zip(s_n, d_n) if a != b]
                print(f"FAIL {name}: value mismatch ({len(diff)} rows); first 3:")
                for a, b in diff[:3]:
                    print(f"  spark: {a}\n  duck : {b}")
                ok = False
        if ok:
            digest = hashlib.sha256("\n".join(s_n).encode()).hexdigest()[:12]
            print(f"OK   {name}: {len(srows)} rows {digest} ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print("\n== SUMMARY ==")
    print("failures:", failures or "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(set(sys.argv[1:]) or None))
