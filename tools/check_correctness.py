"""Local mimic of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir; compare row count,
column names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values canonicalized)."""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    from __spark_entry__ import oracle_sql, queries
    from scrubah_pii_spark.session import build_session

    spark = build_session(app_name="check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    qs = queries()
    oracles = oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(srows)} rows, cols={scols} "
                  f"({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            failures.append(name)
            continue
        ok_count = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        sh = table_hash(scols, srows)
        oh = table_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK   " if (ok_count and ok_cols and ok_hash) else "FAIL "
        print(
            f"{status} {name}: rows {len(srows)}/{len(orows)} "
            f"cols={'=' if ok_cols else f'{scols} vs {ocols}'} "
            f"hash {'=' if ok_hash else f'{sh} vs {oh}'} ({time.time()-t0:.1f}s)"
        )
        if status.startswith("FAIL"):
            failures.append(name)
            # print first diff row for debugging
            if ok_cols and ok_count:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = sorted("|".join(canon(r[i]) for i in order) for r in srows)
                oset = sorted("|".join(canon(r[i]) for i in order) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        print(f"   spark : {a[:240]}")
                        print(f"   oracle: {b[:240]}")
                        break
    print("FAILURES:", failures if failures else "none")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
