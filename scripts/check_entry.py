"""Driver-protocol simulation: run every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet, compare row count + column
names + order-insensitive value hash — the same gate CORRECTNESS_r{N}.json
records. Run: python scripts/check_entry.py [sf_dir]
"""

from __future__ import annotations

import decimal
import os
import hashlib
import sys
import time

sys.path.insert(0, "/root/repo")

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None


def norm_cell(v):
    # Type-tagged so int 1 and float 1.0 hash DIFFERENTLY — the driver's
    # value hash distinguishes them (q28 round-1 lesson: a %.9g reformat
    # here let the local gate pass what the driver failed).
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if v != v:
            return "f:NaN"
        return f"f:{v!r}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, decimal.Decimal):
        # DuckDB DECIMAL vs Spark double is a real driver mismatch risk —
        # surface it as its own tag so the query author adds a ::DOUBLE cast.
        return f"d:{v}"
    return str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    spark = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in entrymod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    # smoke: entry()
    t0 = time.time()
    edf = entrymod.entry(spark)
    erows = edf.collect()
    print(f"entry(): {len(erows)} rows, schema={edf.columns}, "
          f"{time.time()-t0:.1f}s  [{'OK' if len(erows) >= 0 else 'FAIL'}]")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:200]}")
            n_fail += 1
            continue
        el_spark = time.time() - t0
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows cols={scols} "
                  f"({el_spark:.1f}s)")
            n_rowsonly += 1
            continue
        t0 = time.time()
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:200]}")
            n_fail += 1
            continue
        el_duck = time.time() - t0
        ok_rows = len(srows) == len(drows)
        ok_cols = sorted(scols) == sorted(dcols)
        sh = value_hash(srows, scols)
        dh = value_hash(drows, dcols)
        ok_hash = sh == dh
        status = "PASS" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "PASS":
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status} {name}: rows {len(srows)}/{len(drows)} "
              f"cols={'OK' if ok_cols else f'{scols} vs {dcols}'} "
              f"hash={'OK' if ok_hash else 'MISMATCH'} "
              f"(spark {el_spark:.1f}s, duck {el_duck:.1f}s)")
        if not ok_hash and ok_rows and ok_cols:
            # show a sample diff for debugging
            ss = sorted(srows)[:3]
            ds = sorted(drows)[:3]
            print(f"   spark sample: {ss}")
            print(f"   duck  sample: {ds}")
    print(f"\nSUMMARY: {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
