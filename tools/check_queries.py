"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.registry() builder on Spark and its oracle
SQL on DuckDB over the same parquet tables, then compares row count,
sorted column names, and an order-insensitive multiset of normalized
rows. Usage:

    python tools/check_queries.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
from collections import Counter

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from ferenda_spark.session import get_spark  # noqa: E402
from ferenda_spark.sources.testdata import TABLES  # noqa: E402


def normalize(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, int):
        return int(v)
    return str(v)


def rows_to_multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return Counter(tuple(normalize(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="check-queries", master="local[8]",
                      shuffle_partitions=8)
    con = oracle_connection(sf_dir)

    failures = compare(spark, con, sf_dir,
                       {n: e for n, e in entry_mod.registry().items()
                        if not only or n in only})

    print("\n==", "ALL OK" if not failures else f"FAILURES: {failures}")
    sys.exit(1 if failures else 0)


def oracle_connection(sf_dir):
    """A DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(spark, con, sf_dir, entries):
    """Run each registry entry's builder on Spark and its oracle SQL on
    DuckDB, print one OK/FAIL line per query and return the names that
    failed."""
    failures = []
    for name, (fn, sql) in entries.items():
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} "
                  f"duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} "
                  f"duck={len(drows)}")
            ok = False
        else:
            sm = rows_to_multiset(srows, scols)
            dm = rows_to_multiset(drows, dcols)
            if sm != dm:
                only_s = list((sm - dm).items())[:5]
                only_d = list((dm - sm).items())[:5]
                print(f"FAIL {name}: value mismatch; "
                      f"spark-only={only_s} duck-only={only_d}")
                ok = False
        if ok:
            print(f"OK   {name}: {len(srows)} rows "
                  f"({time.time() - t0:.1f}s)")
        else:
            failures.append(name)
    return failures


if __name__ == "__main__":
    main()
