"""Strict dtype audit of every registered oracle vs its Spark schema.

The driver's value hash is type-sensitive in ways the normalizing
multiset compare in check_queries.py is not: DuckDB silently widening
an aggregate (``sum(BIGINT) -> HUGEINT`` — the round-1 sessionize and
round-2 fulltext reds) or reading a parquet column narrower than the
Spark plan emits (INTEGER vs bigint) passes locally and fails the
gate.  This audit compares the DuckDB relation's column types against
the Spark DataFrame schema for every registry() entry, so a query is
clean before any rotation puts it in the gate window, and fails on
any column whose engine types are not equivalent.

Usage:  python tools/dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from ferenda_spark.session import get_spark  # noqa: E402
from ferenda_spark.sources.testdata import TABLES  # noqa: E402

#: spark simpleString -> DuckDB type names the driver hashes identically
EQUIV = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER", "BIGINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT", "DOUBLE"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
}


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="dtype-audit", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    bad = []
    reg = entry_mod.registry()
    for name, (fn, sql) in reg.items():
        sdf = fn(spark, sf)
        stypes = {f.name: f.dataType.simpleString()
                  for f in sdf.schema.fields}
        rel = con.sql(sql)
        dtypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
        if sorted(stypes) != sorted(dtypes):
            bad.append((name, "column sets differ",
                        sorted(stypes), sorted(dtypes)))
            continue
        for c, st in stypes.items():
            if dtypes[c] not in EQUIV.get(st, {st.upper()}):
                bad.append((name, c, st, dtypes[c]))

    print(f"AUDITED {len(reg)} registered queries")
    for b in bad:
        print("MISMATCH", *b)
    print("CLEAN" if not bad else f"{len(bad)} mismatches")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
