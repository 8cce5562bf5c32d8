"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB, compare row count, schema
arity, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beavers_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows: list[dict]) -> list[tuple]:
    out = []
    for r in rows:
        key = tuple(sorted(r.keys()))
        vals = []
        for k in key:
            v = r[k]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    # a typo'd filter name would otherwise match nothing and exit 0
    # with "0/0 pass" — a check that validated nothing reported green
    unknown = only - set(qs)
    if unknown:
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 1
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        try:
            sdf = fn(spark, sf_dir)
            spark_rows = [r.asDict() for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(spark_rows)} rows)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table()
            duck_rows = ddf.to_pylist()
        except Exception as ex:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        sn, dn = normalize(spark_rows), normalize(duck_rows)
        if len(sn) != len(dn):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sn)} duck={len(dn)}")
        elif sn != dn:
            failures.append(name)
            diff = [i for i, (a, b) in enumerate(zip(sn, dn)) if a != b][:3]
            print(f"FAIL {name}: value mismatch at sorted rows {diff}")
            for i in diff[:2]:
                print(f"  spark: {sn[i]}\n  duck : {dn[i]}")
        else:
            print(f"ok   {name}: {len(sn)} rows hash-match")
    print(f"\n{checked - len(failures)}/{checked} pass"
          + ("" if not only else f" (of {len(qs)} registered)"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
