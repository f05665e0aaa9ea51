"""Local mimic of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at the given SF
and the matching ``oracle_sql()`` in DuckDB over the same parquet, then
compares row count, column-name set, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from crawler_spark.session import get_spark

    spark = get_spark(app_name="verify-entry", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failed = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        if sorted(s_cols) != sorted(d_cols):
            print(f"FAIL  {name}: cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
            failed.append(name)
            continue
        if len(s_rows) != len(d_rows):
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            failed.append(name)
            continue
        a, b = _rowset(s_cols, s_rows), _rowset(d_cols, d_rows)
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: values differ, first diffs: {diffs}")
            failed.append(name)
            continue
        print(f"ok    {name}: {len(s_rows)} rows match ({time.time()-t0:.1f}s)")

    print(f"\n{checked - len(failed)}/{checked} ok")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
