"""Local mirror of the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet fixtures, then
compares row count, column names, and an order-insensitive value multiset.

Usage: python scripts/check_correctness.py [sf_dir] [name ...]

Checks the checkout this script sits in, so two checkouts can be
compared side by side; the root also goes on ``PYTHONPATH`` for Spark's
Python workers.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402

from tfx_addons_feast_examplegen_spark.queries import oracle_sql, queries  # noqa: E402
from tfx_addons_feast_examplegen_spark.session import TABLES, get_spark  # noqa: E402


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = queries()
    oracles = oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"  {name:28s} rows={len(srows):7d}  (rows-only, {spark_s:.1f}s)")
            continue
        res = con.sql(oracles[name])
        ocols = res.columns
        orows = [tuple(r) for r in res.fetchall()]
        ok = True
        if len(srows) != len(orows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            ok = False
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
        if ok:
            sm = _rows_multiset(scols, srows)
            om = _rows_multiset(ocols, orows)
            if sm != om:
                ok = False
                diffs = [(a, b) for a, b in zip(sm, om) if a != b][:3]
                print(f"FAIL {name}: value mismatch, first diffs: {diffs}")
        status = "ok" if ok else "FAIL"
        print(f"  {name:28s} rows={len(srows):7d}  {status}  ({spark_s:.1f}s)")
        if not ok:
            failures.append(name)
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
