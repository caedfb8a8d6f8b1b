"""Local mimic of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()``
twin on DuckDB at the same sf, compare row count + order-insensitive
values (columns sorted by name, like the driver). Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from sparkjesse.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return repr(round(float(v), 9))
    except ImportError:
        pass
    return str(v)


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"FAIL {name}: spark error: {str(exc)[:300]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"SKIP {name}: no oracle ({len(srows)} spark rows)")
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as exc:
            failures.append((name, f"DUCKDB ERROR: {exc}"))
            print(f"FAIL {name}: duckdb error: {str(exc)[:300]}")
            continue
        if sorted(scols) != sorted(dcols):
            failures.append((name, f"cols {sorted(scols)} vs {sorted(dcols)}"))
            print(f"FAIL {name}: column names {sorted(scols)} "
                  f"vs {sorted(dcols)}")
            continue
        cs, cd = canon(srows, scols), canon(drows, dcols)
        if len(cs) != len(cd):
            failures.append((name, f"rowcount {len(cs)} vs {len(cd)}"))
            print(f"FAIL {name}: rowcount spark={len(cs)} duck={len(cd)}")
            continue
        if cs != cd:
            bad = next(i for i, (a, b) in enumerate(zip(cs, cd)) if a != b)
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: value mismatch at sorted row {bad}:\n"
                  f"  spark={cs[bad]}\n  duck ={cd[bad]}")
            continue
        print(f"OK   {name}: {len(cs)} rows match")
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
