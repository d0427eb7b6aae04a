"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() on the same sf dir, compare row-count, column
names, and order-insensitive values. Usage:

    python tools/check_oracles.py [sf_dir] [only_query_name ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    return str(v)


def norm_rows(cols, rows):
    return sorted(tuple(norm_cell(v) for v in r) for r in rows)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from tera_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs = e.queries()
    os_ = e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf)
            spark_cols = [c.lower() for c in sdf.columns]
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"✗ {name}: spark error: {str(ex)[:300]}")
            continue
        if name not in os_:
            print(f"~ {name}: rows-only ({len(spark_rows)} rows)")
            if len(spark_rows) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        try:
            res = con.execute(os_[name])
            duck_cols = [d[0].lower() for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"✗ {name}: duckdb error: {str(ex)[:300]}")
            continue
        if spark_cols != duck_cols:
            failures.append((name, f"cols {spark_cols} vs {duck_cols}"))
            print(f"✗ {name}: column mismatch {spark_cols} vs {duck_cols}")
            continue
        a, b = norm_rows(spark_cols, spark_rows), norm_rows(duck_cols, duck_rows)
        if len(a) != len(b):
            failures.append((name, f"rowcount {len(a)} vs {len(b)}"))
            print(f"✗ {name}: rowcount {len(a)} vs {len(b)}")
            sa, sb = set(a), set(b)
            print("  spark-only:", list(sa - sb)[:3])
            print("  duck-only:", list(sb - sa)[:3])
        elif a != b:
            sa, sb = set(a), set(b)
            failures.append((name, f"values differ ({len(sa - sb)} spark-only)"))
            print(f"✗ {name}: value mismatch")
            print("  spark-only:", list(sa - sb)[:3])
            print("  duck-only:", list(sb - sa)[:3])
        else:
            print(f"✓ {name}: {len(a)} rows")
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for n, msg in failures:
            print(f"  {n}: {msg[:200]}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
