"""Local mirror of the driver's DuckDB-oracle correctness check.

Runs every __spark_entry__.queries() entry at sf0.01 and compares with the
matching oracle_sql() through DuckDB: row count, column names, and an
order-insensitive value comparison (sorted rows, stringified with float
rounding).  Exits non-zero on any mismatch.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = os.environ.get("QF_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main() -> int:
    import __spark_entry__ as E
    from quality_filter.session import get_spark

    spark = get_spark(app_name="qf-correctness")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = E.queries()
    oracles = E.oracle_sql()
    only = sys.argv[1:] or list(qs)
    failures = []
    for name in only:
        fn = qs[name]
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows")
            if len(srows) == 0 and name not in ():
                failures.append((name, "0 rows (rows-only)"))
            continue
        try:
            ddf = con.sql(oracles[name])
            dcols = [d[0] for d in ddf.description]
            drows = ddf.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        if not problems:
            a = norm_rows(scols, srows)
            b = norm_rows(dcols, drows)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)[:500]}")
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    spark.stop()
    print(f"\n{len(only) - len(failures)}/{len(only)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
