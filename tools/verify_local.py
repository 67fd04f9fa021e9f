"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf and the matching
``oracle_sql()`` in DuckDB over the same parquet files, then compares
row-count, column names, and order-insensitive values (columns sorted by
name, rows sorted, floats compared exactly after both sides' own rounding).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def register_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from webgraph_ans_rs_spark.session import get_spark

    spark = get_spark("verify-local")
    con = duckdb.connect()
    register_views(con, sf_dir)

    qs = entry_mod.queries()
    sqls = entry_mod.oracle_sql()
    # the driver's sweep records at most 50 rows — fail loudly here
    # before a registered query silently loses its gate (round-4 scc)
    assert len(qs) <= 50, f"{len(qs)} queries registered; driver caps at 50"
    failures = []
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        checked += 1
        sdf = fn(spark, sf_dir)
        scols = sorted(sdf.columns)
        srows = canon([tuple(r) for r in sdf.collect()], sdf.columns)
        if name not in sqls:
            print(f"[rows-only] {name}: {len(srows)} rows, cols={scols}")
            continue
        res = con.execute(sqls[name])
        dcols = [d[0] for d in res.description]
        drows = canon(res.fetchall(), dcols)
        ok_cols = scols == sorted(dcols)
        ok_count = len(srows) == len(drows)
        ok_vals = srows == drows
        status = "OK" if (ok_cols and ok_count and ok_vals) else "FAIL"
        print(f"[{status}] {name}: spark={len(srows)} duck={len(drows)} cols_ok={ok_cols} vals_ok={ok_vals}")
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"    spark cols: {scols}\n    duck  cols: {sorted(dcols)}")
            if ok_cols:
                diff = [(a, b) for a, b in zip(srows, drows) if a != b][:5]
                for a, b in diff:
                    print(f"    spark {a}\n    duck  {b}")
                only_s = set(srows) - set(drows)
                only_d = set(drows) - set(srows)
                for x in list(only_s)[:3]:
                    print(f"    only-spark {x}")
                for x in list(only_d)[:3]:
                    print(f"    only-duck  {x}")
    print(f"COVERAGE: {checked}/{len(qs)} registered queries checked")
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
