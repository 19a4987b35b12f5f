"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same sf parquet, and compares
row count, column names, and order-insensitive value content.

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys

# run as a script from any checkout: import that checkout's package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    """Order-insensitive canonical form: sort columns by name, stringify
    values with float tolerance-awareness (repr to 10 sig digits)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v:.10g}")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from facturas_spark.session import get_spark

    spark = get_spark("verify-local", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

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
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only check: {len(srows)} rows)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"schema: spark={sorted(scols)} duck={sorted(ocols)}"))
            print(f"FAIL {name}: schema mismatch {sorted(scols)} vs {sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rowcount: spark={len(srows)} duck={len(orows)}"))
            print(f"FAIL {name}: rowcount {len(srows)} vs {len(orows)}")
            continue
        sn = normalize(srows, scols)
        on = normalize(orows, ocols)
        if sn != on:
            diff = [(a, b) for a, b in zip(sn, on) if a != b][:3]
            failures.append((name, f"values differ, first diffs: {diff}"))
            print(f"FAIL {name}: value mismatch; first diffs: {diff}")
        else:
            print(f"OK   {name} ({len(srows)} rows)")

    print(f"\n{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
