"""Strict (bit-exact) cross-engine diff for oracle-twinned queries.

Unlike verify_local.py (10-sig-digit float tolerance), this compares
full-precision ``repr`` values AFTER converting both sides to pandas —
the level at which the driver's value-hash operates. The pandas hop
matters: DuckDB HUGEINT (the result type of SUM over any integer)
converts to float64 in pandas, so ``SUM(int)`` twins must be cast to
BIGINT in the oracle SQL or the value strings drift (12345 vs 12345.0).

Usage: python tools/debug_hash.py [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys

# run as a script from any checkout: import that checkout's package
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from tools.verify_local import TABLES  # noqa: E402


def normalize(rows, cols):
    import datetime

    import pandas as pd

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
                # driver r01 matched date cols across engines; canonicalize
                vals.append(pd.Timestamp(v).isoformat())
            elif v is None or (isinstance(v, float) and v != v):
                vals.append("<null>")
            else:
                vals.append(repr(v))
        out.append("|".join(vals))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from facturas_spark.session import get_spark

    spark = get_spark("debug-hash", cores=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        sdf = fn(spark, sf_dir)
        spd = sdf.toPandas()
        scols = list(spd.columns)
        srows = [tuple(r) for r in spd.itertuples(index=False, name=None)]
        opd = con.execute(oracles[name]).df()
        ocols = list(opd.columns)
        orows = [tuple(r) for r in opd.itertuples(index=False, name=None)]
        sn = normalize(srows, scols)
        on = normalize(orows, ocols)
        if sn == on:
            print(f"EXACT {name} ({len(srows)} rows)")
            continue
        n_fail += 1
        diffs = [(a, b) for a, b in zip(sn, on) if a != b]
        print(f"DIFF  {name}: {len(diffs)} differing rows (of {len(sn)})")
        print(f"      cols sorted: {sorted(scols)}")
        for a, b in diffs[:5]:
            print(f"      spark: {a}")
            print(f"      duck : {b}")
    print(f"\n{n_fail} strict failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
