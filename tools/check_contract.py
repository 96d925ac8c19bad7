"""Driver-style correctness check: run every __spark_entry__ query and
compare to its DuckDB oracle (row count, column set, and the value
multiset of ``__spark_entry__.rows_multiset``).  Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from de_spark.session import get_spark

# the only table the kg_* oracles read
TABLES = ["documents"]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("contract_check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        dt = time.monotonic() - t0
        try:
            cur = con.execute(oracles[name])
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_count = len(s_rows) == len(d_rows)
        ok_schema = sorted(s_cols) == sorted(d_cols)
        sm = entrymod.rows_multiset(s_cols, s_rows)
        dm = entrymod.rows_multiset(d_cols, d_rows)
        ok_vals = sm == dm
        if ok_count and ok_schema and ok_vals:
            print(f"OK    {name}: {len(s_rows)} rows ({dt:.1f}s)")
        else:
            failures += 1
            print(
                f"FAIL  {name}: count={len(s_rows)}/{len(d_rows)} "
                f"schema={s_cols}/{d_cols} vals_match={ok_vals}"
            )
            for i, (a, b) in enumerate(zip(sm, dm)):
                if a != b:
                    print(f"      first diff row {i}:\n        spark={a}\n        duck ={b}")
                    break
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
