"""The contract (``__spark_entry__``): every row against its DuckDB
oracle at sf0.001, compared the way ``tools/check_contract.py`` does."""

import duckdb

import __spark_entry__ as contract

SF_DIR = "/root/testdata/sf0.001"


def test_kg_rows_match_their_oracles(spark):
    qs, oracles = contract.queries(), contract.oracle_sql()
    assert qs.keys() == oracles.keys()
    assert all(name.startswith("kg_") for name in qs)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    mismatched = {}
    for name, fn in qs.items():
        sdf = fn(spark, SF_DIR)
        s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
        cur = con.execute(oracles[name])
        d_cols, d_rows = [c[0] for c in cur.description], cur.fetchall()
        if len(s_rows) != len(d_rows):
            mismatched[name] = f"{len(s_rows)} rows, oracle {len(d_rows)}"
        elif sorted(s_cols) != sorted(d_cols):
            mismatched[name] = f"columns {s_cols}, oracle {d_cols}"
        elif contract.rows_multiset(s_cols, s_rows) != contract.rows_multiset(d_cols, d_rows):
            mismatched[name] = "values differ"
    assert mismatched == {}
