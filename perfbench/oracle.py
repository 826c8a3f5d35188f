"""DuckDB output check for declared queries.

The expected result of a query is its ``SparkEntry.oracleSql`` twin run by
DuckDB over the same parquet tables. Results are compared as a row count
and an order-insensitive hash of the canonical form below, which is the
repository's ``tools/check.py`` canonicalisation, copied unchanged.
"""
import hashlib
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


# --- copied from tools/check.py ---------------------------------------
def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for tup in df.itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                if math.isnan(v):
                    row.append("nan")
                else:
                    row.append(repr(v))
            elif v is None:
                row.append("NULL")
            else:
                row.append(str(v))
        rows.append(tuple(row))
    return cols, sorted(rows)
# ----------------------------------------------------------------------


def digest(df):
    cols, rows = canon(df)
    return {"rows": len(rows),
            "hash": hashlib.sha256(repr((cols, rows)).encode()).hexdigest()}


def _connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def expected(data_dir, sql_by_name):
    """{name: {"rows", "hash"}} of each oracle query over ``data_dir``."""
    con = _connect(data_dir)
    return {name: digest(con.sql(sql).df())
            for name, sql in sorted(sql_by_name.items())}


def actual(out_dir, names):
    """Digest of the engine's parquet output ``out_dir/<name>/``."""
    con = duckdb.connect()
    got = {}
    for name in names:
        try:
            got[name] = digest(con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        except Exception as e:   # no output files: the query wrote nothing
            got[name] = {"error": str(e).splitlines()[0]}
    return got
