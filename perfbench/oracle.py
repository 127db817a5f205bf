"""DuckDB oracle for the query_mix workload.

Each query's oracle SQL (exported from the engine's query registry) runs
in DuckDB over the same generated parquet tables; the results are the
expected answers. A run's untimed check pass writes each Spark result as
parquet, and ``compare`` matches them the way the engine's own oracle
gate does: columns sorted by name, rows sorted by value, numbers equal
within 1e-9.
"""
import os

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def expected(sqls, tables, out):
    """Write each query's oracle answer to ``out/<query>.parquet``."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    for name, sql in sqls.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(got, want):
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False,
                                      atol=1e-9, rtol=0)
        return True
    except AssertionError:
        return False


def compare(check, exp):
    """{query: answer matches} for every expected query."""
    con = duckdb.connect()
    res = {}
    for f in sorted(os.listdir(exp)):
        if not f.endswith(".parquet"):
            continue
        name = f[:-len(".parquet")]
        try:
            got = _canon(con.sql(f"SELECT * FROM '{check}/{name}/*.parquet'").df())
            want = _canon(con.sql(f"SELECT * FROM '{exp}/{f}'").df())
            res[name] = _same(got, want)
        except (duckdb.Error, OSError, ValueError, TypeError):
            res[name] = False
    con.close()
    return res


def alter_one_row(result_dir):
    """Rewrite a Spark result with one value of one row changed (self-test)."""
    con = duckdb.connect()
    df = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
    col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
    df.loc[0, col] = df.loc[0, col] + 1
    for f in os.listdir(result_dir):
        os.remove(os.path.join(result_dir, f))
    con.register("altered", df)
    con.execute(f"COPY altered TO '{result_dir}/part-0.parquet' (FORMAT PARQUET)")
    con.close()
